package graft

import graft.queries.Query
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: every name lives in exactly one module and
  * carries a non-blank oracle. `SparkEntry` joins the module
  * registries with `++`, which keeps only the last module's entry for
  * a name two modules register — this spec is what catches that. No
  * Spark session needed: registries hold build functions, not plans. */
class RegistrySpec extends AnyFunSuite {

  test("every query name is registered in exactly one module") {
    val names = SparkEntry.registries.flatMap(_.keys)
    val twice = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(twice.isEmpty, s"registered in more than one module: ${twice.mkString(", ")}")
  }

  test("every oracle SQL is non-blank; queries and oracleSql share one key set") {
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("a module registry rejects a name given twice") {
    val q = Query((spark, _) => spark.emptyDataFrame, "SELECT 1")
    val err = intercept[IllegalArgumentException](
      Query.registry("q_a" -> q, "q_b" -> q, "q_a" -> q))
    assert(err.getMessage.contains("q_a"), err.getMessage)
    assert(Query.registry("q_a" -> q, "q_b" -> q).keySet === Set("q_a", "q_b"))
  }
}

package graft.tools

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.util.QueryTrace

/** Where named queries spend their time, layer by layer. In one session,
  * each query runs twice, in the order given: run 1 is cold and pays
  * its memo builds and JIT, run 2 is warm. Each run is timed as Bench
  * times it (`count()` of the query's frame) and prints one JSON line:
  * `{"run":1|2,` then the [[graft.util.QueryTrace.Record]] fields.
  *
  *   tools/run.sh graft.tools.Attribute <sfDir> <query[,query…]>
  *
  * Exits 2 on an unknown query name, 1 if any run failed.
  */
object Attribute {
  /** Runs each named query twice, in order; `emit` gets each run's
    * number and record as it finishes. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String])
         (emit: (Int, QueryTrace.Record) => Unit): Unit =
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach(i => emit(i, QueryTrace.traced(spark, name)(fn(spark, sfDir).count())._2))
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Attribute <sfDir> <query[,query…]>")
    val names = args(1).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[attribute] unknown query: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val spark = SparkEntry.localSession()
    var failed = false
    run(spark, args(0), names) { (i, rec) =>
      failed |= !rec.ok
      val line = JsonNodeFactory.instance.objectNode().put("run", i)
      line.setAll[ObjectNode](rec.json)
      println(line)
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the function that plans it over a data
  * directory, and the DuckDB SQL that recomputes its answer from the
  * same parquet tables (the oracle `tools/check.py` compares with). */
final case class Query(build: (SparkSession, String) => DataFrame, oracle: String)

object Query {
  /** A module's registry from its (name, query) entries. A name given
    * twice fails here, where a plain `Map(...)` would keep the last. */
  def registry(entries: (String, Query)*): Map[String, Query] = {
    val twice = entries.groupBy(_._1).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty, s"query names registered twice: ${twice.mkString(", ")}")
    entries.toMap
  }

  /** The build functions of a registry, by query name. */
  def builds(registry: Map[String, Query]): Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }
}

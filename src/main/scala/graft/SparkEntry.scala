package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query registry is assembled from the domain modules:
  *   - [[graft.queries.Relational]] — reference-parity operators
  *     (SURVEY.md §2: scan/select/filter/orderBy/group/aggregate/join
  *     + union/distinct/limit/topk)
  */
object SparkEntry {
  /** Cores of a local run: `SPARK_GRAFT_CPUS`, or every core the JVM
    * sees when it is unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session every main runs in: `local[cores]` with as many
    * shuffle partitions, UTC session time, no UI. */
  def localSession(cores: Int = cpus, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Flagship query (the reference's own TPC-H Q1 adaptation,
    * client.py:259-331) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q01TpchQ1(spark, "/root/testdata/sf0.001")

  /** Every query module's registry (name → build function + oracle SQL); a
    * name belongs to exactly one module. */
  def registries: Seq[Map[String, graft.queries.Query]] = Seq(
    graft.queries.Relational.registry,
    graft.queries.Analytics.registry,
    graft.queries.Pipeline.registry,
    graft.queries.Temporal.registry,
    graft.queries.Stats.registry,
    graft.queries.Scalars.registry,
    graft.queries.Curation.registry,
    graft.queries.Sampling.registry)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Query.builds(registries.reduce(_ ++ _))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every registered query carries one, so
    * the key sets are equal. */
  def oracleSql: Map[String, String] =
    registries.reduce(_ ++ _).map { case (name, q) => name -> q.oracle }
}

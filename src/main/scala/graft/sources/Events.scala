package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** THE single events.parquet reader — every batch query and the
  * streaming source route through here (round-4 verdict item 1: seven
  * copy-pasted readers with inconsistent guards let one upstream
  * format change break 15 queries).
  *
  * The driver regenerates `events.parquet` between rounds and has
  * already shipped two different physical encodings of `ts`:
  *
  *  - INT64 TIMESTAMP(NANOS) → Spark 4 refuses it unless
  *    `spark.sql.legacy.parquet.nanosAsLong=true`, which surfaces it
  *    as LongType nanos; values are microsecond-clean so integer
  *    `div 1000` → `timestamp_micros` is exact.
  *  - INT64 TIMESTAMP_MICROS, isAdjustedToUTC=0 → TIMESTAMP_NTZ.
  *    The session TZ is pinned UTC everywhere (Verify/Bench/specs),
  *    so `cast(ts as timestamp)` (NTZ→LTZ) is value-identical and
  *    restores the TIMESTAMP_LTZ type the queries' `unix_micros`/
  *    window machinery requires.
  *  - isAdjustedToUTC=1 → TIMESTAMP_LTZ: passthrough.
  *
  * All three converge on the same LTZ instants; a three-encoding
  * round-trip spec (EventsFormatSpec) gates this, and canary query
  * q148 pins the real 2024 date range against the DuckDB oracle so a
  * silent timeline collapse (the round-4 1970-01-20 failure) trips
  * the correctness gate loudly.
  */
object Events {

  /** Normalize a frame's `ts` column to TIMESTAMP_LTZ regardless of
    * which physical encoding the scan produced. Works on batch and
    * streaming frames alike (pure column expressions). */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as raw long
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // micros, isAdjustedToUTC=0
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df // already LTZ
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — extend Events.normalizeTs")
    }

  /** Batch read of `<dir>/events.parquet` with `ts` normalized to
    * TIMESTAMP_LTZ. The nanosAsLong conf is harmless for non-nanos
    * files and required for nanos ones, so it is always set. */
  def ev(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Streaming read of the table `<dir>/<table>.parquet`, its schema
    * probed from the batch footer — never hard-coded (the round-4
    * streaming bug was a hard-coded nanos schema silently misreading
    * micros). Handles BOTH physical layouts: the generated testdata
    * keeps each table as a single FILE next to the other tables (the file
    * source needs a directory, so we list `dir` glob-filtered to that
    * name), while Spark-written stress/fixture data is a
    * `<table>.parquet/` DIRECTORY of part files (glob-filtering by the
    * directory name would match ZERO leaf files — stream the directory
    * itself instead). */
  def readStream(spark: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val schema = spark.read.parquet(path).schema
    if (new java.io.File(path).isDirectory) spark.readStream.schema(schema).parquet(path)
    else spark.readStream.schema(schema).option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Streaming read of the events table, `ts` normalized to LTZ (the
    * nanosAsLong conf as in [[ev]]). */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(readStream(spark, dir, "events"))
  }
}

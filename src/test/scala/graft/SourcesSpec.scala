package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Sources

/** Source/sink specs beyond the CSV golden test: JSONL round-trip and
  * partitioned-parquet partition pruning (the 100 TB layout: partition
  * by a low-cardinality curation key so per-slice queries read only
  * their slice).
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("jsonl round-trip preserves schema and values") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val df = Seq((1L, "hello", 0.5), (2L, "world", 1.5)).toDF("id", "s", "v")
    Sources.writeJsonl(df, dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("v", DoubleType)))
    val back = Sources.jsonl(spark, dir, schema).df
      .orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "hello", 0.5), (2L, "world", 1.5)))
  }

  test("orc round-trip preserves values and pushes filters to the scan") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Sources.writeOrc(docs, dir)
    val back = Sources.orc(spark, dir).df
    assert(back.count() === docs.count())
    val filtered = back.filter(col("doc_id") < 50).select("doc_id", "lang")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)]"),
      s"ORC scan did not push the filter:\n$scan")
    assert(filtered.count() ===
      docs.filter(col("doc_id") < 50).count())
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft_part").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Sources.writeParquet(docs, dir, partitionBy = Seq("lang"))
    val back = spark.read.parquet(dir).filter(col("lang") === "en")
    val plan = back.queryExecution.executedPlan.toString
    // the lang predicate must be a partition filter (pruning whole
    // directories), not a row-level data filter post-scan
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("lang") && pf.contains("en"),
      s"expected lang=en in PartitionFilters, got:\n$plan")
    assert(back.count() === docs.filter(col("lang") === "en").count())
  }

  test("parquet schema evolution: mergeSchema unions snapshots with added columns") {
    val dir = Files.createTempDirectory("graft_evolve").toString
    // day 1 writes (id, a); day 2 adds a column (id, a, b)
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.parquet(s"$dir/day=1")
    Seq((3L, "z", 30L)).toDF("id", "a", "b")
      .write.parquet(s"$dir/day=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("id", "a", "b", "day"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getAs[Any]("b")))
    assert(rows(0)._2 === null) // day-1 rows read null for the new column
    assert(rows(2)._2 === 30L)
  }

  test("malformed JSONL: permissive mode quarantines bad lines, dropmalformed skips them") {
    val dir = Files.createTempDirectory("graft_badjson").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.jsonl"),
      """{"id": 1, "v": "ok"}
        |not json at all
        |{"id": 2, "v": "also ok"}
        |{"id": "wrongtype and unclosed
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/data.jsonl")
    // cache before splitting on _corrupt_record: Spark requires the
    // corrupt-record column not be the only one referenced post-parse
    permissive.cache()
    val good = permissive.filter(col("_corrupt_record").isNull)
    val bad = permissive.filter(col("_corrupt_record").isNotNull)
    assert(good.count() === 2L)
    assert(bad.count() === 2L)
    permissive.unpersist()
    val dropped = spark.read
      .schema(StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
      .option("mode", "DROPMALFORMED").json(s"$dir/data.jsonl")
    assert(dropped.count() === 2L)
  }

  test("fingerprint: a fresh listing equals the plan's own, changes on a rewrite, and leaves the plan's file index untouched") {
    val dir = Files.createTempDirectory("graft_fp").resolve("t.parquet").toString
    spark.range(0, 10).selectExpr("id").write.parquet(dir)
    val df = Sources.parquet(spark, dir).df
    val index = df.queryExecution.analyzed.collectFirst {
      case org.apache.spark.sql.execution.datasources.LogicalRelation(
        fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) => fs.location
    }.get
    val listed = index.inputFiles.toSeq
    val own = Sources.fingerprintOf(df)
    assert(own.isDefined && Sources.fingerprintOf(df, relist = true) === own)
    spark.range(0, 25).selectExpr("id").write.mode("overwrite").parquet(dir)
    val fresh = Sources.fingerprintOf(df, relist = true)
    assert(fresh.isDefined && fresh != own)
    // the plan keeps the listing it was opened with
    assert(Sources.fingerprintOf(df) === own)
    assert(index.inputFiles.toSeq === listed)
    assert(Sources.fingerprintOf(spark.read.parquet(dir)) === fresh)
  }

  test("q156 compaction: bin-packs fragmented files to ceil(bytes/target) and preserves rows") {
    val base = graft.util.TempDirs.scratch("graft_compact_spec")
    val src = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice"))
    src.repartition(64).write.mode("overwrite").parquet(s"$base/small")
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val small = parquetFiles(s"$base/small")
    assert(small.length === 64, "fragmented write should leave 64 files")
    val targetBytes = 256L * 1024
    val n = math.max(1,
      math.ceil(small.map(_.length).sum.toDouble / targetBytes).toInt)
    spark.read.parquet(s"$base/small").repartition(n)
      .write.mode("overwrite").parquet(s"$base/compact")
    val compact = parquetFiles(s"$base/compact")
    assert(compact.length === n, s"expected $n compacted files, got ${compact.length}")
    assert(compact.length < small.length, "compaction must reduce file count")
    assert(spark.read.parquet(s"$base/compact").count() === src.count())
  }
}

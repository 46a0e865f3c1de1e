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

  test("fingerprint: one direct listing gives the plan's own digest for a file, a Spark-written, hive-partitioned or glob path, a CSV and a directory with a zero-length file; it changes on a rewrite, an added file and a removed file") {
    val base = Files.createTempDirectory("graft_fp_list")
    val written = base.resolve("written.parquet").toString
    spark.range(0, 30).selectExpr("id").repartition(3).write.parquet(written)
    val names = new java.io.File(written).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    val parts = names.filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    val hive = base.resolve("hive.parquet").toString
    spark.range(0, 30).selectExpr("id", "CAST(id % 3 AS INT) AS b").write.partitionBy("b").parquet(hive)
    val csvDir = Files.createDirectories(base.resolve("csv"))
    Files.writeString(csvDir.resolve("a.csv"), "1|x\n2|y\n")
    Files.createFile(csvDir.resolve("empty.csv"))
    val csvSchema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val frames = Seq(
      "file" -> Sources.parquet(spark, s"$written/${parts.head}").df,
      "written" -> Sources.parquet(spark, written).df,
      "hive" -> Sources.parquet(spark, hive).df,
      "glob" -> Sources.parquet(spark, s"$written/part-*.parquet").df,
      "csv" -> Sources.csv(spark, csvDir.resolve("a.csv").toString, csvSchema).df,
      "zero-length" -> Sources.csv(spark, csvDir.toString, csvSchema).df)
    def paths(df: org.apache.spark.sql.DataFrame, relist: Boolean) = Sources
      .inputFiles(spark, df.queryExecution.analyzed, relist).get.map(_.getPath.toString).toSet
    val own = frames.map { case (what, df) =>
      val fp = Sources.fingerprintOf(df)
      assert(fp.isDefined && Sources.fingerprintOf(df, relist = true) === fp, what)
      assert(paths(df, relist = true) === paths(df, relist = false), what)
      what -> fp
    }.toMap
    assert(!paths(frames.last._2, relist = true).exists(_.endsWith("empty.csv")))
    def changed(whats: String*): Unit = frames.foreach { case (what, df) =>
      assert((Sources.fingerprintOf(df, relist = true) != own(what)) === whats.contains(what), what)
      assert(Sources.fingerprintOf(df) === own(what), what)
    }
    Files.writeString(csvDir.resolve("a.csv"), "1|x\n2|y\n3|z\n")
    changed("csv", "zero-length")
    Files.copy(java.nio.file.Paths.get(written, parts.head), java.nio.file.Paths.get(written, "part-copy.parquet"))
    changed("csv", "zero-length", "written", "glob")
    val bucket = new java.io.File(s"$hive/b=1").listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(bucket.delete())
    changed("csv", "zero-length", "written", "glob", "hive")
  }

  test("fingerprint: the listing never lists fewer files than the plan's index; under an unpartitioned directory it also lists a subdirectory's files, which the index skips") {
    val dir = Files.createTempDirectory("graft_fp_nested")
    Files.writeString(dir.resolve("a.csv"), "1\n2\n")
    Files.writeString(Files.createDirectories(dir.resolve("sub")).resolve("b.csv"), "3\n")
    val df = Sources.csv(spark, dir.toString, StructType(Seq(StructField("id", LongType)))).df
    def paths(relist: Boolean) = Sources
      .inputFiles(spark, df.queryExecution.analyzed, relist).get.map(_.getPath.getName).toSet
    assert(paths(relist = false) === Set("a.csv"))
    assert(paths(relist = true) === Set("a.csv", "b.csv"))
    assert(Sources.fingerprintOf(df, relist = true) != Sources.fingerprintOf(df))
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

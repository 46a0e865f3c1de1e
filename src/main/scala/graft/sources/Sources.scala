package graft.sources

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.HexFormat

import org.apache.hadoop.fs.{FileStatus, Path, PathFilter}
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.hadoop.util.ReflectionUtils

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.LeafFiles
import org.apache.spark.sql.types.StructType
import graft.api.GraftFrame
import graft.util.SessionMemo

/** Data sources for the engine.
  *
  * The reference reads exactly one format: headerless `|`-delimited CSV
  * with a caller-supplied schema, split into ~10 MB spans parsed in
  * parallel (reference: src/reader.rs:75-219). Spark's CSV source does
  * the same split-parallel read across executors — at 100 TB the same
  * declaration scales from 32 local threads to thousands of tasks with
  * zero code change.
  *
  * The driver testdata is Parquet (TESTDATA.md), so parquet is the
  * primary scan path: columnar, predicate-pushdown and column-pruning
  * capable — the scan properties the reference approximates with its
  * per-column pool are native here.
  */
object Sources {

  /** Reference-parity CSV read (reference: src/dataframe.rs:286-295).
    * Headerless, `|`-separated, schema required — never inferred
    * (reference: src/schema.rs / src/dataframe.rs:286).
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          sep: String = "|"): GraftFrame =
    GraftFrame(
      spark.read.schema(schema)
        .option("header", "false")
        .option("sep", sep)
        // the reference's sample rows carry a trailing `|` whose extra
        // positional field is ignored (data/line_items.csv); Spark drops
        // trailing unmatched fields under PERMISSIVE mode too
        .option("mode", "PERMISSIVE")
        .csv(path))

  /** Parquet scan — primary path for the parquet testdata (and the
    * server's parquet `Read` when the server's frame pool misses: a Read
    * whose token is pooled, over files that list the same, opens
    * nothing).
    *
    * Spark infers a parquet schema with a footer-reading job on every
    * open. The inferred schema is kept per (session, path) together
    * with the [[fingerprintOf]] of the files Spark listed for it; the
    * next open passes the schema back (`spark.read.schema(s).parquet`),
    * which lists the files again but runs no inference job, and keeps
    * the frame only if the new listing has the same fingerprint. A
    * rewritten file or directory is therefore inferred again, and its
    * entry replaced. Only the schema is kept here, never a DataFrame:
    * the server's frame pool (`GraftServer`) keeps analyzed plans, and
    * runs each request on a Dataset of its own over them (rule 16).
    */
  def parquet(spark: SparkSession, path: String): GraftFrame = {
    var opened: DataFrame = null
    parquetSchemas.fresh(spark, path) { case (fingerprint, schema) =>
      opened = spark.read.schema(schema).parquet(path)
      fingerprintOf(opened).contains(fingerprint)
    } {
      opened = spark.read.parquet(path)
      (fingerprintOf(opened).getOrElse(throw new IllegalStateException(
        s"parquet read planned no file relation: ${opened.queryExecution.analyzed}")),
        opened.schema)
    }
    GraftFrame(opened)
  }

  private val parquetSchemas = SessionMemo.family[(String, StructType)]("parquetSchemas")

  /** The input fingerprint of a frame: SHA-256 over (path, length,
    * mtime) of every data file of every file-relation leaf of its
    * analyzed plan (parquet and CSV alike, both sides of a join), as
    * listed by Spark's own file index: hidden `_`/`.` files and empty
    * files are skipped, partition subdirectories and glob matches are
    * included. None when any leaf is not a file relation (a checkpoint,
    * an in-memory relation): such a frame has no fingerprint.
    *
    * Each `spark.read` opens a new file index, listed when it is
    * opened, and the plan keeps that listing. With `relist`, every leaf
    * is listed afresh instead ([[listed]]): one direct listing of its
    * path as it was read, with no new index, so a glob is expanded again
    * and a file that now matches it counts. The plan's own indexes are
    * never refreshed, so a plan that other threads share keeps the
    * listing it was built with. A caller compares the two to learn
    * whether an input changed since the plan was built. A file
    * rewritten with the same length within the same millisecond is not
    * seen. */
  def fingerprintOf(df: DataFrame, relist: Boolean = false): Option[String] =
    fingerprintOf(df.sparkSession, df.queryExecution.analyzed, relist)

  /** [[fingerprintOf]] of an analyzed plan. */
  def fingerprintOf(spark: SparkSession, plan: LogicalPlan, relist: Boolean): Option[String] =
    inputFiles(spark, plan, relist).map { files =>
      val md = MessageDigest.getInstance("SHA-256")
      files.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n")
        .sorted
        .foreach(line => md.update(line.getBytes(StandardCharsets.UTF_8)))
      HexFormat.of().formatHex(md.digest())
    }

  /** The data files that [[fingerprintOf]] digests: as the plan's own
    * indexes list them, or with `relist` as [[listed]] lists them now.
    * None when any leaf is not a file relation. */
  private[graft] def inputFiles(spark: SparkSession, plan: LogicalPlan,
                                relist: Boolean): Option[Seq[FileStatus]] = {
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l }
    val relations = leaves.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }
    if (relations.isEmpty || relations.size != leaves.size) None
    else if (relist) Some(relations.flatMap(listed(spark, _)))
    else Some(relations.flatMap(_.location.listFiles(Nil, Nil)).flatMap(_.files).map(_.fileStatus))
  }

  /** The data files of a file relation's path as they are now, listed
    * by Spark's own leaf lister with the path filter and the data-file
    * rule the relation's index applies (no hidden name, no empty file).
    * A one-path read keeps its path, glob unexpanded, in its options: it
    * is expanded again, as Spark expands it when it opens a read
    * (Hadoop's `globStatus`, which also resolves a plain path to
    * itself). A read of several paths is listed over the paths it
    * expanded to. Over unchanged files this lists what the index lists,
    * so the digest is the plan's own. It never lists fewer files; it
    * lists more only where the index drops files by a rule this listing
    * does not apply (a subdirectory of an unpartitioned path, a
    * `pathGlobFilter` or `modifiedBefore` option), and a pooled plan over
    * such a path then misses and is replayed. */
  private def listed(spark: SparkSession, fs: HadoopFsRelation): Seq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConfWithOptions(fs.options)
    val roots = fs.options.get("path") match {
      case Some(p) =>
        val path = new Path(p)
        Option(path.getFileSystem(conf).globStatus(path)).toSeq.flatten.map(_.getPath)
      case None => fs.location.rootPaths
    }
    // the filter the index reads through a JobConf of the same conf
    val filter: PathFilter = Option(conf.getClass(FileInputFormat.PATHFILTER_CLASS, null, classOf[PathFilter]))
      .map(c => ReflectionUtils.newInstance(c, conf): PathFilter).orNull
    LeafFiles.list(spark, roots, conf, filter, fs.options).filter { f =>
      val name = f.getPath.getName
      f.getLen > 0 && !((name.startsWith("_") && !name.contains("=")) || name.startsWith("."))
    }
  }

  /** Load one named testdata table from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** In-memory source (reference: src/dataframe.rs:271-284 /
    * from_vecs!). Spark-side: `spark.createDataFrame` / `Seq(...).toDF`
    * — used by the golden-parity tests.
    */
  def inMemory(df: DataFrame): GraftFrame = GraftFrame(df)

  /** Sink: the reference has none (results leave via collect/HTTP —
    * SURVEY.md §2.1); ours writes any result as parquet, partitioned
    * for scale when partition columns are given.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** JSON-lines read — schema required, like the CSV source (inference
    * would scan the data twice; at 100 TB schema-on-read is declared,
    * not discovered). One JSON object per line; the line-splittable
    * format parallelizes across executors exactly as CSV spans do.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): GraftFrame =
    GraftFrame(spark.read.schema(schema).json(path))

  /** JSON-lines sink (one object per line, partitionable). */
  def writeJsonl(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).json(path)
  }

  /** ORC read — the other columnar format with predicate pushdown and
    * column pruning; same scan properties as parquet (vectorized
    * reader, min/max skipping), interchangeable at 100 TB where a
    * lakehouse standardized on ORC.
    */
  def orc(spark: SparkSession, path: String): GraftFrame =
    GraftFrame(spark.read.orc(path))

  /** ORC sink (columnar, partitionable). */
  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }
}

package graftbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark harness for the graft engine. It calls the program's public
  * entry points from outside (SparkEntry's query registry, Sources,
  * Events, graft.functions, Wire and GraftServer) and never changes them.
  *
  *   graftbench.Main queries <relational|memo-pipeline> <dataDir> <seed>
  *                   <seconds> <trace 0|1> <out.json>
  *   graftbench.Main serve <dataDir> <trace 0|1> <out.json>
  *
  * `queries` prints READY once the session (and, for relational, the
  * untimed warmup pass) is ready, runs the timed passes, and writes raw samples to out.json.
  * `serve` prints `READY <port>` once the server listens and waits for a
  * line on stdin before writing its record. Any warmup failure aborts
  * with a non-zero exit and the error on stderr.
  */
object Main {
  val mapper = new ObjectMapper()

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after a full collection, plus non-heap in use
    * (metaspace, code cache), in MiB: the memory the program still holds
    * once its garbage is gone. Spark's ContextCleaner frees the blocks of
    * broadcasts and shuffles only after a collection has found them
    * unreachable, so this collects until the heap stops shrinking. Unlike
    * VmHWM, it does not move with the collector's heap-sizing decisions,
    * which follow the host's speed. */
  def retainedMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def collected(): Long = { System.gc(); m.getHeapMemoryUsage.getUsed }
    var prev = Long.MaxValue
    var cur = collected()
    var rounds = 1
    while (cur < prev - (1L << 20) && rounds < 10) {
      Thread.sleep(200)
      prev = cur; cur = collected(); rounds += 1
    }
    (cur + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set of this JVM in MiB (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def writeJson(path: String, node: ObjectNode): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(node))

  def main(args: Array[String]): Unit = {
    val work = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val cpus = Runtime.getRuntime.availableProcessors()
    val code =
      try {
        args(0) match {
          case "queries" =>
            QueryRun(args(1), args(2), args(3).toLong, args(4).toDouble,
              args(5) == "1", args(6), cpus, work).run(); 0
          case "serve" => ServeRun(args(1), args(2) == "1", args(3), cpus, work).run(); 0
          case other => System.err.println(s"unknown mode $other"); 2
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] aborted: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          3
      }
    System.out.flush()
    // Spark's non-daemon threads must not keep a finished run alive
    Runtime.getRuntime.halt(code)
  }
}

/** Row count plus an order-independent hash over every output column of
  * a query, computed in one job over the full result. Floating columns
  * are rounded to float precision first, so partition order cannot move
  * the hash. Nothing above the query's own plan is an aggregate, so
  * Catalyst cannot prune columns or drop a final sort.
  */
object Fingerprint {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => x.cast(FloatType))
    case _: MapType => to_json(c)
    case _ => c
  }

  def hashed(df: DataFrame): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    renamed.select((if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).as("h"))
  }

  /** (fingerprint "rows:lo:hi", the executed QueryExecution). */
  def apply(df: DataFrame): (String, QueryExecution) = {
    val qe = hashed(df).queryExecution
    val (n, lo, hi) = SQLExecution.withNewExecutionId(qe, Some("graftbench fingerprint")) {
      qe.toRdd.map(r => r.getLong(0)).aggregate((0L, 0L, 0L))(
        (a, h) => (a._1 + 1, a._2 + (h & 0xffffffffL), a._3 + (h >>> 32)),
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    }
    (s"$n:$lo:$hi", qe)
  }

  def phaseMs(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
}

/** The `relational` and `memo-pipeline` workloads. */
final case class QueryRun(workload: String, dataDir: String, seed: Long, seconds: Double,
                          trace: Boolean, out: String, cpus: Int, work: String) {
  import Main.mapper

  /** 11 queries of the four shared-build memo families, in name order,
    * which puts each family's payer before its readers. Ten readers of
    * the families (q170, q177, q201, q208, q211, q217, q221, q272, q327,
    * q329) are left out to keep a run within its time budget. */
  val memoQueries: Seq[String] = Seq(
    "q123_pagerank", "q229_personalized_pagerank", "q269_randwalk_corpus", "q273_walk_pmi",
    "q210_image_phash", "q261_phash_canonical",
    "q322_dbscan_cells", "q324_blocking_curve",
    "q234_knn_graph", "q323_hubness_graph", "q326_knn_rounds_curve").sorted
  val memoPayers: Set[String] =
    Set("q123_pagerank", "q210_image_phash", "q322_dbscan_cells", "q234_knn_graph")

  private val registry = graft.SparkEntry.queries
  private val names: Seq[String] = workload match {
    case "relational" => graft.queries.Relational.queries.keys.toSeq.sorted
    case "memo-pipeline" => memoQueries
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }
  private val counters = new JobCounters
  private lazy val spark: SparkSession = Main.session(cpus, work)

  /** Build the query's plan, then force and fingerprint its full result. */
  private def runQuery(name: String, dir: String, owner: String): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("name", name); o.put("owner", owner)
    val t0 = System.nanoTime()
    try {
      val df = Trace.span("queries.build", owner)(registry(name)(spark, dir))
      val t1 = System.nanoTime()
      val (fp, qe) = Trace.span("exec.action", owner)(Fingerprint(df))
      val t2 = System.nanoTime()
      o.put("build_ms", (t1 - t0) / 1e6); o.put("action_ms", (t2 - t1) / 1e6)
      o.put("total_ms", (t2 - t0) / 1e6); o.put("ok", true); o.put("fp", fp)
      o.put("analysis_ms", Fingerprint.phaseMs(df.queryExecution, "analysis") +
        Fingerprint.phaseMs(qe, "analysis"))
      o.put("optimize_ms", Fingerprint.phaseMs(qe, "optimization"))
      o.put("plan_ms", Fingerprint.phaseMs(qe, "planning"))
    } catch {
      case e: Throwable =>
        o.put("ok", false); o.put("error", e.getClass.getName)
        o.put("message", String.valueOf(e.getMessage).take(300))
        System.err.println(s"[graftbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
    }
    o
  }

  def run(): Unit = {
    Trace.enabled = trace
    Trace.attach(spark.sparkContext)
    if (trace) spark.sparkContext.addSparkListener(counters)
    val rec = mapper.createObjectNode()
    if (workload == "relational") {
      // untimed warmup pass, spread over one calling thread per core (it
      // only has to compile and JIT each query's code paths): any failure
      // aborts the run
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      val warmed = names.map(n => pool.submit(() => runQuery(n, dataDir, s"warm:$n"))).map(_.get())
      pool.shutdown()
      val warm = rec.putArray("warmup")
      warmed.foreach(warm.add)
      val failed = warmed.filterNot(_.get("ok").asBoolean())
      if (failed.nonEmpty)
        throw new IllegalStateException("warmup failed: " +
          failed.map(o => o.get("name").asText() + " " + o.get("error").asText()).mkString(", "))
    }
    println("READY"); System.out.flush()

    // relational: seed-permuted passes until `seconds` have elapsed;
    // memo-pipeline: one pass in this fresh JVM, so every build is paid
    val ops = rec.putArray("ops")
    val passes = rec.putArray("passes")
    val tStart = System.nanoTime()
    var pass = 0
    while (pass == 0 ||
        (workload == "relational" && (System.nanoTime() - tStart) / 1e9 < seconds)) {
      val order = if (workload == "relational") new Random(seed * 7919 + pass).shuffle(names)
                  else names
      val p0 = System.nanoTime()
      order.foreach(n => ops.add(runQuery(n, dataDir, s"p$pass:$n")))
      passes.add((System.nanoTime() - p0) / 1e9)
      pass += 1
    }
    rec.set("payers", mapper.valueToTree(memoPayers.toArray))
    rec.put("retained_mb", Main.retainedMb())
    if (trace) Layers(spark, dataDir).run()
    rec.put("peak_rss_mb", Main.peakRssMb())
    rec.put("cpus", cpus)
    if (trace) {
      rec.set("spans", Trace.toJson(mapper))
      rec.set("counters", counters.toJson(mapper))
    }
    Main.writeJson(out, rec)
  }
}

/** Per-layer probes for the traced run: each source opened and scanned
  * through the public Sources/Events calls, and each native kernel of
  * graft.functions forced through an aggregate over the benchmark data. */
final case class Layers(spark: SparkSession, dir: String) {
  import graft.functions.{SketchFunctions, TextHashFunctions, VectorFunctions}

  def run(): Unit = {
    Seq("lineitem", "orders", "customer", "part", "supplier", "documents", "embeddings")
      .foreach { t =>
        val frame = Trace.span("sources.open", s"layer:$t")(
          graft.sources.Sources.parquet(spark, s"$dir/$t.parquet"))
        Trace.span("sources.scan", s"layer:$t")(Fingerprint(frame.df))
      }
    Trace.span("sources.events_normalize", "layer:events")(
      Fingerprint(graft.sources.Events.ev(spark, dir)))

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val line = spark.read.parquet(s"$dir/lineitem.parquet")
    val rnd = new Random(7)
    val mat = Array.fill(16, 64)(rnd.nextGaussian())
    def kernel(name: String, df: DataFrame): Unit =
      Trace.span(s"functions.$name", s"layer:$name")(df.collect())
    kernel("vecdot", emb.agg(sum(VectorFunctions.vec_dot(col("embedding"), col("embedding")))))
    kernel("vecmat_argmax", emb.agg(sum(VectorFunctions.vec_mat_argmax(col("embedding"), mat))))
    kernel("minhash", docs.agg(sum(pmod(xxhash64(TextHashFunctions.minhash_sig(col("text"), 5, 64)),
      lit(1000003L)))))
    kernel("simhash", docs.agg(sum(pmod(TextHashFunctions.simhash64(col("text")), lit(1000003L)))))
    kernel("tdigest", line.agg(SketchFunctions.tdigest_quantiles(col("l_extendedprice"), 100,
      Seq(0.5, 0.9, 0.99))))
  }
}

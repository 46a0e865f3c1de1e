package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import graft.tools.Attribute
import graft.util.{QueryTrace, SessionMemo}

/** The one attribution instrument: exact per-body job counts, charged by
  * thread, and the memo delta of the body. */
class QueryTraceSpec extends SparkSpec {

  private def jobs(n: Int, slices: Int = 2): Unit =
    (1 to n).foreach(_ => spark.sparkContext.parallelize(1 to 10, slices).count())

  test("a body with a known job count reads exactly that count, every time") {
    (1 to 5).foreach { i =>
      val (out, rec) = QueryTrace.traced(spark, s"three-$i") { jobs(3); "done" }
      assert(out === Right("done"))
      assert((rec.jobs, rec.stages, rec.tasks) === ((3L, 3L, 6L)), rec)
      assert(rec.ok && rec.name === s"three-$i" && rec.wallMs > 0)
    }
  }

  test("a DataFrame action is charged its jobs and shuffle; a failure is recorded") {
    val (_, rec) = QueryTrace.traced(spark, "agg") {
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    }
    assert(rec.jobs >= 1 && rec.tasks >= 4 && rec.shuffleWriteBytes > 0, rec)
    val (out, bad) = QueryTrace.traced(spark, "bad")(throw new IllegalStateException("no"))
    assert(out.isLeft && !bad.ok && bad.error.exists(_.contains("IllegalStateException: no")))
    assert(bad.jobs === 0)
    assert(bad.json.get("ok").asBoolean() === false)
  }

  test("jobs from a thread the body spawns are charged to it; jobs from an older thread are not") {
    val pool = Executors.newSingleThreadExecutor()
    try {
      pool.submit(new Runnable { def run(): Unit = () }).get() // its thread predates the trace
      val (_, rec) = QueryTrace.traced(spark, "spawn") {
        val t = new Thread(() => jobs(2))
        t.start()
        t.join()
        pool.submit(new Runnable { def run(): Unit = jobs(4) }).get(2, TimeUnit.MINUTES)
      }
      assert(rec.jobs === 2L, rec)
    } finally pool.shutdown()
  }

  test("PQ codebook trainings are charged to the query that runs them, every time") {
    // the m subspace trainings run on pool threads: each traced call
    // must count its own training jobs, not leave them to the query
    // whose trace created the threads
    import org.apache.spark.sql.functions.{array, col}
    val data = spark.range(0, 64, 1, 2).select(array((1 to 4).map(j =>
      ((col("id") * j) % 7 + 1).cast("float")): _*).as("v"))
    val recs = (1 to 2).map { i =>
      QueryTrace.traced(spark, s"pq-$i") {
        graft.operators.Similarity.pqTrainCodebooks(data, "v", m = 2, ksub = 2,
          dim = 4, iters = 2)
      }._2
    }
    assert(recs.forall(_.ok), recs)
    assert(recs(0).jobs > 0, recs)
    assert(recs(1).jobs === recs(0).jobs, recs)
  }

  test("a body that reads one memo family twice records one build and one hit") {
    val memo = SessionMemo.family[Long]("spec.trace")
    val (_, first) = QueryTrace.traced(spark, "memo-1") {
      memo(spark, "k")(spark.range(10).count())
    }
    assert(first.memo("spec.trace").builds === 1 && first.memo("spec.trace").hits === 0)
    val (_, second) = QueryTrace.traced(spark, "memo-2") {
      memo(spark, "k")(spark.range(10).count())
    }
    assert(second.memo("spec.trace") === SessionMemo.Stats(0, 1, 0.0))
    assert(second.jobs === 0)
  }

  test("Attribute: run 1 of a memo query builds its memo, run 2 builds nothing") {
    // a directory name no earlier suite has used, so no memo answers run 1
    val dir = Files.createTempDirectory("graft_attr").resolve("sf")
    Files.createSymbolicLink(dir, Paths.get(sf).toAbsolutePath)
    val runs = Seq.newBuilder[(Int, QueryTrace.Record)]
    Attribute.run(spark, dir.toString, Seq("q227_winnow"))((i, r) => runs += i -> r)
    assert(runs.result().map(_._1) === Seq(1, 2))
    val Seq(cold, warm) = runs.result().map(_._2)
    assert(cold.ok && warm.ok)
    assert(cold.memo.get("winnowFpsOf").exists(_.builds > 0), cold)
    assert(warm.memo.values.map(_.builds).sum === 0, warm)
    assert(warm.memo.get("winnowFpsOf").exists(_.hits > 0), warm)
    assert(cold.jobs > 0 && warm.jobs > 0)
  }
}

package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.util.SessionMemo
import org.apache.spark.sql.SparkSession

/** The memo registry itself: nested builds, concurrent callers, failed
  * builds, per-family counts, bounded families, and eviction when the
  * session stops. */
class SessionMemoSpec extends SparkSpec {

  private def onThreads[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
  }

  test("nested builds: a build that reads another memo builds every entry once") {
    val n = 1000
    val inner = SessionMemo.family[String]("spec.nested.inner")
    val outer = SessionMemo.family[String]("spec.nested.outer")
    val innerBuilds, outerBuilds = new AtomicInteger
    def innerOf(i: Int) = inner(spark, s"k$i") { innerBuilds.incrementAndGet(); s"i$i" }
    // each outer build reads two inner entries, one of them usually
    // built already by a neighbour: builds and hits both run nested
    def outerOf(i: Int) = outer(spark, s"k$i") {
      outerBuilds.incrementAndGet()
      innerOf(i) + innerOf((i + 1) % n)
    }
    val got = onThreads(4) { implicit ec =>
      val all = Future.sequence((0 until 2 * n).map(j => Future(outerOf(j % n))))
      Await.result(all, 2.minutes)
    }
    assert(got === (0 until 2 * n).map(j => s"i${j % n}i${(j % n + 1) % n}"))
    assert(outerBuilds.get === n)
    assert(innerBuilds.get === n)
    (0 until n).foreach(outerOf)
    assert(outerBuilds.get === n && innerBuilds.get === n)
  }

  test("concurrent callers: 8 threads on one key run the build once and share its value") {
    val memo = SessionMemo.family[AnyRef]("spec.concurrent")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val got = onThreads(8) { implicit ec =>
      val all = Future.sequence((1 to 8).map(_ => Future {
        start.await()
        memo(spark, "one") { builds.incrementAndGet(); Thread.sleep(200); new Object }
      }))
      start.countDown()
      Await.result(all, 1.minute)
    }
    assert(builds.get === 1)
    assert(got.forall(_ eq got.head))
  }

  test("failed builds: a build that throws is not kept, and the next call builds again") {
    val memo = SessionMemo.family[Int]("spec.failed")
    val builds = new AtomicInteger
    def read(fail: Boolean) = memo(spark, "k") {
      builds.incrementAndGet()
      if (fail) throw new IllegalStateException("build failed") else 7
    }
    intercept[IllegalStateException](read(fail = true))
    assert(memo.get(spark, "k") === None)
    assert(read(fail = false) === 7)
    assert(read(fail = true) === 7)
    assert(builds.get === 2)
  }

  test("counts: 8 concurrent callers on one key count exactly 1 build and 7 hits") {
    val memo = SessionMemo.family[AnyRef]("spec.counts")
    val start = new CountDownLatch(1)
    onThreads(8) { implicit ec =>
      val all = Future.sequence((1 to 8).map(_ => Future {
        start.await()
        memo(spark, "one") { Thread.sleep(200); new Object }
      }))
      start.countDown()
      Await.result(all, 1.minute)
    }
    val st = SessionMemo.stats(spark)("spec.counts")
    assert(st.builds === 1 && st.hits === 7, st)
    assert(st.buildMs >= 200.0, st)
    memo(spark, "one")(fail("a held value must not build"))
    assert(SessionMemo.stats(spark)("spec.counts").hits === 8)
    // a session that never read the family has no counts for it
    assert(!SessionMemo.stats(spark.newSession()).contains("spec.counts"))
  }

  test("bounded: the byte budget drops the oldest entries first, and an over-cap value is served but not held") {
    val memo = SessionMemo.bounded[String]("spec.bounded", budget = 10, entryCap = 4)(
      _.length.toLong)
    val builds = new AtomicInteger
    def read(key: String, value: String, keep: Boolean = true) =
      memo(spark, key) { builds.incrementAndGet(); (value, keep) }
    Seq("a" -> "aaaa", "b" -> "bbbb").foreach { case (k, v) => assert(read(k, v) === v) }
    assert(memo.get(spark, "a") === Some("aaaa"))
    assert(read("c", "ccc") === "ccc") // 11 bytes > 10: "a" leaves
    assert(memo.get(spark, "a") === None)
    assert(memo.get(spark, "b") === Some("bbbb") && memo.get(spark, "c") === Some("ccc"))
    assert(builds.get === 3)
    read("b", "never built"); read("c", "never built")
    assert(builds.get === 3)
    // 5 bytes > the 4-byte entry cap: returned each time, never held
    assert(read("big", "eeeee") === "eeeee")
    assert(read("big", "eeeee") === "eeeee")
    assert(builds.get === 5 && memo.get(spark, "big") === None)
    // a value its build declines is returned but not held
    assert(read("declined", "d", keep = false) === "d")
    assert(memo.get(spark, "declined") === None && builds.get === 6)
    // a build that throws leaves nothing, and the next call builds
    intercept[IllegalStateException](memo(spark, "thrown")(throw new IllegalStateException("no")))
    assert(read("thrown", "t") === "t" && memo.get(spark, "thrown") === Some("t"))
    val st = SessionMemo.stats(spark)("spec.bounded")
    assert(st.builds === 8 && st.hits === 2, st)
    // b, c and t fit (8 bytes); a new 3-byte value drops the oldest, b
    assert(read("d", "ddd") === "ddd")
    assert(memo.get(spark, "b") === None)
    assert(Seq("c", "thrown", "d").map(memo.get(spark, _)) === Seq(Some("ccc"), Some("t"), Some("ddd")))
  }

  test("bounded fresh: a valid held value is a hit, a stale one is rebuilt and replaced, and put replaces") {
    val memo = SessionMemo.bounded[(String, Int)]("spec.bounded.fresh", budget = 2, entryCap = 1)(_ => 1L)
    val builds = new AtomicInteger
    var version = 1
    def read(key: String, keep: Boolean = true) =
      memo.fresh(spark, key)(_._2 == version) { builds.incrementAndGet(); ((key, version), keep) }
    assert(read("a") === ("a", 1) && read("a") === ("a", 1))
    assert(builds.get === 1)
    version = 2 // the input changed: the held value is stale
    assert(read("a") === ("a", 2) && memo.get(spark, "a") === Some(("a", 2)))
    assert(read("a") === ("a", 2) && builds.get === 2)
    // a rebuilt value its build declines is returned, and the stale one leaves
    version = 3
    assert(read("a", keep = false) === ("a", 3))
    assert(memo.get(spark, "a") === None && builds.get === 3)
    // put always builds, and replaces without growing the family
    assert(memo.put(spark, "b")((("b", 0), true)) === ("b", 0))
    assert(memo.put(spark, "b")((("b", 3), true)) === ("b", 3))
    assert(read("b") === ("b", 3) && builds.get === 3)
    assert(read("c") === ("c", 3))
    assert(memo.get(spark, "b").isDefined && memo.get(spark, "c").isDefined)
    // the budget holds two: a third key drops the oldest, b
    assert(read("d") === ("d", 3))
    assert(memo.get(spark, "b") === None && memo.get(spark, "c").isDefined)
    val st = SessionMemo.stats(spark)("spec.bounded.fresh")
    assert(st.builds === 7 && st.hits === 3, st)
  }

  test("session stop: entries leave with their session, and a new session builds again") {
    // stopping the suites' shared session would break the suites after
    // this one, so the check runs in a JVM of its own
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g", "-cp",
      System.getProperty("java.class.path"), "graft.SessionMemoStopCheck")
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() === 0, out.takeRight(40).mkString("\n"))
    assert(out.find(_.startsWith("builds=")) === Some("builds=2 left=0"))
    assert(out.find(_.startsWith("stats=")) === Some("stats=0"))
  }
}

/** Builds one memo entry in a session, stops the session, then reads
  * the same key from a new session. Prints the build count and the
  * number of values still held for the stopped session. */
object SessionMemoStopCheck {
  def main(args: Array[String]): Unit = {
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val memo = SessionMemo.family[Long]("spec.stop")
    val builds = new AtomicInteger
    def read(s: SparkSession) = memo(s, "dir") { builds.incrementAndGet(); s.range(10).count() }
    val first = session()
    first.sparkContext.setLogLevel("WARN")
    read(first); read(first)
    first.stop()
    val left = memo.get(first, "dir").size
    val statsLeft = SessionMemo.stats(first).size
    val second = session()
    read(second)
    second.stop()
    println(s"builds=${builds.get} left=$left")
    println(s"stats=$statsLeft")
  }
}

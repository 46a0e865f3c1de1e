package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.util.SessionMemo
import org.apache.spark.sql.SparkSession

/** The memo registry itself: nested builds, concurrent callers, failed
  * builds, and eviction when the session stops. */
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
    val second = session()
    read(second)
    second.stop()
    println(s"builds=${builds.get} left=$left")
  }
}

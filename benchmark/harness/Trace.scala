package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder. A span is {id, name, parent, owner, start,
  * end}; `owner` is the query or request the span belongs to. Spans are
  * recorded only when tracing is on and are written out once, at the end
  * of the run. The innermost open span of the calling thread is also
  * published as a Spark local property, so [[JobCounters]] can charge
  * each job to the span that was open when the job started.
  */
object Trace {
  final case class Span(id: Long, name: String, parent: Long, owner: String,
                        startNs: Long, endNs: Long)

  @volatile var enabled = false
  val SpanProp = "graftbench.span"
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  @volatile private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = sc = context

  /** Time `body` as span `name` owned by `owner` (the enclosing span's
    * owner when empty). Returns the body's value. */
  def span[T](name: String, owner: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val own = if (owner.nonEmpty) owner else stack.headOption.map(_._2).getOrElse("")
      val id = ids.incrementAndGet()
      open.set((id, own) :: stack)
      val prevProp = if (sc != null) sc.getLocalProperty(SpanProp) else null
      if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, own, t0, System.nanoTime()))
        open.set(stack)
        if (sc != null) sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  def toJson(m: ObjectMapper): ArrayNode = {
    val a = m.createArrayNode()
    spans.asScala.foreach { s =>
      val o = a.addObject()
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("owner", s.owner); o.put("start_ns", s.startNs); o.put("end_ns", s.endNs)
    }
    a
  }
}

/** Spark-side work charged to the span that was open on the submitting
  * thread when each job started: jobs, stages, tasks, task run/CPU/GC
  * time, scheduler wait (task launch minus stage submission), shuffle
  * and spill bytes, and per-stage task durations (for skew).
  */
class JobCounters extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val runMs = new AtomicLong; val cpuNs = new AtomicLong; val gcMs = new AtomicLong
    val waitMs = new AtomicLong; val shRead = new AtomicLong; val shWrite = new AtomicLong
    val spill = new AtomicLong
  }
  private val bySpan = new ConcurrentHashMap[Long, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  private def acc(span: Long): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Trace.SpanProp)))
    val span = p.map(_.toLong).getOrElse(0L)
    acc(span).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, 0L)
    acc(span).stages.incrementAndGet()
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, 0L))
    a.tasks.incrementAndGet()
    val info = e.taskInfo
    if (info != null) {
      a.waitMs.addAndGet(math.max(0L,
        info.launchTime - stageSubmit.getOrDefault(e.stageId, info.launchTime)))
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(info.duration)
    }
    val m = e.taskMetrics
    if (m != null) {
      a.runMs.addAndGet(m.executorRunTime); a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def jobsOf(span: Long): Long = Option(bySpan.get(span)).map(_.jobs.get).getOrElse(0L)

  def toJson(m: ObjectMapper): ObjectNode = {
    val out = m.createObjectNode()
    val spansNode = out.putObject("spans")
    bySpan.asScala.foreach { case (id, a) =>
      val o = spansNode.putObject(id.toString)
      o.put("jobs", a.jobs.get); o.put("stages", a.stages.get); o.put("tasks", a.tasks.get)
      o.put("task_run_ms", a.runMs.get); o.put("task_cpu_ms", a.cpuNs.get / 1e6)
      o.put("gc_ms", a.gcMs.get); o.put("sched_wait_ms", a.waitMs.get)
      o.put("shuffle_read_bytes", a.shRead.get); o.put("shuffle_write_bytes", a.shWrite.get)
      o.put("spill_bytes", a.spill.get)
    }
    val stagesNode = out.putArray("stage_task_ms")
    stageTaskMs.asScala.foreach { case (_, q) =>
      val arr = stagesNode.addArray(); q.asScala.foreach(v => arr.add(v))
    }
    out
  }
}

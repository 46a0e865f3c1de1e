package graft.util

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One query's cost, split by layer: the instrument Bench, Verify and
  * `graft.tools.Attribute` share. [[QueryTrace.traced]] runs a body and
  * returns its result with one [[QueryTrace.Record]]: wall time, the
  * Catalyst phase times of every SQL execution the body ran, its jobs,
  * stages and tasks, task time, shuffle and spill bytes, the worst
  * stage's task skew, and what each `SessionMemo` family did.
  *
  *  - Work is charged by thread. While the body runs, the calling
  *    thread carries the trace's id twice: as a local property, which
  *    every job's start event carries, and as a job tag, which every
  *    SQL execution's start event carries. Threads the body starts
  *    inherit both, so their jobs are charged to the body; threads that
  *    existed before it (a server's pool, a shared executor) do not.
  *  - Counts are exact. After the body, and after its wall clock has
  *    stopped, one marker job runs on the calling thread; the listener
  *    sees events in the order they were posted, so once it has seen
  *    the marker start, every job, stage, task and execution the body
  *    ran has been counted.
  *  - Phase times are those of the SQL executions (actions, writes,
  *    checkpoints) the body ran, each QueryExecution counted once. The
  *    analysis a DataFrame pays when it is built, before any action,
  *    belongs to no execution: it shows only in wall time.
  *  - One listener per SparkContext, added on first use and dropped
  *    when the context stops. Traces may run concurrently on different
  *    threads; a trace inside a trace charges the inner one. The memo
  *    delta is per session, so concurrent traces on one session share
  *    it.
  */
object QueryTrace {
  /** One traced body. `taskSkew` is, over the stages with at least two
    * tasks, the largest ratio of a stage's longest task to its median
    * task (1.0 when there is no such stage). `memo` holds, per
    * `SessionMemo` family the body touched, its builds, hits and build
    * milliseconds. */
  final case class Record(
      name: String, wallMs: Double, error: Option[String],
      analysisMs: Double, optimizationMs: Double, planningMs: Double,
      jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      taskSkew: Double, memo: Map[String, SessionMemo.Stats]) {
    def ok: Boolean = error.isEmpty

    def json: ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("name", name).put("ok", ok)
      error.foreach(o.put("error", _))
      o.put("wall_ms", round(wallMs))
        .put("analysis_ms", round(analysisMs))
        .put("optimization_ms", round(optimizationMs))
        .put("planning_ms", round(planningMs))
        .put("jobs", jobs).put("stages", stages).put("tasks", tasks)
        .put("task_run_ms", taskRunMs)
        .put("shuffle_read_bytes", shuffleReadBytes)
        .put("shuffle_write_bytes", shuffleWriteBytes)
        .put("spill_bytes", spillBytes)
        .put("task_skew", round(taskSkew))
      val m = o.putObject("memo")
      memo.toSeq.sortBy(_._1).foreach { case (family, s) =>
        m.putObject(family).put("builds", s.builds).put("hits", s.hits)
          .put("build_ms", round(s.buildMs))
      }
      o
    }

    def toJson: String = mapper.writeValueAsString(json)
  }

  /** Runs `body` as the query `name`: its value (or what it threw) and
    * its record. */
  def traced[T](spark: SparkSession, name: String)(body: => T): (Either[Throwable, T], Record) = {
    val sc = spark.sparkContext
    val listener = listenerOf(sc)
    val id = UUID.randomUUID().toString
    val acc = new Acc
    listener.open.put(id, acc)
    val outerId = sc.getLocalProperty(TraceProp)
    val outerTags = sc.getJobTags().filter(_.startsWith(TagPrefix))
    outerTags.foreach(sc.removeJobTag)
    val memoBefore = SessionMemo.stats(spark)
    sc.setLocalProperty(TraceProp, id)
    sc.addJobTag(TagPrefix + id)
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val wallMs = (System.nanoTime() - t0) / 1e6
    sc.removeJobTag(TagPrefix + id)
    sc.setLocalProperty(TraceProp, null)
    val memo = delta(memoBefore, SessionMemo.stats(spark))
    try listener.awaitMarker()
    finally {
      listener.close(id, acc)
      sc.setLocalProperty(TraceProp, outerId)
      outerTags.foreach(sc.addJobTag)
    }
    val error = out.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}")
    (out, acc.record(name, wallMs, error, memo))
  }

  /** Appends one record per line to `path`, replacing the file when
    * opened and flushing each line as it is written, so a run that dies
    * keeps the lines of the queries that finished. */
  final class Jsonl(path: Path) extends AutoCloseable {
    private val out = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    def write(r: Record): Unit = synchronized {
      out.write(r.toJson)
      out.newLine()
      out.flush()
    }
    override def close(): Unit = out.close()
  }

  private val TraceProp = "graft.trace"
  private val MarkerProp = "graft.trace.marker"
  private val TagPrefix = "graft-trace-"
  private val MarkerTimeoutSeconds = 120L
  private val mapper = new ObjectMapper()

  private def round(v: Double): Double = math.round(v * 1000) / 1000.0

  private def delta(before: Map[String, SessionMemo.Stats],
                    after: Map[String, SessionMemo.Stats]): Map[String, SessionMemo.Stats] =
    after.flatMap { case (family, a) =>
      val b = before.getOrElse(family, SessionMemo.Stats(0, 0, 0.0))
      val d = SessionMemo.Stats(a.builds - b.builds, a.hits - b.hits, a.buildMs - b.buildMs)
      if (d.builds != 0 || d.hits != 0) Some(family -> d) else None
    }

  /** What the listener has charged to one open trace. */
  private final class Acc {
    val jobs, stages, tasks, taskRunMs, shuffleRead, shuffleWrite, spill = new LongAdder
    val analysisMs, optimizationMs, planningMs = new LongAdder
    val stageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
    val executions = ConcurrentHashMap.newKeySet[Long]()

    def task(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      Option(e.taskInfo).foreach { info =>
        stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
          .add(info.duration)
      }
      Option(e.taskMetrics).foreach { m =>
        taskRunMs.add(m.executorRunTime)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

    /** Adds one execution's Catalyst phase times, once per execution. */
    def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(phase: String) = ph.get(phase).map(_.durationMs).getOrElse(0L)
      analysisMs.add(ms(QueryPlanningTracker.ANALYSIS))
      optimizationMs.add(ms(QueryPlanningTracker.OPTIMIZATION))
      planningMs.add(ms(QueryPlanningTracker.PLANNING))
    }

    def record(name: String, wallMs: Double, error: Option[String],
               memo: Map[String, SessionMemo.Stats]): Record = {
      val skews = stageTaskMs.values.asScala.map(_.asScala.toVector.sorted).collect {
        case t if t.size >= 2 && t(t.size / 2) > 0 => t.last.toDouble / t(t.size / 2)
      }
      Record(name, wallMs, error,
        analysisMs.sum.toDouble, optimizationMs.sum.toDouble, planningMs.sum.toDouble,
        jobs.sum, stages.sum, tasks.sum, taskRunMs.sum,
        shuffleRead.sum, shuffleWrite.sum, spill.sum,
        if (skews.isEmpty) 1.0 else skews.max, memo)
    }
  }

  /** The QueryExecution Spark attaches to an execution's end event for
    * its own QueryExecutionListeners. The field is public in the
    * bytecode but `private[sql]` in Scala, so it is read reflectively; a
    * Spark that renames it fails here, at first use, not silently. */
  private val endQe = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")

  private final class Listener(sc: SparkContext) extends SparkListener {
    val open = new ConcurrentHashMap[String, Acc]()
    private val byStage = new ConcurrentHashMap[Int, Acc]()
    private val byExecution = new ConcurrentHashMap[Long, Acc]()
    private val markers = new ConcurrentHashMap[String, CountDownLatch]()

    private def traceOf(id: String): Option[Acc] = Option(id).flatMap(i => Option(open.get(i)))

    override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
      Option(p.getProperty(MarkerProp)).flatMap(m => Option(markers.get(m))).foreach(_.countDown())
      traceOf(p.getProperty(TraceProp)).foreach { a =>
        a.jobs.increment()
        e.stageIds.foreach(byStage.put(_, a))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(byStage.get(e.stageInfo.stageId)).foreach(_.stages.increment())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach(_.task(e))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobTags.find(_.startsWith(TagPrefix))
          .flatMap(t => traceOf(t.drop(TagPrefix.length)))
          .foreach(byExecution.put(s.executionId, _))
      case s: SparkListenerSQLExecutionEnd =>
        Option(byExecution.remove(s.executionId)).foreach { a =>
          Option(endQe.invoke(s).asInstanceOf[QueryExecution])
            .filter(qe => a.executions.add(qe.id)).foreach(a.phases)
        }
      case _ =>
    }

    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      listeners.remove(sc, this)

    /** Runs one marker job on the calling thread and waits until this
      * listener has seen it start. */
    def awaitMarker(): Unit = {
      val id = UUID.randomUUID().toString
      val seen = new CountDownLatch(1)
      markers.put(id, seen)
      sc.setLocalProperty(MarkerProp, id)
      try {
        sc.parallelize(Seq(1), 1).count()
        if (!seen.await(MarkerTimeoutSeconds, TimeUnit.SECONDS))
          throw new IllegalStateException(
            s"QueryTrace: the listener did not see the marker job in ${MarkerTimeoutSeconds}s")
      } finally {
        sc.setLocalProperty(MarkerProp, null)
        markers.remove(id)
      }
    }

    def close(id: String, acc: Acc): Unit = {
      open.remove(id)
      byStage.values.removeIf(_ eq acc)
      byExecution.values.removeIf(_ eq acc)
    }
  }

  private val listeners = new ConcurrentHashMap[SparkContext, Listener]()

  private def listenerOf(sc: SparkContext): Listener =
    listeners.computeIfAbsent(sc, { c =>
      val l = new Listener(c)
      c.addSparkListener(l)
      l
    })
}

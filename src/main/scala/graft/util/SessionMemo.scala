package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one registry of session-scoped memos: deterministic
  * per-(session, key) intermediates that several queries share (a
  * trained tokenizer, a checkpointed graph, a parquet schema, a served
  * reply). A module declares a typed [[SessionMemo.Family]] per memo and
  * reads through it; every family stores its entries in one map keyed
  * by (session, family name, key).
  *
  *  - Each entry is a cell that builds its value at most once, under
  *    the cell's own monitor and outside the map's lock. A second
  *    caller for the same key waits on the cell until the first build
  *    has finished, so a shared DataFrame is materialized once
  *    (callers `localCheckpoint(true)` inside `build`) before any
  *    reader sees it — rule 16's hazard.
  *  - Builds may nest: a build may read another family's memo (the
  *    held-out tokenizer segments read the trained merge list, the
  *    walk corpus reads the trade relation). No build runs inside the
  *    map's `computeIfAbsent`, whose mapping function must not touch
  *    the map.
  *  - A build that throws is not kept: its cell stays empty, and the
  *    next call for the key builds again.
  *  - A [[SessionMemo.Bounded]] family holds at most a budget of
  *    weighed values (bytes of replies, a count of frames) and drops its
  *    oldest entries first; a value above its per-entry cap, or one its
  *    build declines to keep, is returned but not held.
  *  - Every family counts, per session, the builds it ran (failed ones
  *    included), the calls it answered without building and the
  *    milliseconds its builds took: [[SessionMemo.stats]].
  *  - One listener per session drops all of the session's entries and
  *    counts, of every family, when its application ends.
  *
  * Nothing here is kept across runs: each run is a fresh SparkSession,
  * the key includes it, and its entries die with it. Within a run a
  * memo only skips a bit-identical recompute of a deterministic
  * function of its key.
  */
object SessionMemo {
  /** What every family shares: its name and a look at a held value. */
  sealed abstract class Memo[V](val name: String) {
    /** The value held for (session, key), if one was built. Counts
      * nothing: it is a look, not a read. */
    def get(spark: SparkSession, key: String): Option[V] =
      Option(entries.get(Key(spark, name, key))).flatMap(_.value.map(_.asInstanceOf[V]))
  }

  final class Family[V] private[SessionMemo] (name: String) extends Memo[V](name) {
    /** The value for (session, key), built by `build` on the first call. */
    def apply(spark: SparkSession, key: String)(build: => V): V = {
      val c = counts(spark, name)
      entries.computeIfAbsent(Key(spark, name, key), _ => new Cell).get(c)(build).asInstanceOf[V]
    }

    /** The held value for (session, key) if `valid` accepts it, else a
      * fresh value from `build`, which REPLACES it. For values that are
      * valid only while their input is unchanged (a schema checked
      * against the files' current fingerprint). An accepted value counts
      * as a hit, a replacement as a build. Two callers may both find the
      * value stale and both build, so only values that are safe to build
      * twice belong here: a schema or an analyzed plan, never a
      * DataFrame that its build materializes. */
    def fresh(spark: SparkSession, key: String)(valid: V => Boolean)(build: => V): V = {
      val c = counts(spark, name)
      get(spark, key).filter(valid) match {
        case Some(v) => c.hits.increment(); v
        case None =>
          val v = c.timed(build)
          entries.put(Key(spark, name, key), new Cell(Some(v)))
          v
      }
    }
  }

  /** A family that holds at most `budget` of weight, all sessions
    * together, and drops its oldest entries first to stay inside it.
    * Each value is weighed by `weigh` once, when built. */
  final class Bounded[V] private[SessionMemo] (name: String, budget: Long,
                                               entryCap: Long, weigh: V => Long)
      extends Memo[V](name) {
    /** Held entries, oldest first, with their weights; guarded by `this`. */
    private val order = new java.util.ArrayDeque[(Key, Cell, Long)]()
    private var held = 0L

    /** The value for (session, key). On a miss `build` returns the value
      * and whether it may be kept. A value it declines, or one heavier
      * than the per-entry cap, is returned to this call (and to callers
      * that waited on this build) but not held, so the next call builds.
      * A build that throws leaves nothing behind. */
    def apply(spark: SparkSession, key: String)(build: => (V, Boolean)): V = {
      val c = counts(spark, name)
      val k = Key(spark, name, key)
      val cell = entries.computeIfAbsent(k, _ => new Cell)
      cell.get(c) {
        val (v, keep) =
          try build catch { case e: Throwable => entries.remove(k, cell); throw e }
        val w = weigh(v)
        if (keep && w <= entryCap) admit(k, cell, w, replace = false) else entries.remove(k, cell)
        v
      }.asInstanceOf[V]
    }

    /** The held value for (session, key) if `valid` accepts it (a hit),
      * else [[put]]'s. For values that are valid only while their input
      * is unchanged. Neither `valid` nor `build` runs under a lock, so
      * either may read this family again (a nested lookup), and two
      * callers may both build: only values that are safe to build twice
      * belong here (a plan, never a DataFrame its build materializes). */
    def fresh(spark: SparkSession, key: String)(valid: V => Boolean)(build: => (V, Boolean)): V =
      get(spark, key).filter(valid) match {
        case Some(v) => counts(spark, name).hits.increment(); v
        case None => put(spark, key)(build)
      }

    /** A value from `build`, counted as a build, which replaces whatever
      * (session, key) held. As in [[apply]], `build` says whether the
      * value may be kept; a value it declines, or one above the entry
      * cap, is returned and the key then holds nothing. */
    def put(spark: SparkSession, key: String)(build: => (V, Boolean)): V = {
      val (v, keep) = counts(spark, name).timed(build)
      val k = Key(spark, name, key)
      val w = weigh(v)
      if (keep && w <= entryCap) admit(k, new Cell(Some(v)), w, replace = true)
      else synchronized { Option(entries.remove(k)).foreach(release) }
      v
    }

    /** Holds `cell` under `k`, then drops the oldest entries until the
      * family is inside its budget. Without `replace`, a cell is held
      * only if `k` holds nothing or that cell: a failed build removed it,
      * and a waiter that then built puts it back unless a newer call has
      * already made another. */
    private def admit(k: Key, cell: Cell, w: Long, replace: Boolean): Unit = synchronized {
      val prev = if (replace) entries.put(k, cell) else entries.putIfAbsent(k, cell)
      if (replace || prev == null || (prev eq cell)) {
        if (prev != null && !(prev eq cell)) release(prev)
        order.addLast((k, cell, w))
        held += w
        while (held > budget) {
          val (ok, oc, ow) = order.removeFirst()
          entries.remove(ok, oc)
          held -= ow
        }
      }
    }

    /** Forgets the weight of a cell that has left `entries`; under `this`. */
    private def release(cell: Cell): Unit = {
      val it = order.iterator()
      while (it.hasNext) {
        val (_, c, w) = it.next()
        if (c eq cell) { it.remove(); held -= w }
      }
    }

    private[SessionMemo] def drop(spark: SparkSession): Unit = synchronized {
      val it = order.iterator()
      while (it.hasNext) {
        val (k, _, w) = it.next()
        if (k.spark eq spark) { it.remove(); held -= w }
      }
    }
  }

  /** A new family. Names are unique per process, so two families can
    * never read each other's entries. */
  def family[V](name: String): Family[V] = {
    declare(name)
    new Family[V](name)
  }

  /** A new bounded family: at most `budget` of weight held, oldest
    * dropped first, and no single value weighing above `entryCap` held. */
  def bounded[V](name: String, budget: Long, entryCap: Long)
                (weigh: V => Long): Bounded[V] = {
    require(entryCap <= budget, s"$name: entry cap above the budget")
    declare(name)
    val b = new Bounded[V](name, budget, entryCap, weigh)
    boundedFamilies.add(b)
    b
  }

  /** One family's work in one session so far. */
  final case class Stats(builds: Long, hits: Long, buildMs: Double)

  /** Per family name, the builds, hits and build milliseconds of every
    * family the session has read. */
  def stats(spark: SparkSession): Map[String, Stats] = {
    val out = Map.newBuilder[String, Stats]
    counters.forEach { (k, c) =>
      if (k._1 eq spark)
        out += k._2 -> Stats(c.builds.sum, c.hits.sum, c.buildNs.sum / 1e6)
    }
    out.result()
  }

  private final case class Key(spark: SparkSession, family: String, key: String)

  private final class Counts {
    val builds, hits, buildNs = new LongAdder
    def timed[T](build: => T): T = {
      val t0 = System.nanoTime()
      try build finally {
        buildNs.add(System.nanoTime() - t0)
        builds.increment()
      }
    }
  }

  /** Holds one value, built at most once under the cell's monitor. A
    * build that throws leaves the cell empty, so the next call builds. */
  private final class Cell(@volatile var value: Option[Any] = None) {
    def get(counts: Counts)(build: => Any): Any = value match {
      case Some(v) => counts.hits.increment(); v
      case None => synchronized {
        value match {
          case Some(v) => counts.hits.increment(); v
          case None =>
            val v = counts.timed(build)
            value = Some(v)
            v
        }
      }
    }
  }

  private val entries = new ConcurrentHashMap[Key, Cell]()
  private val counters = new ConcurrentHashMap[(SparkSession, String), Counts]()
  private val names = ConcurrentHashMap.newKeySet[String]()
  private val boundedFamilies = ConcurrentHashMap.newKeySet[Bounded[_]]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  private def declare(name: String): Unit =
    require(names.add(name), s"memo family '$name' is already declared")

  /** The session's counts for one family; hooks the session's eviction
    * listener on its first read, so everything a read leaves is dropped. */
  private def counts(spark: SparkSession, family: String): Counts = {
    hook(spark)
    counters.computeIfAbsent((spark, family), _ => new Counts)
  }

  private def hook(spark: SparkSession): Unit =
    if (hooked.add(spark))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          entries.keySet.removeIf(_.spark eq spark)
          boundedFamilies.forEach(_.drop(spark))
          counters.keySet.removeIf(_._1 eq spark)
          hooked.remove(spark)
        }
      })
}

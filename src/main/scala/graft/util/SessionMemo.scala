package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one registry of session-scoped memos: deterministic
  * per-(session, key) intermediates that several queries share (a
  * trained tokenizer, a checkpointed graph, a parquet schema). A module
  * declares a typed [[SessionMemo.Family]] per memo and reads through
  * it; every family stores its entries in one map keyed by
  * (session, family name, key).
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
  *  - One listener per session drops all of the session's entries, of
  *    every family, when its application ends.
  *
  * Nothing here is kept across runs: each run is a fresh SparkSession,
  * the key includes it, and its entries die with it. Within a run a
  * memo only skips a bit-identical recompute of a deterministic
  * function of its key.
  */
object SessionMemo {
  final class Family[V] private[SessionMemo] (name: String) {
    /** The value for (session, key), built by `build` on the first call. */
    def apply(spark: SparkSession, key: String)(build: => V): V = {
      hook(spark)
      entries.computeIfAbsent(Key(spark, name, key), _ => new Cell)
        .get(build).asInstanceOf[V]
    }

    /** The value held for (session, key), if one was built or put. */
    def get(spark: SparkSession, key: String): Option[V] =
      Option(entries.get(Key(spark, name, key))).flatMap(_.value.map(_.asInstanceOf[V]))

    /** Store or REPLACE the value for (session, key). For values that
      * are valid only while their input is unchanged: the caller checks
      * the held value against the input's current fingerprint and puts
      * a fresh one on a mismatch. Nothing is built under a lock, so only
      * values that are safe to build twice belong here (a schema, never
      * a DataFrame). */
    def put(spark: SparkSession, key: String, value: V): Unit = {
      hook(spark)
      entries.put(Key(spark, name, key), new Cell(Some(value)))
    }
  }

  /** A new family. Names are unique per process, so two families can
    * never read each other's entries. */
  def family[V](name: String): Family[V] = {
    require(names.add(name), s"memo family '$name' is already declared")
    new Family[V](name)
  }

  private final case class Key(spark: SparkSession, family: String, key: String)

  /** Holds one value, built at most once under the cell's monitor. A
    * build that throws leaves the cell empty, so the next call builds. */
  private final class Cell(@volatile var value: Option[Any] = None) {
    def get(build: => Any): Any = value.getOrElse(synchronized {
      if (value.isEmpty) value = Some(build)
      value.get
    })
  }

  private val entries = new ConcurrentHashMap[Key, Cell]()
  private val names = ConcurrentHashMap.newKeySet[String]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  private def hook(spark: SparkSession): Unit =
    if (hooked.add(spark))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          entries.keySet.removeIf(_.spark eq spark)
          hooked.remove(spark)
        }
      })
}

package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped memoization of deterministic per-(session, dir)
  * intermediates — the `knnGraphOf`/`conformalScoresOf` pattern
  * (PERF.md round-12) extracted so query modules outside Pipeline can
  * share it without re-implementing the two hygiene rules it exists
  * to enforce:
  *
  *  - the value is BUILT (and, for DataFrames, materialized — callers
  *    localCheckpoint(true) inside `build`) inside the synchronized
  *    `computeIfAbsent`, so two driver threads can never race the
  *    first materialization of a shared frame (rule 16's hazard);
  *  - ONE eviction listener per (cache, session) — not per entry —
  *    drops the session's entries on application end (ADVICE r12:
  *    the per-entry registration accumulated duplicate listeners).
  *
  * Memoization here NEVER caches across bench/verify runs: each run
  * is a fresh SparkSession, the key includes it, and entries die with
  * it. Within a run it only skips bit-identical recomputes of a
  * deterministic function of (session, dir) — the production shape
  * (train once, ship the artifact to every consumer).
  */
object SessionMemo {
  private val hooked =
    ConcurrentHashMap.newKeySet[(AnyRef, SparkSession)]()

  def cached[V](cache: ConcurrentHashMap[(SparkSession, String), V],
                spark: SparkSession, key: String)(build: => V): V =
    cache.computeIfAbsent((spark, key), _ => {
      evictOnStop(cache, spark)
      build
    })

  /** Store or REPLACE the entry for (session, key). For entries that
    * are valid only while their input is unchanged: the caller checks
    * the held entry against the input's current fingerprint and puts a
    * fresh one on a mismatch, so the cache holds at most one entry per
    * (session, key) however often the input is rewritten. Nothing is
    * built under a lock, so only values that are safe to build twice
    * belong here (a schema, never a DataFrame).
    */
  def put[V](cache: ConcurrentHashMap[(SparkSession, String), V],
             spark: SparkSession, key: String, value: V): Unit = {
    evictOnStop(cache, spark)
    cache.put((spark, key), value)
  }

  private def evictOnStop(cache: ConcurrentHashMap[(SparkSession, String), _],
                          spark: SparkSession): Unit =
    if (hooked.add((cache, spark)))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            end: SparkListenerApplicationEnd): Unit = {
          cache.keySet.removeIf(k => k._1 eq spark)
          hooked.removeIf(t => t._2 eq spark)
        }
      })
}

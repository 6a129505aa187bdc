package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** One memo family: a deterministic per-(session, key) intermediate
  * shared by the queries that read it — the ONLY memo mechanism in
  * graft (the reference's lineage-keyed Pool, PAPER.md §1.1, scoped
  * to the session). Usage:
  *
  * {{{
  * private val phash = new SessionMemo[DataFrame]("phashOf")
  * private def phashOf(spark: SparkSession, dir: String): DataFrame =
  *   phash(spark, dir) {
  *     Multimodal.phashTable(Multimodal.mediaTable(spark, dir)).toDF()
  *       .cut()
  *   }
  * }}}
  *
  * It exists to enforce two hygiene rules in one place:
  *
  *  - the value is BUILT (and, for DataFrames, materialized — callers
  *    take an eager [[Lineage]] `cut()` or persist + count inside
  *    `build`) inside the synchronized `computeIfAbsent`, so two driver
  *    threads can never race the first materialization of a shared frame
  *    (rule 16's hazard);
  *  - no entry outlives its session: ONE `onApplicationEnd` listener
  *    per session evicts that session from every family.
  *
  * Each family owns its own map: builds nest across families
  * (`lpaLabelsOf` → `tradeRelWOf`), and a nested `computeIfAbsent` on
  * one shared map throws `IllegalStateException: Recursive update`.
  *
  * Memoization here NEVER caches across bench/verify runs: each run
  * is a fresh SparkSession, the key includes it, and entries die with
  * it. Within a run it only skips bit-identical recomputes of a
  * deterministic function of (session, key) — the production shape
  * (train once, ship the artifact to every consumer).
  *
  * `name` is the accessor the family backs; PERF.md's memo dependency
  * map lists every family by it (tools/gate.sh checks the two agree).
  */
final class SessionMemo[V](val name: String) {
  private val entries = new ConcurrentHashMap[(SparkSession, String), V]()
  SessionMemo.families.add(this)

  def apply(spark: SparkSession, key: String)(build: => V): V =
    entries.computeIfAbsent((spark, key), _ => {
      SessionMemo.hook(spark)
      build
    })

  private def evict(spark: SparkSession): Unit =
    entries.keySet.removeIf(k => k._1 eq spark)
}

object SessionMemo {
  private val families = ConcurrentHashMap.newKeySet[SessionMemo[_]]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  private def hook(spark: SparkSession): Unit =
    if (hooked.add(spark))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          evict(spark)
      })

  /** What the session's end listener runs: drops `spark`'s entries
    * from every family. */
  private[graft] def evict(spark: SparkSession): Unit = {
    families.forEach(_.evict(spark))
    hooked.remove(spark)
  }
}

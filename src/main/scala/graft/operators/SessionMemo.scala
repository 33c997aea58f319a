package graft.operators

import org.apache.spark.sql.SparkSession

/** The ONLY cross-query memo for shared relations (the r12 verdict's #2
  * ask generalized): each memoized value is keyed by (live-session key,
  * tag) and built at most once per session, so a catalog pass that
  * serves `ann_nsw_topk` standalone and then again inside
  * `ann_recall_report` pays the serve ONCE — production evaluates
  * recall from materialized index outputs, never by re-serving. Tags
  * read `<family>/<stage>/<dir>`; a stage built from other stages reads
  * them through nested `cached` calls.
  *
  * Contract for DataFrame values: producers MUST materialize through
  * [[PinnedStages.sharedCheckpoint]] (never a bare `pinned()`): Bench
  * sweeps transient checkpoint blocks between queries, and a swept
  * localCheckpoint cannot recompute (lineage is truncated) — a memoized
  * transient pin would hand later consumers a dead relation.
  *
  * Eviction (ADVICE r12): entries whose SparkContext has stopped are
  * dropped on every access, so stopped test sessions cannot accumulate
  * stale DataFrames (and their shared-checkpoint references) in a
  * long-lived JVM. Within ONE session the memo is keyed by tag only:
  * a caller that rewrites the data under the same path (e.g. a test
  * regenerating fixtures) must call [[clear]] — the memo cannot see
  * filesystem writes.
  *
  * Between bench passes, [[reset]] drops everything a pass memoized so
  * the next pass re-pays each producer's real cost and the per-query min
  * never underclaims.
  */
object SessionMemo {

  // Lazy holder (ADVICE r13): the map's critical section only INSTALLS
  // the cell — the Spark build itself evaluates outside the object-wide
  // lock, under the cell's own lazy-val monitor. This removes both the
  // reentrant getOrElseUpdate hazard (nested memos — served →
  // prefixViews/nswBuild/linkPredictViews — re-enter cached() while an
  // outer build is running) and the serialization of all memo builds
  // across concurrent sessions. A build that THROWS leaves the lazy
  // uninitialized, so the next caller retries instead of caching the
  // failure.
  private final class Cell(val spark: SparkSession,
      @volatile private var thunk: () => Any) {
    // Null out the thunk after evaluation (ADVICE r14): the closure can
    // capture large driver-side state that would otherwise live as long
    // as the memo entry.
    lazy val value: Any = { val v = thunk(); thunk = null; v }
  }
  private val memo = scala.collection.mutable.Map[(String, String), Cell]()

  private def sessionKey(spark: SparkSession): String =
    spark.sparkContext.applicationId + "/" + spark.sparkContext.startTime

  def cached[T](spark: SparkSession, tag: String)(build: => T): T = {
    val cell = synchronized {
      memo.filterInPlace((_, e) => !e.spark.sparkContext.isStopped)
      memo.getOrElseUpdate((sessionKey(spark), tag),
        new Cell(spark, () => build))
    }
    cell.value.asInstanceOf[T]
  }

  def clear(): Unit = synchronized(memo.clear())

  /** Drops everything memoized across queries, in the one safe order:
    * the entries first, then the AsOfJoin bounds cache, then the shared
    * checkpoint blocks. Releasing the blocks while an entry still holds
    * a DataFrame over them would hand the next reader a dead relation
    * (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`). The blocks are released
    * explicitly because the context cleaner only reclaims them on a GC,
    * which a large heap may never run (the round-7 4-5x bench
    * regression). */
  def reset(spark: SparkSession): Unit = {
    clear()
    AsOfJoin.clearBoundsCache()
    PinnedStages.releaseShared(spark)
  }

  private[graft] def size: Int = synchronized(memo.size)
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming growth accounting — the stateful streaming form of the
  * batch `e17_lifecycle` operator: events arrive continuously and each
  * user's lifecycle transitions (NEW on first activity, RETAINED on a
  * consecutive week, RESURRECTED after a gap, CHURNED for the week right
  * after their last activity once the gap — or the observation horizon —
  * proves it) are emitted exactly once, folded across micro-batches AND
  * restarts.
  *
  * Churn is the interesting state: in batch it is knowable only
  * retrospectively (the NEXT activity, or the horizon, reveals the gap).
  * The stream emits it at the earliest point it becomes TRUE: when a
  * user reappears after a gap (emit churned@last+1 alongside
  * resurrected@now), or when a terminal `__flush` clock tick carries the
  * horizon week past their last activity. On event-time-ordered input
  * with a horizon flush, the drained ledger equals the batch operator
  * cell-for-cell — `StreamingLifecycleSpec` proves it, crafted gaps
  * included.
  *
  * Scale notes: ONE stateful stage keyed by user_id with O(1) state
  * (first week, last week, churn-emitted flag) — no week-set buffering,
  * because on ordered input every transition is decidable from the last
  * week alone. */
object StreamingLifecycle {

  /** Microseconds per week — the same axis as `e17_lifecycle`. */
  val WeekUs = 604800000000L

  final case class WkIn(userId: Long, wk: Long, flush: Boolean)

  /** `churnEmitted`: the churn row for `lastWk + 1` is already out
    * (a second flush, or activity following a flush-observed gap, must
    * not duplicate it). `horizonWk`: the max flush week observed for
    * this user (-1 before any flush) — flush ticks are STRICTLY
    * TERMINAL for the weeks they cover: a flush at week w asserts "no
    * more activity at weeks <= w", because a flush at lastWk+1 emits
    * that week's churn row and later activity in the same week would
    * add a retained/resurrected row the append sink cannot retract
    * (a (user, week) with BOTH churned and retained — a ledger batch
    * e17 can never produce). Violations fail loudly in [[advance]]. */
  final case class LcState(firstWk: Long, lastWk: Long, churnEmitted: Boolean,
      horizonWk: Long = -1L)

  final case class LcRow(userId: Long, wk: Long, state: String)

  /** One user's fold for one micro-batch. Exposed for unit testing. */
  private[graft] def advance(userId: Long, incoming: Seq[WkIn],
      prev: Option[LcState]): (Option[LcState], Seq[LcRow]) = {
    val out = scala.collection.mutable.Buffer[LcRow]()
    var st: Option[LcState] = prev
    incoming.sortBy(e => (e.wk, e.flush)).foreach { e =>
      if (e.flush) {
        st = st.map { s =>
          if (!s.churnEmitted && s.lastWk + 1 <= e.wk) {
            out += LcRow(userId, s.lastWk + 1, "churned")
            s.copy(churnEmitted = true, horizonWk = math.max(s.horizonWk, e.wk))
          } else s.copy(horizonWk = math.max(s.horizonWk, e.wk))
        }
      } else st match {
        case Some(s) if e.wk <= s.horizonWk =>
          // A flush at week w is a terminal assertion for weeks <= w: the
          // churn row for this gap may already be in the append sink, and
          // a retained/resurrected row for the same (user, week) could
          // never be retracted. Fail loudly — the input violated the
          // flush contract, the ledger must not silently corrupt.
          throw new IllegalStateException(
            s"StreamingLifecycle: user $userId activity at week ${e.wk} arrived " +
              s"after a flush at week ${s.horizonWk}; flush ticks are terminal " +
              "for the weeks they cover")
        case None =>
          out += LcRow(userId, e.wk, "new")
          st = Some(LcState(e.wk, e.wk, churnEmitted = false))
        case Some(s) if e.wk == s.lastWk => () // same week, already ledgered
        case Some(s) if e.wk == s.lastWk + 1 =>
          out += LcRow(userId, e.wk, "retained")
          st = Some(s.copy(lastWk = e.wk, churnEmitted = false))
        case Some(s) => // gap: the churn (if not flush-observed) and the return
          if (!s.churnEmitted) out += LcRow(userId, s.lastWk + 1, "churned")
          out += LcRow(userId, e.wk, "resurrected")
          st = Some(s.copy(lastWk = e.wk, churnEmitted = false))
      }
    }
    (st, out.toSeq)
  }

  /** Run the lifecycle stream over the shared parquet drop schema
    * (user_id, event_type, t_us, event_id) until all dropped files are
    * processed (AvailableNow). `__flush` rows advance the horizon clock
    * for every user they address. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = "user_id LONG, event_type STRING, t_us LONG, event_id LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val rows = incoming
      .selectExpr("user_id", s"t_us div $WeekUs AS wk",
        "event_type = '__flush' AS flush")
      .as[(Long, Long, Boolean)]
      .map { case (u, w, f) => WkIn(u, w, f) }
      .groupByKey(_.userId)
      .flatMapGroupsWithState[LcState, LcRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[WkIn], state: GroupState[LcState]) =>
          val (next, out) = advance(userId, it.toSeq, state.getOption)
          next.foreach(state.update)
          out.iterator
      }
    MicroBatch.drainToParquet(rows.toDF("user_id", "wk", "state"), sinkDir, checkpointDir)
  }

  /** The weekly ledger from the append sink, batch-shaped: weeks
    * relative to the minimum NON-FLUSH week observed (same origin as
    * batch e17, whose epoch is the corpus-min week — every user's first
    * event emits a 'new' row, so min(emitted wk over 'new') IS it). */
  def ledger(spark: SparkSession, sinkDir: String): DataFrame = {
    spark.read.parquet(sinkDir).createOrReplaceTempView("lc_sink_t")
    spark.sql(
      """WITH w0 AS (SELECT min(wk) AS w0 FROM lc_sink_t WHERE state = 'new')
        |SELECT CAST(s.wk - x.w0 AS BIGINT) AS week, s.state,
        |       CAST(count(*) AS BIGINT) AS users
        |FROM lc_sink_t s CROSS JOIN w0 x
        |GROUP BY s.wk - x.w0, s.state""".stripMargin)
  }
}

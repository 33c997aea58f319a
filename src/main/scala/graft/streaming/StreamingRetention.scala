package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming weekly-cohort retention — the stateful streaming form of the
  * batch `e11_retention` operator (the [[StreamingFunnel]] sibling the
  * r10 verdict asked for): events arrive continuously, each user's
  * first-seen week and already-reported active weeks are folded forward
  * across micro-batches AND restarts, and a row is emitted the first time
  * a user is active in a week. The batch query answers "the cohort
  * triangle over all history"; this maintains it continuously.
  *
  * Semantics vs the batch form: first-seen week is FORWARD-ONLY — once
  * set it never moves. On event-time-ordered input (the LSN-order
  * guarantee the CDC half provides, and what `StreamingRetentionSpec`
  * feeds) the first week encountered IS the batch `min(wk)`, so the
  * drained cohort cells equal the batch answer exactly. Under
  * out-of-order arrival an earlier week surfacing late would, in batch,
  * re-anchor the user's cohort and shift every offset; the stream keeps
  * the first-seen anchor and reports the late week at a negative offset —
  * the [[StreamingFunnel]] divergence discipline: documented, not hidden.
  *
  * Scale notes: ONE stateful stage keyed by user_id; state = first week
  * plus the user's distinct active weeks (bounded by corpus duration in
  * weeks — tens of longs per user per year; a production deployment caps
  * it with an event-time timeout on dormant users). Emission is
  * once-per-(user, week) by construction, so the sink aggregation never
  * needs re-deduplication — `count(DISTINCT user_id)` is kept only to
  * match the batch spelling.
  */
object StreamingRetention {

  /** Microseconds per week — the SAME constant as `e11_retention`'s
    * `div 604800000000`. */
  val WeekUs = 604800000000L

  final case class WeekIn(userId: Long, wk: Long)

  /** firstWk = the user's cohort anchor; seen = weeks already emitted. */
  final case class RetState(firstWk: Long, seen: Seq[Long])

  final case class WeekRow(userId: Long, firstWk: Long, wk: Long)

  /** One user's fold for one micro-batch: anchor the cohort on the
    * earliest incoming week if unset, emit each not-yet-seen week once.
    * Exposed for direct unit testing. */
  private[graft] def advance(userId: Long, incoming: Seq[Long],
      prev: Option[RetState]): (RetState, Seq[WeekRow]) = {
    val weeks = incoming.distinct.sorted
    val first = prev.map(_.firstWk).getOrElse(weeks.min)
    val seen = prev.map(_.seen.toSet).getOrElse(Set.empty[Long])
    val fresh = weeks.filterNot(seen)
    (RetState(first, (seen ++ fresh).toSeq.sorted),
      fresh.map(w => WeekRow(userId, first, w)))
  }

  /** Run the retention stream over a parquet drop directory of
    * (user_id, event_type, t_us, event_id) rows — the same drop schema as
    * [[StreamingFunnel]], so one event feed drives both — until all
    * dropped files are processed (AvailableNow). Emits one row per (user,
    * active week), exactly once; restarting with the same checkpoint
    * resumes every user's anchor and seen set. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = "user_id LONG, event_type STRING, t_us LONG, event_id LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val rows = incoming
      // The ONE week spelling, shared with the batch operator's axis.
      .selectExpr("user_id", s"t_us div $WeekUs AS wk")
      .as[(Long, Long)]
      .map { case (u, w) => WeekIn(u, w) }
      .groupByKey(_.userId)
      .flatMapGroupsWithState[RetState, WeekRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[WeekIn], state: GroupState[RetState]) =>
          val (next, out) = advance(userId, it.map(_.wk).toSeq, state.getOption)
          state.update(next)
          out.iterator
      }
    MicroBatch.drainToParquet(rows.toDF("user_id", "first_wk", "wk"), sinkDir, checkpointDir)
  }

  /** The cohort triangle from the append sink — the same cell definition
    * as batch `e11_retention`: cohort week relative to the corpus-min
    * week, offset relative to the user's anchor. Every (user, week) row
    * appears exactly once, and the corpus-min week equals the minimum
    * emitted week (every event's week is emitted for its user), so this
    * reproduces the batch cells on ordered input. */
  def cohortCells(spark: SparkSession, sinkDir: String): DataFrame = {
    spark.read.parquet(sinkDir).createOrReplaceTempView("retention_rows_t")
    spark.sql(
      """WITH epoch0 AS (SELECT min(wk) AS w0 FROM retention_rows_t)
        |SELECT CAST(first_wk - x.w0 AS BIGINT) AS cohort_week,
        |       CAST(wk - first_wk AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS users
        |FROM retention_rows_t CROSS JOIN epoch0 x
        |GROUP BY first_wk - x.w0, wk - first_wk""".stripMargin)
  }
}

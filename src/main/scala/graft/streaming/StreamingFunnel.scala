package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming conversion-funnel tracking — the stateful streaming form of
  * the batch `e10_funnel` operator: events arrive continuously and each
  * user's strict signup → view-after → purchase-after progress is folded
  * forward across micro-batches AND restarts (the stage times live in
  * the state store / checkpoint). The batch query answers "where did
  * every user end up"; this answers it continuously, emitting a row
  * whenever a user advances a stage.
  *
  * Semantics vs the batch form: the strict funnel is FORWARD-ONLY — a
  * stage time, once set, never moves. On input delivered in event-time
  * order (the LSN-order guarantee the CDC half of this repo provides,
  * and what `StreamingFunnelSpec` feeds) the fold lands exactly the
  * batch answer: the first qualifying event encountered in order IS the
  * batch min. Under out-of-order arrival the batch operator would
  * retroactively prefer an earlier qualifying event; the stream cannot
  * (it discarded the events), so state keeps the first-seen qualifier —
  * the standard streaming-funnel trade, documented rather than hidden
  * (the StreamingPassageDedup divergence discipline).
  *
  * Scale notes: ONE stateful stage keyed by user_id — state is three
  * longs per user, hash-partitioned like every keyed state store here;
  * per-batch work is a narrow projection plus the per-user fold. No
  * timeout (a funnel never expires in the fixture; a production
  * deployment bounds state with an event-time timeout on stale users).
  */
object StreamingFunnel {

  final case class EventIn(userId: Long, eventType: String, tUs: Long, eventId: Long)

  /** Stage times; -1 = not reached. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)

  final case class StageRow(userId: Long, stageReached: Int,
      signupUs: Long, firstViewUs: Option[Long], firstPurchaseUs: Option[Long])

  /** The forward-only fold for one user's micro-batch, events applied in
    * (event time, event id) order. Exposed for direct unit testing. */
  private[graft] def fold(rows: Seq[EventIn], prev: FunnelState): FunnelState = {
    var s = prev
    rows.sortBy(r => (r.tUs, r.eventId)).foreach { r =>
      r.eventType match {
        case "signup" if s.t1 < 0 => s = s.copy(t1 = r.tUs)
        case "view" if s.t1 >= 0 && s.t2 < 0 && r.tUs > s.t1 => s = s.copy(t2 = r.tUs)
        case "purchase" if s.t2 >= 0 && s.t3 < 0 && r.tUs > s.t2 => s = s.copy(t3 = r.tUs)
        case _ =>
      }
    }
    s
  }

  private def stageOf(s: FunnelState): Int =
    if (s.t3 >= 0) 3 else if (s.t2 >= 0) 2 else if (s.t1 >= 0) 1 else 0

  /** Run the funnel stream over a parquet drop directory of
    * (user_id, event_type, t_us, event_id) rows until all dropped files
    * are processed (AvailableNow). Emits one StageRow per user per batch
    * in which the user ADVANCED (append mode); the latest row per user
    * is the funnel position. Restarting with the same checkpoint resumes
    * every user's stage times. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = "user_id LONG, event_type STRING, t_us LONG, event_id LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val rows = incoming
      .selectExpr("user_id", "event_type", "t_us", "event_id")
      .as[(Long, String, Long, Long)]
      .map { case (u, e, t, id) => EventIn(u, e, t, id) }
      .groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, StageRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[EventIn], state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val next = fold(it.toSeq, prev)
          state.update(next)
          if (next != prev && next.t1 >= 0)
            Iterator(StageRow(userId, stageOf(next), next.t1,
              Option(next.t2).filter(_ >= 0), Option(next.t3).filter(_ >= 0)))
          else Iterator.empty
      }
    MicroBatch.drainToParquet(rows.toDF("user_id", "stage_reached", "signup_us",
        "first_view_us", "first_purchase_us"), sinkDir, checkpointDir)
  }

  /** The latest funnel position per user from the append sink: the fold
    * is forward-only, so the max (stage, t2, t3) row IS the newest. */
  def positions(spark: SparkSession, sinkDir: String): DataFrame = {
    spark.read.parquet(sinkDir).createOrReplaceTempView("funnel_rows_t")
    spark.sql(
      """SELECT user_id, stage_reached, signup_us, first_view_us, first_purchase_us
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY stage_reached DESC,
        |                 coalesce(first_purchase_us, -1) DESC,
        |                 coalesce(first_view_us, -1) DESC) AS rnk
        |      FROM funnel_rows_t)
        |WHERE rnk = 1""".stripMargin)
  }
}

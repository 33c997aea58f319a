package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization — the stateful streaming form of the batch
  * `e9_sessionize` operator (gap-based session windows, the canonical
  * `flatMapGroupsWithState` use case): events arrive continuously, each
  * user's OPEN session (start, last activity, counters, first/last event
  * ids) and session ordinal are folded forward across micro-batches AND
  * restarts, and a session row is emitted exactly when the session
  * CLOSES — the next event (or an explicit `__flush` clock tick) lands
  * more than [[GapUs]] after the last activity. Ordinals are assigned in
  * arrival order, so on event-time-ordered input (the repo's
  * ordered-delivery guarantee) the emitted rows equal the batch
  * operator's sessions row-for-row, including sessions that SPAN a
  * restart boundary — `StreamingSessionizeSpec` proves it.
  *
  * The `__flush` event type advances a user's clock without contributing
  * an event: it closes the open session if the gap has passed and is
  * otherwise a no-op. A production deployment gets the same effect from
  * `GroupStateTimeout.EventTimeTimeout` against the watermark; the
  * explicit tick keeps the drain deterministic under `AvailableNow`
  * (where the final watermark never advances past the last file).
  *
  * Scale notes: ONE stateful stage keyed by user_id; state is O(1) per
  * user (one open session + one ordinal — no event buffering, because
  * gap sessionization is a running fold, not a window join). Emission is
  * once-per-closed-session by construction.
  */
object StreamingSessionize {

  /** Session gap — the SAME constant as `e9_sessionize`'s
    * `t_us - lag(t_us) > 20000000000`. */
  val GapUs = 20000000000L

  final case class EvIn(userId: Long, tUs: Long, eventId: Long, flush: Boolean)

  final case class Open(startUs: Long, lastUs: Long, events: Long,
      firstEvent: Long, lastEvent: Long)

  /** `lastOrdinal` = ordinal of the open session, or of the most
    * recently closed one when `open` is None (ordinals keep counting
    * across flush-closed sessions). */
  final case class SessState(lastOrdinal: Long, open: Option[Open])

  final case class SessRow(userId: Long, sessionId: Long, events: Long,
      durationMs: Long, firstEvent: Long, lastEvent: Long)

  private def toRow(userId: Long, ord: Long, o: Open): SessRow =
    SessRow(userId, ord, o.events, (o.lastUs - o.startUs) / 1000L,
      o.firstEvent, o.lastEvent)

  /** One user's fold for one micro-batch. Exposed for direct unit
    * testing. */
  private[graft] def advance(userId: Long, incoming: Seq[EvIn],
      prev: Option[SessState]): (SessState, Seq[SessRow]) = {
    val evs = incoming.sortBy(e => (e.tUs, e.eventId))
    var lastOrd = prev.map(_.lastOrdinal).getOrElse(0L)
    var open: Option[Open] = prev.flatMap(_.open)
    val closed = scala.collection.mutable.Buffer[SessRow]()
    evs.foreach { e =>
      if (e.flush) {
        open match {
          case Some(o) if e.tUs - o.lastUs > GapUs =>
            closed += toRow(userId, lastOrd, o); open = None
          case _ => ()
        }
      } else open match {
        case Some(o) if e.tUs - o.lastUs > GapUs =>
          closed += toRow(userId, lastOrd, o)
          lastOrd += 1
          open = Some(Open(e.tUs, e.tUs, 1L, e.eventId, e.eventId))
        case Some(o) =>
          open = Some(o.copy(lastUs = e.tUs, events = o.events + 1L,
            lastEvent = e.eventId))
        case None =>
          lastOrd += 1
          open = Some(Open(e.tUs, e.tUs, 1L, e.eventId, e.eventId))
      }
    }
    (SessState(lastOrd, open), closed.toSeq)
  }

  /** Run the sessionization stream over a parquet drop directory of
    * (user_id, event_type, t_us, event_id) rows — the shared drop schema
    * of [[StreamingFunnel]]/[[StreamingRetention]] — until all dropped
    * files are processed (AvailableNow). Emits one row per CLOSED
    * session; restarting with the same checkpoint resumes every user's
    * open session and ordinal. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = "user_id LONG, event_type STRING, t_us LONG, event_id LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val rows = incoming
      .selectExpr("user_id", "t_us", "event_id",
        "event_type = '__flush' AS flush")
      .as[(Long, Long, Long, Boolean)]
      .map { case (u, t, id, f) => EvIn(u, t, id, f) }
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessState, SessRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[EvIn], state: GroupState[SessState]) =>
          val (next, out) = advance(userId, it.toSeq, state.getOption)
          state.update(next)
          out.iterator
      }
    MicroBatch.drainToParquet(rows.toDF("user_id", "session_id", "events", "duration_ms",
      "first_event", "last_event"), sinkDir, checkpointDir)
  }

  /** The closed sessions from the append sink, batch-shaped (same
    * columns as `e9_sessionize`). */
  def sessions(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(sinkDir)
      .selectExpr("user_id", "session_id", "events", "duration_ms",
        "first_event", "last_event")
}

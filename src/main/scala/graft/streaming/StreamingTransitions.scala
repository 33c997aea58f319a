package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming transition mining — the stateful streaming form of the batch
  * `e13_transitions` operator: events arrive continuously; each user's
  * LAST event type is the state; every event emits its (from, to)
  * transition increment exactly once, and the sink's aggregation is the
  * continuously-maintained Markov matrix. The state is one string per
  * user — the smallest stateful-streaming footprint in the repo.
  *
  * Equivalence contract (StreamingTransitionsSpec, through a restart): on
  * event-time-ordered input the drained (from, to) counts equal the
  * batch operator's counts exactly (the lag() window's pair set). Late
  * events would, in batch, splice INTO a user's sequence and rewrite two
  * transitions; the stream appends at the current tail — the documented
  * divergence, same discipline as the other streaming forms.
  */
object StreamingTransitions {

  final case class EventIn(userId: Long, tUs: Long, eventId: Long,
      eventType: String)

  final case class TransitionRow(userId: Long, fromType: String,
      toType: String, tUs: Long)

  /** One user's fold for one micro-batch: events in (t_us, event_id)
    * order; each emits (prev, current) once prev exists. Exposed for
    * direct unit testing. */
  private[graft] def advance(userId: Long, incoming: Seq[EventIn],
      prev: Option[String]): (String, Seq[TransitionRow]) = {
    val events = incoming.sortBy(e => (e.tUs, e.eventId))
    var last = prev
    val out = Seq.newBuilder[TransitionRow]
    events.foreach { e =>
      last.foreach(f => out += TransitionRow(userId, f, e.eventType, e.tUs))
      last = Some(e.eventType)
    }
    (last.get, out.result())
  }

  /** Run over the shared parquet drop schema (user_id, event_type, t_us,
    * event_id); emits one row per transition exactly once across
    * restarts. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = "user_id LONG, event_type STRING, t_us LONG, event_id LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val rows = incoming
      .selectExpr("user_id", "t_us", "event_id", "event_type")
      .as[(Long, Long, Long, String)]
      .map { case (u, t, i, et) => EventIn(u, t, i, et) }
      .groupByKey(_.userId)
      .flatMapGroupsWithState[String, TransitionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (u: Long, it: Iterator[EventIn], state: GroupState[String]) =>
          val (next, out) = advance(u, it.toSeq, state.getOption)
          state.update(next)
          out.iterator
      }
    MicroBatch.drainToParquet(rows, sinkDir, checkpointDir)
  }

  /** The continuously-maintained matrix from the drained transitions. */
  def matrix(spark: SparkSession, sinkDir: String): DataFrame = {
    spark.read.parquet(sinkDir)
      .groupBy("fromType", "toType")
      .count()
      .selectExpr("fromType AS from_type", "toType AS to_type",
        "count AS n")
  }
}

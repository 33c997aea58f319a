package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming path mining — the stateful streaming form of the batch
  * `e16_path_trigrams` operator: each user's state is their last TWO
  * event types; every event (once two predecessors exist) emits its
  * length-3 path exactly once, and the sink's aggregation is the
  * continuously-maintained journey table. The k=3 generalization of
  * [[StreamingTransitions]] (whose state is one type).
  *
  * Equivalence contract (StreamingPathTrigramsSpec, through a restart):
  * on event-time-ordered input the drained path counts equal the batch
  * operator's full path table exactly (the two stacked lag() windows).
  * The batch query's top-20 cut is presentation; the stream maintains
  * the full table and the report applies the same deterministic cut.
  */
object StreamingPathTrigrams {

  final case class EventIn(userId: Long, tUs: Long, eventId: Long,
      eventType: String)

  /** (second-to-last, last) event types; empty string = not yet seen. */
  final case class PathState(prev2: String, prev1: String)

  final case class PathRow(userId: Long, step1: String, step2: String,
      step3: String, tUs: Long)

  /** One user's fold for one micro-batch: events in (t_us, event_id)
    * order; each emits (prev2, prev1, current) once both exist. */
  private[graft] def advance(userId: Long, incoming: Seq[EventIn],
      prev: PathState): (PathState, Seq[PathRow]) = {
    // Null event types (nullable drop schema) are skipped rather than
    // stored: a null in state would NPE the nonEmpty guard on the next
    // event and poison the checkpoint across restarts.
    val events = incoming.filter(_.eventType != null)
      .sortBy(e => (e.tUs, e.eventId))
    var st = prev
    val out = Seq.newBuilder[PathRow]
    events.foreach { e =>
      if (st.prev2.nonEmpty)
        out += PathRow(userId, st.prev2, st.prev1, e.eventType, e.tUs)
      st = PathState(st.prev1, e.eventType)
    }
    (st, out.result())
  }

  /** Run over the shared parquet drop schema (user_id, event_type, t_us,
    * event_id); emits one row per completed path exactly once across
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
      .flatMapGroupsWithState[PathState, PathRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (u: Long, it: Iterator[EventIn], state: GroupState[PathState]) =>
          val (next, out) = advance(u, it.toSeq,
            state.getOption.getOrElse(PathState("", "")))
          state.update(next)
          out.iterator
      }
    MicroBatch.drainToParquet(rows, sinkDir, checkpointDir)
  }

  /** The continuously-maintained path table from the drained rows. */
  def paths(spark: SparkSession, sinkDir: String): DataFrame = {
    spark.read.parquet(sinkDir)
      .groupBy("step1", "step2", "step3")
      .count()
      .selectExpr("step1", "step2", "step3", "count AS n")
  }
}

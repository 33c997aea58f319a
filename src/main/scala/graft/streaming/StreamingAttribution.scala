package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming multi-touch attribution — the stateful streaming form of the
  * batch `e15_attribution` operator: events arrive continuously; each
  * user's state is the pair (first marketing touch ever seen, latest
  * marketing touch so far); every purchase emits its attribution row
  * exactly once at purchase time, and the sink's aggregation is the
  * continuously-maintained (first_touch, last_touch) spend report. State
  * is two strings per user — purchases never wait for a window to close,
  * so the report is as fresh as the last micro-batch.
  *
  * Equivalence contract (StreamingAttributionSpec, through a restart): on
  * event-time-ordered input the drained per-purchase rows reproduce the
  * batch operator's report exactly (the IGNORE NULLS running first/last
  * window). A late touch would, in batch, re-attribute every later
  * purchase; the stream attributed those purchases at their arrival —
  * the documented divergence, same discipline as the other streaming
  * forms.
  */
object StreamingAttribution {

  /** Touch types that participate in attribution (the e15 set). */
  val TouchTypes: Set[String] = Set("click", "view", "signup")

  final case class EventIn(userId: Long, tUs: Long, eventId: Long,
      eventType: String, valueCents: Long)

  /** (first touch ever, latest touch) — None until a touch arrives. */
  final case class TouchState(first: Option[String], last: Option[String])

  final case class PurchaseRow(userId: Long, firstTouch: String,
      lastTouch: String, valueCents: Long, tUs: Long)

  /** One user's fold for one micro-batch: events in (t_us, event_id)
    * order; purchases emit against the state as of their position.
    * Exposed for direct unit testing. */
  private[graft] def advance(userId: Long, incoming: Seq[EventIn],
      prev: TouchState): (TouchState, Seq[PurchaseRow]) = {
    val events = incoming.sortBy(e => (e.tUs, e.eventId))
    var st = prev
    val out = Seq.newBuilder[PurchaseRow]
    events.foreach { e =>
      if (e.eventType == "purchase")
        out += PurchaseRow(userId, st.first.getOrElse("organic"),
          st.last.getOrElse("organic"), e.valueCents, e.tUs)
      else if (TouchTypes(e.eventType))
        st = TouchState(st.first.orElse(Some(e.eventType)), Some(e.eventType))
    }
    (st, out.result())
  }

  /** Run over the shared parquet drop schema (user_id, event_type, t_us,
    * event_id, value_cents); emits one row per purchase exactly once
    * across restarts. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema =
      "user_id LONG, event_type STRING, t_us LONG, event_id LONG, value_cents LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val rows = incoming
      .selectExpr("user_id", "t_us", "event_id", "event_type", "value_cents")
      .as[(Long, Long, Long, String, Long)]
      .map { case (u, t, i, et, c) => EventIn(u, t, i, et, c) }
      .groupByKey(_.userId)
      .flatMapGroupsWithState[TouchState, PurchaseRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (u: Long, it: Iterator[EventIn], state: GroupState[TouchState]) =>
          val (next, out) =
            advance(u, it.toSeq, state.getOption.getOrElse(TouchState(None, None)))
          state.update(next)
          out.iterator
      }
    MicroBatch.drainToParquet(rows, sinkDir, checkpointDir)
  }

  /** The continuously-maintained report from the drained purchases —
    * the batch e15 column shape. */
  def report(spark: SparkSession, sinkDir: String): DataFrame = {
    spark.read.parquet(sinkDir)
      .groupBy("firstTouch", "lastTouch")
      .agg(org.apache.spark.sql.functions.expr("CAST(count(*) AS BIGINT)").as("purchases"),
        org.apache.spark.sql.functions.expr("CAST(sum(valueCents) AS BIGINT)").as("revenue_cents"),
        org.apache.spark.sql.functions.expr("CAST(count(DISTINCT userId) AS BIGINT)").as("users"))
      .selectExpr("firstTouch AS first_touch", "lastTouch AS last_touch",
        "purchases", "revenue_cents", "users")
  }
}

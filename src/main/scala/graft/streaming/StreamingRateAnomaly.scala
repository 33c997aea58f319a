package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming rate-anomaly detection — the stateful streaming form of the
  * batch `e12_rate_anomaly` operator: events arrive continuously; each
  * event type holds its OPEN hour bucket plus the trailing three CLOSED
  * bucket counts in state; when event time advances past a bucket it
  * closes — emitting its count, baseline, and integer spike ratio exactly
  * once. The monitoring alert ("this feed is suddenly hot") fires
  * per-bucket as the stream runs instead of in a nightly batch.
  *
  * Equivalence contract (StreamingRateAnomalySpec, through a restart): on
  * event-time-ordered input the drained rows equal the batch operator's
  * output minus each type's LAST bucket (still open in state — batch sees
  * the corpus end, a stream cannot). The baseline is the previous ≤3
  * EXISTING buckets — the batch window's `ROWS BETWEEN 3 PRECEDING AND 1
  * PRECEDING` over the bucket series, so calendar gaps behave
  * identically. Late events for an already-closed bucket are DROPPED (the
  * watermark discipline — batch would revise the bucket; the divergence
  * is documented, not hidden).
  *
  * Scale notes: state per event type is four longs + the open count —
  * constant. The keyed stage shuffles the micro-batch's events on the
  * type key (the per-hour combine happens inside the fold); with very
  * hot types a production deployment pre-buckets per batch
  * (foreachBatch: groupBy(type, hr).count, then the stateful fold) so
  * only (type, hour) partials cross the shuffle.
  */
object StreamingRateAnomaly {

  /** Microseconds per hour — the batch operator's `div 3600000000` axis. */
  val HourUs = 3600000000L

  final case class BucketIn(eventType: String, hr: Long, n: Long)

  /** Open bucket + trailing closed counts (most recent LAST). */
  final case class RateState(openHr: Long, openN: Long, trail: Seq[Long])

  final case class RateRow(eventType: String, hr: Long, n: Long,
      baseSum: Long, baseCnt: Long, spikeRatioMicro: Option[Long],
      isSpike: Boolean)

  private def close(eventType: String, hr: Long, n: Long,
      trail: Seq[Long]): RateRow = {
    val baseSum = trail.sum
    val baseCnt = trail.length.toLong
    val ratio = if (baseSum > 0) Some(n * 1000000L * baseCnt / baseSum) else None
    RateRow(eventType, hr, n, baseSum, baseCnt, ratio,
      ratio.exists(_ > 2000000L))
  }

  /** One type's fold for one micro-batch: per-bucket increments in hour
    * order; buckets strictly before the open one are late — dropped.
    * Exposed for direct unit testing. */
  private[graft] def advance(eventType: String, incoming: Seq[(Long, Long)],
      prev: Option[RateState]): (RateState, Seq[RateRow]) = {
    val byHr = incoming.groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).sum }
      .toSeq.sortBy(_._1)
    var state = prev
    val out = Seq.newBuilder[RateRow]
    byHr.foreach { case (hr, n) =>
      state match {
        case None => state = Some(RateState(hr, n, Nil))
        case Some(s) if hr == s.openHr =>
          state = Some(s.copy(openN = s.openN + n))
        case Some(s) if hr > s.openHr =>
          out += close(eventType, s.openHr, s.openN, s.trail)
          state = Some(RateState(hr, n, (s.trail :+ s.openN).takeRight(3)))
        case Some(_) => () // late bucket: dropped (documented divergence)
      }
    }
    (state.get, out.result())
  }

  /** Run over the shared parquet drop schema (user_id, event_type, t_us,
    * event_id) until all dropped files are processed; emits one row per
    * CLOSED (type, hour) bucket exactly once across restarts. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = "user_id LONG, event_type STRING, t_us LONG, event_id LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val rows = incoming
      .selectExpr("event_type", s"t_us div $HourUs AS hr")
      .as[(String, Long)]
      .map { case (t, h) => BucketIn(t, h, 1L) }
      .groupByKey(_.eventType)
      .flatMapGroupsWithState[RateState, RateRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (t: String, it: Iterator[BucketIn], state: GroupState[RateState]) =>
          val (next, out) =
            advance(t, it.map(b => (b.hr, b.n)).toSeq, state.getOption)
          state.update(next)
          out.iterator
      }
    MicroBatch.drainToParquet(rows, sinkDir, checkpointDir)
  }

  /** Drained rows renamed to the batch operator's schema. */
  def drained(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(sinkDir)
      .selectExpr("eventType AS event_type", "hr", "n",
        "baseSum AS base_sum", "baseCnt AS base_cnt",
        "spikeRatioMicro AS spike_ratio_micro", "isSpike AS is_spike")
}

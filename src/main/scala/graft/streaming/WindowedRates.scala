package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time windowed throughput — the streaming analog of the batch
  * `d5_rows_per_second` query and of the reference's per-interval rate
  * metrics (`metric_reporting/metrics.py` interval counters, emitted once
  * per poll cycle).
  *
  * The batch query divides one global count by one global time span; a
  * stream can't do that (the span never ends), so the streaming form is
  * the standard Structured Streaming shape: tumbling event-time windows
  * with a watermark. The watermark is what makes this 100 TB-safe — state
  * for a (window, operation) group is dropped as soon as the watermark
  * passes the window end, so state size is bounded by (windows in the
  * watermark horizon × operations), independent of stream length. Without
  * it, a windowed agg on an unbounded stream grows state forever.
  *
  * Late rows inside the delay are merged into their (still-open) window;
  * rows later than the watermark are dropped — mirroring the reference's
  * behavior of attributing each change to the poll interval that OBSERVED
  * it, not re-opening published counters.
  */
object WindowedRates {

  /** Tumbling-window counts + rates per operation. `changes` may be a
    * streaming OR batch DataFrame with `eventTimeCol` (timestamp) and
    * `operation` columns; on a batch frame the watermark is a no-op and
    * the same code produces the full history (the classic
    * batch-for-backfill / stream-for-tail reuse Spark enables).
    *
    * Windows are emitted (append mode) only once closed by the watermark,
    * so downstream consumers see each (window, operation) row exactly
    * once — final, never revised, matching the reference's
    * publish-once-per-interval metric contract.
    */
  def windowedCounts(changes: DataFrame, eventTimeCol: String,
      windowDur: String, watermarkDelay: String): DataFrame =
    changes
      .withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(window(col(eventTimeCol), windowDur), col("operation"))
      .agg(count(lit(1)).as("rows"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("operation"),
        col("rows"),
        (col("rows").cast("double") /
          (unix_timestamp(col("window.end")) -
            unix_timestamp(col("window.start"))).cast("double"))
          .as("rows_per_sec"))

  /** Session-window counts per key — the STREAMING form of the batch
    * `e9_sessionize` query: Spark's native `session_window` merges events
    * within `gap` of each other into one growing window, and the
    * watermark both closes sessions (append mode emits a session exactly
    * once, when no in-gap event can still arrive) and bounds the state:
    * open sessions older than the watermark horizon are evicted. Same
    * contract as [[windowedCounts]]; works on batch frames too. */
  def sessionCounts(events: DataFrame, eventTimeCol: String,
      gap: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(eventTimeCol, watermarkDelay)
      .groupBy(session_window(col(eventTimeCol), gap), col("operation"))
      .agg(count(lit(1)).as("rows"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("operation"),
        col("rows"))

  /** Run the monitor over a parquet change-feed directory into a parquet
    * sink, one file batch per trigger. Append mode: only watermark-closed
    * windows land in the sink. */
  def run(spark: org.apache.spark.sql.SparkSession, feedDir: String,
      sinkDir: String, checkpointDir: String,
      eventTimeCol: String = "ts", windowDur: String = "10 seconds",
      watermarkDelay: String = "10 seconds"): Unit = {
    val in = MicroBatch.fileSource(spark, spark.read.parquet(feedDir).schema, feedDir)
    MicroBatch.drainToParquet(
      windowedCounts(in, eventTimeCol, windowDur, watermarkDelay), sinkDir, checkpointDir)
  }
}

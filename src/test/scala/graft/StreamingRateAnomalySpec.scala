package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticCdc
import graft.streaming.StreamingRateAnomaly

/** Streaming rate anomaly: drained closed buckets equal the batch
  * `e12_rate_anomaly` output minus each type's final (still-open) bucket,
  * through a checkpoint restart; the fold's edge cases directly. */
class StreamingRateAnomalySpec extends AnyFunSuite with LocalSpark {

  private var work: String = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("stream-rate").toString
  }

  test("two waves with a restart equal batch minus the open buckets") {
    val drop = s"$work/drop"; val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    new java.io.File(drop).mkdirs()
    val ev = SyntheticCdc.events(spark, dir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS t_us", "event_id")
      .orderBy("t_us", "event_id").cache()
    try {
      val cut = ev.selectExpr("percentile(t_us, 0.5)").head.getDouble(0).toLong
      ev.filter(col("t_us") <= cut).coalesce(1).write.mode("append").parquet(drop)
      StreamingRateAnomaly.run(spark, drop, sink, ckpt)
      ev.filter(col("t_us") > cut).coalesce(1).write.mode("append").parquet(drop)
      StreamingRateAnomaly.run(spark, drop, sink, ckpt)

      val streamed = StreamingRateAnomaly.drained(spark, sink)
      val batch = SparkEntry.queries("e12_rate_anomaly")(spark, dir)
      // Batch minus each type's LAST bucket (still open in stream state).
      val lastHr = batch.groupBy("event_type").agg(max("hr").as("last_hr"))
      val expected = batch.join(lastHr, "event_type")
        .filter(col("hr") < col("last_hr"))
        .select("event_type", "hr", "n", "base_sum", "base_cnt",
          "spike_ratio_micro", "is_spike")
      assert(streamed.exceptAll(expected).isEmpty &&
        expected.exceptAll(streamed).isEmpty,
        "streamed closed buckets diverge from batch")
      // Exactly-once per bucket across the restart.
      assert(streamed.groupBy("event_type", "hr").count()
        .filter(col("count") > 1).count() === 0L)
      assert(streamed.count() > 0L)
    } finally ev.unpersist()
  }

  test("advance: baseline windows, gaps, late drops") {
    import StreamingRateAnomaly.{advance, RateState}
    // Fresh state opens without emitting.
    val (s1, o1) = advance("t", Seq((10L, 2L), (10L, 1L)), None)
    assert(o1.isEmpty && s1 === RateState(10L, 3L, Nil))
    // Advancing two hours closes 10 (no baseline) and 12 stays open;
    // the gap (hour 11) does NOT appear as a bucket — batch parity.
    val (s2, o2) = advance("t", Seq((12L, 5L)), Some(s1))
    assert(o2.map(r => (r.hr, r.n, r.baseCnt, r.spikeRatioMicro)) ===
      Seq((10L, 3L, 0L, None)))
    assert(s2 === RateState(12L, 5L, Seq(3L)))
    // Closing 12 gives it baseline {3}; ratio = 5*1e6*1/3.
    val (s3, o3) = advance("t", Seq((13L, 1L)), Some(s2))
    assert(o3.map(r => (r.hr, r.spikeRatioMicro, r.isSpike)) ===
      Seq((12L, Some(5L * 1000000L / 3L), false)))
    // 5/3 < 2 -> not a spike; but 9x is.
    val (_, o4) = advance("t", Seq((14L, 9L), (15L, 0L)), Some(s3))
    assert(o4.exists(r => r.hr == 14L && r.isSpike))
    // Late bucket (before open) is dropped silently.
    val (s5, o5) = advance("t", Seq((11L, 7L)), Some(s3))
    assert(o5.isEmpty && s5 === s3)
  }
}

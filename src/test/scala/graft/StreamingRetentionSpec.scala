package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticCdc
import graft.queries.CdcQueries
import graft.streaming.StreamingRetention
import graft.streaming.StreamingRetention.{RetState, WeekRow}

/** The streaming retention fold must land EXACTLY the batch
  * `e11_retention` cohort triangle when events arrive in event-time order
  * (the repo's ordered-delivery guarantee), including across a mid-stream
  * restart; the once-per-(user, week) emission and forward-only anchor
  * are pinned directly on the unit fold. */
class StreamingRetentionSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("unit fold: cohort anchors once, weeks emit exactly once") {
    // Fresh user: anchor = earliest incoming week, every week emits.
    val (s1, out1) = StreamingRetention.advance(7L, Seq(12L, 10L, 12L, 11L), None)
    assert(s1 == RetState(10L, Seq(10L, 11L, 12L)))
    assert(out1 == Seq(WeekRow(7L, 10L, 10L), WeekRow(7L, 10L, 11L), WeekRow(7L, 10L, 12L)))
    // Replayed + one new week: only the new week emits; anchor unmoved.
    val (s2, out2) = StreamingRetention.advance(7L, Seq(12L, 14L), Some(s1))
    assert(s2 == RetState(10L, Seq(10L, 11L, 12L, 14L)))
    assert(out2 == Seq(WeekRow(7L, 10L, 14L)))
    // Forward-only: a late EARLIER week cannot rewind the anchor — it
    // reports at a negative offset (documented divergence).
    val (s3, out3) = StreamingRetention.advance(7L, Seq(9L), Some(s2))
    assert(s3.firstWk == 10L)
    assert(out3 == Seq(WeekRow(7L, 10L, 9L)))
  }

  test("ordered two-wave stream with restart equals the batch cohort triangle") {
    val base = Files.createTempDirectory("sretention").toString
    val (drop, sink, ckpt) = (s"$base/drop", s"$base/sink", s"$base/ckpt")
    new java.io.File(drop).mkdirs()

    val events = SyntheticCdc.events(spark, sfDir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS t_us", "event_id")
    events.createOrReplaceTempView("sr_events_t")
    val mid = spark.sql("SELECT percentile_approx(t_us, 0.5) FROM sr_events_t")
      .head().getLong(0)

    events.where(s"t_us <= $mid").orderBy("t_us", "event_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=1")
    StreamingRetention.run(spark, drop, sink, ckpt)
    events.where(s"t_us > $mid").orderBy("t_us", "event_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=2")
    StreamingRetention.run(spark, drop, sink, ckpt)

    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = cells(StreamingRetention.cohortCells(spark, sink))
    val batch = cells(CdcQueries.e11Retention(spark, sfDir))

    assert(batch.nonEmpty && batch.values.sum > 0)
    assert(streamed == batch,
      s"cohort cells diverge: ${streamed.size} streamed vs ${batch.size} batch; " +
        s"sample diff ${(streamed.toSet diff batch.toSet).take(3)}")
    // The driver fixture spans >1 active week per user but a single
    // cohort (everyone first appears in week 0) — the returning-user
    // offsets are exercised here, the multi-cohort dimension below.
    assert(batch.keys.exists(_._2 > 0), "need a returning-user cell")
    // Exactly-once emission: the sink holds one row per (user, week).
    val sinkRows = spark.read.parquet(sink)
    assert(sinkRows.count() == sinkRows.select("user_id", "wk").distinct().count())
  }

  test("multi-cohort triangle: staggered first-seen weeks stream batch-equal through restart") {
    val base = Files.createTempDirectory("sretention-multi").toString
    val (drop, sink, ckpt) = (s"$base/drop", s"$base/sink", s"$base/ckpt")
    new java.io.File(drop).mkdirs()
    val ss = spark; import ss.implicits._
    val wk = StreamingRetention.WeekUs
    // u1 joins week 0 and returns weeks 1 and 3; u2 joins week 1 and
    // returns week 2; u3 joins week 2 only; u4 joins week 3 (second wave
    // only — a NEW cohort must be creatable after the restart).
    val events = Seq(
      (1L, 0L * wk + 5L, 10L), (1L, 1L * wk + 9L, 11L), (1L, 3L * wk + 1L, 12L),
      (2L, 1L * wk + 2L, 20L), (2L, 2L * wk + 7L, 21L),
      (3L, 2L * wk + 3L, 30L),
      (4L, 3L * wk + 4L, 40L))
      .map { case (u, t, id) => (u, "view", t, id) }
    val mid = 2L * wk
    def wave(rows: Seq[(Long, String, Long, Long)], w: Int): Unit =
      rows.toDF("user_id", "event_type", "t_us", "event_id")
        .orderBy("t_us", "event_id").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=$w")

    wave(events.filter(_._3 < mid), 1)
    StreamingRetention.run(spark, drop, sink, ckpt)
    wave(events.filter(_._3 >= mid), 2)
    StreamingRetention.run(spark, drop, sink, ckpt)

    // Batch reference: the e11_retention operator over the same events.
    events.toDF("user_id", "event_type", "t_us", "event_id")
      .selectExpr("user_id", "event_type", "timestamp_micros(t_us) AS ts",
        "event_id", "CAST(0.0 AS DOUBLE) AS value", "'' AS props")
      .write.mode(SaveMode.Overwrite).parquet(s"$base/events.parquet")
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = cells(StreamingRetention.cohortCells(spark, sink))
    val batch = cells(CdcQueries.e11Retention(spark, base))
    assert(streamed == batch, s"multi-cohort cells diverge: $streamed vs $batch")
    // The triangle is real: 4 cohorts, a returning-user offset, and the
    // post-restart cohort (week 3) present.
    assert(batch.keys.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
    assert(batch((0L, 1L)) == 1L && batch((0L, 3L)) == 1L && batch((1L, 1L)) == 1L)
    assert(batch((3L, 0L)) == 1L, "post-restart cohort missing")
  }
}

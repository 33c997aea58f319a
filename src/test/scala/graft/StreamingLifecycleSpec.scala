package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticCdc
import graft.queries.CdcQueries
import graft.streaming.StreamingLifecycle
import graft.streaming.StreamingLifecycle.{LcRow, LcState, WkIn}

/** The streaming lifecycle fold must land EXACTLY the batch
  * `e17_lifecycle` ledger on event-time-ordered input closed by a
  * horizon flush, through a mid-stream restart — including the crafted
  * gap histories the fixture never produces (its users are continuously
  * active, so churn/resurrection only exist here and in LifecycleSpec). */
class StreamingLifecycleSpec extends AnyFunSuite with LocalSpark {

  private val Wk = StreamingLifecycle.WeekUs

  test("unit fold: every transition, churn-once, flush idempotence") {
    def wk(w: Long) = WkIn(1L, w, flush = false)
    def fl(w: Long) = WkIn(1L, w, flush = true)
    val (s1, o1) = StreamingLifecycle.advance(1L, Seq(wk(10), wk(11)), None)
    assert(o1 == Seq(LcRow(1L, 10L, "new"), LcRow(1L, 11L, "retained")))
    // Gap return in a later batch: churn surfaces with the resurrection.
    val (s2, o2) = StreamingLifecycle.advance(1L, Seq(wk(14)), s1)
    assert(o2 == Seq(LcRow(1L, 12L, "churned"), LcRow(1L, 14L, "resurrected")))
    // Horizon flush past the last activity: churn emitted once; a second
    // flush is a no-op.
    val (s3, o3) = StreamingLifecycle.advance(1L, Seq(fl(16)), s2)
    assert(o3 == Seq(LcRow(1L, 15L, "churned")))
    val (s4, o4) = StreamingLifecycle.advance(1L, Seq(fl(17)), s3)
    assert(o4.isEmpty)
    // Activity after a flush-observed gap must NOT re-emit that churn.
    val (_, o5) = StreamingLifecycle.advance(1L, Seq(wk(18)), s4)
    assert(o5 == Seq(LcRow(1L, 18L, "resurrected")))
    assert(s3.get == LcState(10L, 14L, churnEmitted = true, horizonWk = 16L))
    // Flush ticks are terminal for the weeks they cover: activity at a
    // week <= an observed flush week would put churned AND retained in
    // the append sink for one (user, week) — it must fail loudly.
    val ex = intercept[IllegalStateException] {
      StreamingLifecycle.advance(1L, Seq(wk(17)), s4)
    }
    assert(ex.getMessage.contains("terminal"))
  }

  private def runWaves(base: String,
      events: Seq[(Long, Long, Long)], horizonWk: Long, midT: Long): Unit = {
    val (drop, sink, ckpt) = (s"$base/drop", s"$base/sink", s"$base/ckpt")
    new java.io.File(drop).mkdirs()
    val ss = spark; import ss.implicits._
    def wave(rows: Seq[(Long, String, Long, Long)], w: Int): Unit =
      rows.toDF("user_id", "event_type", "t_us", "event_id")
        .orderBy("t_us", "event_id").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=$w")
    val evRows = events.map { case (u, t, id) => (u, "view", t, id) }
    wave(evRows.filter(_._3 <= midT), 1)
    StreamingLifecycle.run(spark, drop, sink, ckpt)
    wave(evRows.filter(_._3 > midT), 2)
    StreamingLifecycle.run(spark, drop, sink, ckpt)
    val users = events.map(_._1).distinct
    wave(users.map(u => (u, "__flush", horizonWk * Wk + 1L, 0L)), 3)
    StreamingLifecycle.run(spark, drop, sink, ckpt)
  }

  test("crafted gap histories stream batch-equal through restart") {
    val base = Files.createTempDirectory("slifecycle").toString
    // u1: weeks 10,11,12 (continuous); u2: 10, 12 (gap over the restart
    // boundary); u3: 11 only (churns at 12); u4: 12 only (new in wave 2).
    val events = Seq(
      (1L, 10L * Wk + 1L, 1L), (1L, 11L * Wk + 2L, 2L), (1L, 12L * Wk + 3L, 3L),
      (2L, 10L * Wk + 4L, 4L), (2L, 12L * Wk + 5L, 5L),
      (3L, 11L * Wk + 6L, 6L),
      (4L, 12L * Wk + 7L, 7L))
    runWaves(base, events, horizonWk = 12L, midT = 11L * Wk + Wk / 2)
    val got = StreamingLifecycle.ledger(spark, s"$base/sink").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // Batch reference over the same events through the e17 operator.
    val ss = spark; import ss.implicits._
    events.toDF("user_id", "t_us", "event_id")
      .selectExpr("user_id", "'view' AS event_type",
        "timestamp_micros(t_us) AS ts", "event_id",
        "CAST(0.0 AS DOUBLE) AS value", "'' AS props")
      .write.mode(SaveMode.Overwrite).parquet(s"$base/events.parquet")
    val batch = CdcQueries.e17Lifecycle(spark, base).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch.values.sum > 0 && batch.keys.map(_._2).toSet ==
      Set("new", "retained", "resurrected", "churned"),
      s"crafted history must exercise all four states: $batch")
    assert(got == batch, s"ledger diverges: $got vs $batch")
  }

  test("fixture events stream batch-equal through restart") {
    val base = Files.createTempDirectory("slifecycle-fx").toString
    val sfDir = "/root/testdata/sf0.001"
    val ev = SyntheticCdc.events(spark, sfDir)
      .selectExpr("user_id", "unix_micros(ts) AS t_us", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val horizon = ev.map(_._2).max / Wk
    val mid = ev.map(_._2).sorted.apply(ev.size / 2)
    runWaves(base, ev, horizon, mid)
    val got = StreamingLifecycle.ledger(spark, s"$base/sink").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = CdcQueries.e17Lifecycle(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty && got == batch, s"ledger diverges on the fixture")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticCdc
import graft.queries.CdcQueries
import graft.streaming.StreamingSessionize
import graft.streaming.StreamingSessionize.{EvIn, Open, SessRow, SessState}

/** The streaming sessionization fold must land EXACTLY the batch
  * `e9_sessionize` sessions when events arrive in event-time order,
  * including sessions that span a mid-stream restart; gap closure,
  * ordinal continuity across flush-closed sessions, and the no-op flush
  * are pinned directly on the unit fold. */
class StreamingSessionizeSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val Gap = StreamingSessionize.GapUs

  test("unit fold: gap closure, spanning continuation, ordinal continuity, flush semantics") {
    def ev(t: Long, id: Long) = EvIn(7L, t, id, flush = false)
    def flush(t: Long) = EvIn(7L, t, 999L, flush = true)
    // Two events within the gap: one open session, nothing closed.
    val (s1, out1) = StreamingSessionize.advance(7L, Seq(ev(0L, 1L), ev(5L, 2L)), None)
    assert(out1.isEmpty && s1 == SessState(1L, Some(Open(0L, 5L, 2L, 1L, 2L))))
    // Next batch continues the SAME session (restart-spanning case),
    // then a gap closes it and opens session 2.
    val (s2, out2) = StreamingSessionize.advance(7L,
      Seq(ev(10L, 3L), ev(Gap + 20L, 4L)), Some(s1))
    assert(out2 == Seq(SessRow(7L, 1L, 3L, 0L, 1L, 3L)))
    assert(s2 == SessState(2L, Some(Open(Gap + 20L, Gap + 20L, 1L, 4L, 4L))))
    // An in-gap flush is a no-op; a past-gap flush closes WITHOUT
    // consuming an ordinal, and the next event still gets ordinal 3.
    val (s3, out3) = StreamingSessionize.advance(7L, Seq(flush(Gap + 25L)), Some(s2))
    assert(out3.isEmpty && s3 == s2)
    val (s4, out4) = StreamingSessionize.advance(7L,
      Seq(flush(3L * Gap), ev(4L * Gap, 5L)), Some(s3))
    assert(out4 == Seq(SessRow(7L, 2L, 1L, 0L, 4L, 4L)))
    assert(s4 == SessState(3L, Some(Open(4L * Gap, 4L * Gap, 1L, 5L, 5L))))
  }

  test("ordered two-wave stream with restart equals batch e9_sessionize") {
    val base = Files.createTempDirectory("ssessionize").toString
    val (drop, sink, ckpt) = (s"$base/drop", s"$base/sink", s"$base/ckpt")
    new java.io.File(drop).mkdirs()

    val events = SyntheticCdc.events(spark, sfDir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS t_us", "event_id")
    events.createOrReplaceTempView("ssz_events_t")
    val Array(mid, maxT) = spark.sql(
      "SELECT percentile_approx(t_us, 0.5), max(t_us) FROM ssz_events_t")
      .head() match { case r => Array(r.getLong(0), r.getLong(1)) }

    events.where(s"t_us <= $mid").orderBy("t_us", "event_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=1")
    StreamingSessionize.run(spark, drop, sink, ckpt)
    events.where(s"t_us > $mid").orderBy("t_us", "event_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=2")
    StreamingSessionize.run(spark, drop, sink, ckpt)
    // Final clock tick per user, far past the gap: closes every open
    // session deterministically (the AvailableNow watermark stand-in).
    events.select("user_id").distinct().selectExpr(
      "user_id", "'__flush' AS event_type",
      s"CAST(${maxT + 3 * Gap} AS LONG) AS t_us",
      "CAST(0 AS LONG) AS event_id")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=3")
    StreamingSessionize.run(spark, drop, sink, ckpt)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val streamed = rows(StreamingSessionize.sessions(spark, sink))
    val batch = rows(CdcQueries.e9Sessionize(spark, sfDir))
    assert(batch.nonEmpty)
    assert(batch.size > batch.keys.map(_._1).toSet.size,
      "need at least one multi-session user or the gap logic is vacuous")
    assert(streamed == batch,
      s"sessions diverge: ${streamed.size} streamed vs ${batch.size} batch; " +
        s"sample diff ${(streamed.toSet diff batch.toSet).take(3)}")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticCdc
import graft.queries.CdcQueries
import graft.streaming.StreamingFunnel
import graft.streaming.StreamingFunnel.{EventIn, FunnelState}

/** The streaming funnel must land EXACTLY the batch `e10_funnel` answer
  * when events arrive in event-time order (the repo's ordered-delivery
  * guarantee), including across a mid-stream restart; the forward-only
  * fold semantics are pinned directly on the unit fold. */
class StreamingFunnelSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("unit fold: strict forward-only stage anchoring") {
    def e(t: Long, ty: String, id: Long = 0) = EventIn(1L, ty, t, id)
    val s0 = FunnelState(-1, -1, -1)
    // Purchase before view before signup: nothing past stage 1.
    assert(StreamingFunnel.fold(Seq(e(5, "purchase"), e(7, "view"), e(9, "signup")), s0)
      == FunnelState(9, -1, -1))
    // In-order chain anchors each stage strictly after the previous.
    assert(StreamingFunnel.fold(
      Seq(e(1, "signup"), e(2, "view"), e(3, "purchase")), s0) == FunnelState(1, 2, 3))
    // A view AT the signup instant does not qualify (strict >).
    assert(StreamingFunnel.fold(Seq(e(1, "signup"), e(1, "view")), s0)
      == FunnelState(1, -1, -1))
    // Forward-only: an earlier signup arriving later cannot rewind t1.
    assert(StreamingFunnel.fold(Seq(e(4, "signup")), FunnelState(9, -1, -1))
      == FunnelState(9, -1, -1))
  }

  test("partial-stage users: batch and stream agree on stalls, nulls, and strict ordering") {
    // The driver fixture converts EVERY signup user to stage 3, so the
    // stage-1/stage-2 arms, the NULL view/purchase columns, and the
    // purchase-before-view strictness rule are only exercised here.
    val base = Files.createTempDirectory("funnel-partial").toString
    val ss = spark; import ss.implicits._
    val events = Seq(
      // u1: signup only -> stage 1, both later stages NULL.
      (1L, "signup", 1000000L, 10L),
      // u2: purchase BEFORE its first view must NOT count -> stage 2.
      (2L, "signup", 1000000L, 20L),
      (2L, "purchase", 2000000L, 21L),
      (2L, "view", 3000000L, 22L),
      // u3: full ordered chain -> stage 3.
      (3L, "signup", 1000000L, 30L),
      (3L, "view", 2000000L, 31L),
      (3L, "purchase", 3000000L, 32L),
      // u4: view+purchase but NO signup -> absent from both outputs.
      (4L, "view", 1000000L, 40L),
      (4L, "purchase", 2000000L, 41L))
    events.toDF("user_id", "event_type", "t_us", "event_id")
      .selectExpr("user_id", "event_type", "timestamp_micros(t_us) AS ts",
        "event_id", "CAST(0.0 AS DOUBLE) AS value", "'' AS props")
      .write.mode(SaveMode.Overwrite).parquet(s"$base/events.parquet")

    val batch = CdcQueries.e10Funnel(spark, base).collect()
      .map(r => r.getLong(0) -> (r.getInt(4), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(batch.keySet == Set(1L, 2L, 3L))
    assert(batch(1L) == (1, 1000000L, None, None))
    assert(batch(2L) == (2, 1000000L, Some(3000000L), None))
    assert(batch(3L) == (3, 1000000L, Some(2000000L), Some(3000000L)))

    val (drop, sink, ckpt) = (s"$base/drop", s"$base/sink", s"$base/ckpt")
    events.toDF("user_id", "event_type", "t_us", "event_id")
      .orderBy("t_us", "event_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=1")
    StreamingFunnel.run(spark, drop, sink, ckpt)
    val streamed = StreamingFunnel.positions(spark, sink).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap
    assert(streamed == batch)
  }

  test("ordered two-wave stream with restart equals the batch funnel") {
    val base = Files.createTempDirectory("sfunnel").toString
    val (drop, sink, ckpt) = (s"$base/drop", s"$base/sink", s"$base/ckpt")
    new java.io.File(drop).mkdirs()

    val events = SyntheticCdc.events(spark, sfDir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS t_us", "event_id")
    events.createOrReplaceTempView("sf_events_t")
    val mid = spark.sql("SELECT percentile_approx(t_us, 0.5) FROM sf_events_t")
      .head().getLong(0)

    // Wave 1, run to drain, then wave 2 into the SAME checkpoint — the
    // second run must resume every user's stage times.
    events.where(s"t_us <= $mid").orderBy("t_us", "event_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=1")
    StreamingFunnel.run(spark, drop, sink, ckpt)
    events.where(s"t_us > $mid").orderBy("t_us", "event_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=2")
    StreamingFunnel.run(spark, drop, sink, ckpt)

    val streamed = StreamingFunnel.positions(spark, sink).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toMap

    val batch = CdcQueries.e10Funnel(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(4),
        r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap

    assert(batch.nonEmpty && streamed.keySet == batch.keySet,
      s"user sets differ: ${streamed.size} streamed vs ${batch.size} batch")
    val diffs = batch.collect {
      case (u, b) if streamed(u) != b => (u, streamed(u), b)
    }
    assert(diffs.isEmpty, s"positions diverge: ${diffs.take(3)}")
    assert(batch.values.exists(_._1 == 3), "fixture must convert someone")
  }
}

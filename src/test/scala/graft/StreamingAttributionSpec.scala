package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticCdc
import graft.streaming.StreamingAttribution

/** Streaming attribution: the drained per-purchase rows reproduce the
  * batch `e15_attribution` report through a checkpoint restart; the
  * fold's state behavior directly. */
class StreamingAttributionSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("stream-attr").toString
  }

  test("two waves with a restart reproduce the batch report exactly") {
    val drop = s"$work/drop"; val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    new java.io.File(drop).mkdirs()
    val ev = SyntheticCdc.events(spark, dir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS t_us",
        "event_id", "CAST(round(value * 100, 0) AS BIGINT) AS value_cents")
      .cache()
    try {
      val cut = ev.selectExpr("percentile(t_us, 0.5)").head.getDouble(0).toLong
      ev.filter(col("t_us") <= cut).coalesce(1).write.mode("append").parquet(drop)
      StreamingAttribution.run(spark, drop, sink, ckpt)
      ev.filter(col("t_us") > cut).coalesce(1).write.mode("append").parquet(drop)
      StreamingAttribution.run(spark, drop, sink, ckpt)

      val streamed = StreamingAttribution.report(spark, sink)
      val batch = SparkEntry.queries("e15_attribution")(spark, dir)
        .select("first_touch", "last_touch", "purchases", "revenue_cents", "users")
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streamed attribution report diverges from batch")
      assert(streamed.count() > 0L)
    } finally ev.unpersist()
  }

  test("advance: purchases attribute to state as of their position") {
    import StreamingAttribution.{advance, EventIn, TouchState}
    // organic purchase before any touch; then touches update first/last.
    val (s1, o1) = advance(1L, Seq(
      EventIn(1L, 10L, 1L, "purchase", 500L),
      EventIn(1L, 20L, 2L, "click", 0L),
      EventIn(1L, 30L, 3L, "view", 0L),
      EventIn(1L, 40L, 4L, "purchase", 700L)), TouchState(None, None))
    assert(o1.map(p => (p.firstTouch, p.lastTouch, p.valueCents)) ===
      Seq(("organic", "organic", 500L), ("click", "view", 700L)))
    assert(s1 === TouchState(Some("click"), Some("view")))
    // errors do not perturb state; state carries across batches.
    val (s2, o2) = advance(1L, Seq(
      EventIn(1L, 50L, 5L, "error", 0L),
      EventIn(1L, 60L, 6L, "purchase", 900L)), s1)
    assert(o2.map(p => (p.firstTouch, p.lastTouch)) === Seq(("click", "view")))
    assert(s2 === s1)
  }
}

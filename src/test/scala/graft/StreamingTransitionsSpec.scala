package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticCdc
import graft.streaming.StreamingTransitions

/** Streaming transition matrix: drained counts equal the batch
  * `e13_transitions` matrix through a checkpoint restart; the fold's
  * anchor behavior directly. */
class StreamingTransitionsSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("stream-trans").toString
  }

  test("two waves with a restart reproduce the batch matrix exactly") {
    val drop = s"$work/drop"; val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    new java.io.File(drop).mkdirs()
    val ev = SyntheticCdc.events(spark, dir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS t_us", "event_id")
      .cache()
    try {
      val cut = ev.selectExpr("percentile(t_us, 0.5)").head.getDouble(0).toLong
      ev.filter(col("t_us") <= cut).coalesce(1).write.mode("append").parquet(drop)
      StreamingTransitions.run(spark, drop, sink, ckpt)
      ev.filter(col("t_us") > cut).coalesce(1).write.mode("append").parquet(drop)
      StreamingTransitions.run(spark, drop, sink, ckpt)

      val streamed = StreamingTransitions.matrix(spark, sink)
      val batch = SparkEntry.queries("e13_transitions")(spark, dir)
        .select("from_type", "to_type", "n")
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streamed transition matrix diverges from batch")
      assert(streamed.count() > 0L)
    } finally ev.unpersist()
  }

  test("advance: anchors on first event, emits per subsequent event in order") {
    import StreamingTransitions.{advance, EventIn}
    val (s1, o1) = advance(1L, Seq(
      EventIn(1L, 20L, 2L, "view"),
      EventIn(1L, 10L, 1L, "signup")), None)
    // Sorted by time: signup -> view emits one transition.
    assert(o1.map(t => (t.fromType, t.toType)) === Seq(("signup", "view")))
    assert(s1 === "view")
    val (s2, o2) = advance(1L, Seq(EventIn(1L, 30L, 3L, "purchase")), Some(s1))
    assert(o2.map(t => (t.fromType, t.toType)) === Seq(("view", "purchase")))
    assert(s2 === "purchase")
  }
}

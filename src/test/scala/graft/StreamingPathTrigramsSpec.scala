package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticCdc
import graft.streaming.StreamingPathTrigrams

/** Streaming path mining: drained length-3 path counts equal the batch
  * `e16_path_trigrams` table (before its presentation top-20 cut)
  * through a checkpoint restart; the fold's two-slot state directly. */
class StreamingPathTrigramsSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("stream-paths").toString
  }

  test("two waves with a restart reproduce the batch path table exactly") {
    val drop = s"$work/drop"; val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    new java.io.File(drop).mkdirs()
    val ev = SyntheticCdc.events(spark, dir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS t_us", "event_id")
      .cache()
    try {
      val cut = ev.selectExpr("percentile(t_us, 0.5)").head.getDouble(0).toLong
      ev.filter(col("t_us") <= cut).coalesce(1).write.mode("append").parquet(drop)
      StreamingPathTrigrams.run(spark, drop, sink, ckpt)
      ev.filter(col("t_us") > cut).coalesce(1).write.mode("append").parquet(drop)
      StreamingPathTrigrams.run(spark, drop, sink, ckpt)

      val streamed = StreamingPathTrigrams.paths(spark, sink)
      // Batch truth: the full path table (the catalog query's pre-top-20
      // aggregation), recomputed with the same two stacked lags.
      SyntheticCdc.events(spark, dir).createOrReplaceTempView("events_t")
      val batch = spark.sql(
        """WITH seq AS (
          |  SELECT event_type AS step3,
          |         lag(event_type, 1) OVER (PARTITION BY user_id
          |           ORDER BY unix_micros(ts), event_id) AS step2,
          |         lag(event_type, 2) OVER (PARTITION BY user_id
          |           ORDER BY unix_micros(ts), event_id) AS step1
          |  FROM events_t)
          |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n
          |FROM seq WHERE step1 IS NOT NULL
          |GROUP BY step1, step2, step3""".stripMargin)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "streamed path table diverges from batch")
      assert(streamed.count() > 0L)
    } finally ev.unpersist()
  }

  test("advance: emits once two predecessors exist; state slides") {
    import StreamingPathTrigrams.{advance, EventIn, PathState}
    val (s1, o1) = advance(1L, Seq(
      EventIn(1L, 10L, 1L, "a"),
      EventIn(1L, 20L, 2L, "b"),
      EventIn(1L, 30L, 3L, "c"),
      EventIn(1L, 40L, 4L, "d")), PathState("", ""))
    assert(o1.map(p => (p.step1, p.step2, p.step3)) ===
      Seq(("a", "b", "c"), ("b", "c", "d")))
    assert(s1 === PathState("c", "d"))
    // State carries across batches: the next event completes a path.
    val (s2, o2) = advance(1L, Seq(EventIn(1L, 50L, 5L, "e")), s1)
    assert(o2.map(p => (p.step1, p.step2, p.step3)) === Seq(("c", "d", "e")))
    assert(s2 === PathState("d", "e"))
  }
}

package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.WindowedRates

/** Watermarked windowed rates: windows publish exactly once when the
  * watermark closes them, and rows later than the watermark are dropped
  * instead of revising published windows. */
class WindowedRatesSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("windowed-rates").toString
  }

  private def ts(sec: Int) = new Timestamp(sec * 1000L)

  private def writeFeed(rows: Seq[(Timestamp, Int)]): Unit = {
    val ss = spark; import ss.implicits._
    rows.toDF("ts", "operation").coalesce(1)
      .write.mode("append").parquet(s"$work/feed")
  }

  test("windows close on watermark; late rows are dropped, not republished") {
    val sink = s"$work/sink"; val ckpt = s"$work/ckpt"

    // Batch 1: five rows in window [0,10) + one row at t=40 that will push
    // the watermark to 40-10=30s on the NEXT batch boundary, closing [0,10).
    writeFeed(Seq(ts(1) -> 1, ts(2) -> 1, ts(9) -> 1, ts(3) -> 2,
      ts(4) -> 2, ts(40) -> 1))
    WindowedRates.run(spark, s"$work/feed", sink, ckpt)

    val after1 = spark.read.parquet(sink)
      .select("window_start", "operation", "rows", "rows_per_sec").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(after1.toSet == Set((0L, 1, 3L, 0.3), (0L, 2, 2L, 0.2)),
      s"expected [0,10) closed with op1=3 op2=2, got ${after1.toSet}")

    // Batch 2: a LATE row for the already-closed [0,10) window (t=5 is
    // behind the 30s watermark) plus a row at t=80 closing [40,50).
    writeFeed(Seq(ts(5) -> 1, ts(80) -> 2))
    WindowedRates.run(spark, s"$work/feed", sink, ckpt)

    val after2 = spark.read.parquet(sink)
      .select("window_start", "operation", "rows").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getInt(1), r.getLong(2)))
    // [0,10) op=1 still 3 — the late row neither revised nor duplicated it.
    assert(after2.count { case (w, op, _) => w == 0L && op == 1 } == 1)
    assert(after2.toSet.contains((0L, 1, 3L)))
    // [40,50) published with exactly the one on-time row.
    assert(after2.toSet.contains((40L, 1, 1L)))
  }

  test("session windows merge in-gap events and close via watermark") {
    val ss = spark; import ss.implicits._
    val sink = s"$work/sess_sink"; val ckpt = s"$work/sess_ckpt"
    val feed = s"$work/sess_feed"
    // One batch: a 3-event session (gaps < 10s) for op 1, a separate
    // later event for op 1 (gap > 10s), and a far-future row whose
    // watermark (120-15=105s) closes everything before it.
    Seq(ts(1) -> 1, ts(5) -> 1, ts(12) -> 1, ts(40) -> 1, ts(120) -> 2)
      .toDF("ts", "operation").coalesce(1).write.parquet(feed)
    val in = spark.readStream
      .schema(spark.read.parquet(feed).schema)
      .parquet(feed)
    val q = graft.streaming.WindowedRates
      .sessionCounts(in, "ts", "10 seconds", "15 seconds")
      .writeStream.outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.read.parquet(sink)
      .select("session_start", "session_end", "operation", "rows").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getTimestamp(1).getTime / 1000,
        r.getInt(2), r.getLong(3))).toSet
    // Events at 1,5,12 merge (1→[1,11), 5 extends to [1,15), 12 to [1,22));
    // 40 is its own session [40,50); 120's session is still open → absent.
    assert(rows == Set((1L, 22L, 1, 3L), (40L, 50L, 1, 1L)),
      s"unexpected sessions: $rows")
  }

  test("same transform runs in batch mode for backfill (watermark no-op)") {
    val ss = spark; import ss.implicits._
    val hist = Seq(ts(1) -> 1, ts(2) -> 1, ts(11) -> 2).toDF("ts", "operation")
    val out = WindowedRates.windowedCounts(hist, "ts", "10 seconds", "10 seconds")
      .orderBy("window_start", "operation").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getInt(2), r.getLong(3)))
    // Batch mode emits ALL windows, including ones a stream would hold open.
    assert(out.toSeq == Seq((0L, 1, 2L), (10L, 2, 1L)))
  }
}

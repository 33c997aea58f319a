package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcPipeline

/** The multi-table admission scheduler END TO END (E6 in-stream, not just
  * in Policies): one streaming query over two CdcMultiTableProvider
  * tables, where table B's change backlog arriving MID-SNAPSHOT of table
  * A preempts A's snapshot paging until the backlog drains, then paging
  * resumes (`main.py:209-284`, pauses at `main.py:243-244,263-264`). */
class CdcMultiTableSchedulerSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _
  private val batchSize = 50

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("cdc-multi").toString

    // Table A ("orders"): a 1500-row snapshot (30 pages at batchSize 50)
    // plus a small change tail — the table mid-backfill.
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(lit(0L).as("lsn_num"), lit(0).as("command_id"),
        lit(0L).as("seqval_num"), lit(0).as("operation"),
        col("o_orderkey").as("event_id"), col("o_orderkey").as("user_id"),
        col("o_orderstatus").as("event_type"), col("o_totalprice").as("value"),
        col("o_orderpriority").as("props"))
      .coalesce(2).write.mode("overwrite").parquet(s"$work/orders/snapshot")
    spark.sql(
      """SELECT cast(id + 1 as long) AS lsn_num, 0 AS command_id,
        |       cast(id as long) AS seqval_num, 4 AS operation,
        |       cast(id as long) AS event_id, cast(id as long) AS user_id,
        |       'U' AS event_type, cast(id as double) AS value, '' AS props
        |FROM range(7)""".stripMargin)
      .coalesce(1).write.mode("overwrite").parquet(s"$work/orders/feed")

    // Table B ("events"): starts NEARLY idle (5 rows < batchSize — not
    // lagging); the 1000-row backlog lands mid-run.
    CdcPipeline.stageChangeFeed(spark, sfDir, s"$work/events_staged", nChunks = 1)
    val staged = spark.read.parquet(s"$work/events_staged")
    staged.filter(col("seqval_num") < 5)
      .coalesce(1).write.mode("overwrite").parquet(s"$work/events/feed")
  }

  test("a lagging table's backlog preempts another table's snapshot paging, which then resumes") {
    val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    val q = spark.readStream.format("graft.sources.CdcMultiTableProvider")
      .option("baseDir", work)
      .option("tables", "orders,events")
      .option("batchSize", batchSize.toString)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.sparkSession.conf
          .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id").parquet(sink)
        ()
      }
      .start()

    // Let A's snapshot get underway (>= 2 pages committed), THEN land
    // B's backlog: 995 more rows = 19 full windows + a partial one.
    def snapshotPages(): Long = Try(
      spark.read.parquet(sink)
        .filter(col("table_name") === "orders" && col("operation") === 0)
        .select("batch_id").distinct().count()).getOrElse(0L)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (snapshotPages() < 2 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(snapshotPages() >= 2, "snapshot never started")
    spark.read.parquet(s"$work/events_staged")
      .filter(col("seqval_num") >= 5)
      .coalesce(1).write.mode("append").parquet(s"$work/events/feed")

    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(sink)

    // Exactly-once across the fleet.
    assert(out.filter(col("table_name") === "orders" && col("operation") === 0)
      .count() === 1500)
    assert(out.filter(col("table_name") === "orders" && col("operation") =!= 0)
      .count() === 7)
    assert(out.filter(col("table_name") === "events").count() === 1000)
    assert(out.select("table_name", "operation", "user_id", "seqval_num", "event_id")
      .distinct().count() === out.count())

    val aPages = out
      .filter(col("table_name") === "orders" && col("operation") === 0)
      .select("batch_id").distinct().collect()
      .map(_.getAs[Number](0).longValue()).sorted
    val bBatches = out.filter(col("table_name") === "events")
      .groupBy("batch_id").count().collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getLong(1)))
    val bFull = bBatches.filter(_._2 == batchSize.toLong).map(_._1).sorted

    // B drained in full batchSize windows (it was genuinely lagging).
    assert(bFull.length >= 15, s"expected a real backlog, got ${bBatches.toSeq}")

    // STOP: while B lags (its full windows), no A snapshot page commits.
    val inLaggingRange = aPages.filter(p => p > bFull.min && p < bFull.max)
    assert(inLaggingRange.isEmpty,
      s"snapshot pages ${inLaggingRange.toSeq} ran inside B's lagging drain " +
        s"[${bFull.min}, ${bFull.max}]")
    // ...having STARTED before the backlog landed...
    assert(aPages.min < bFull.min, "no snapshot page preceded the backlog")
    // RESUME: paging continues after the lagging drain, to completion.
    assert(aPages.max > bFull.max, "snapshot never resumed after the drain")
    assert(aPages.length === 30) // 1500 rows / batchSize 50

    // Per-table contract: A's change windows only after A's snapshot.
    val aChangeMin = out
      .filter(col("table_name") === "orders" && col("operation") =!= 0)
      .agg(min("batch_id")).head().getAs[Number](0).longValue()
    assert(aChangeMin > aPages.max)

    // The offset log carries BOTH tables' positions with the snapshot
    // sentinel (one CdcOffset document for the fleet, G2/G3).
    val offsetFiles = new java.io.File(s"$ckpt/offsets").listFiles().sortBy(_.getName)
    val last = scala.io.Source.fromFile(offsetFiles.last).getLines().toSeq.last
    assert(last.contains("\"orders\"") && last.contains("\"events\"") &&
      last.contains("\"done\""), last)
  }
}

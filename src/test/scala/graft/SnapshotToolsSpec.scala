package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcPipeline
import graft.tools.{OffsetInspect, ProgressReset, SnapshotHistory, TruncationOpportunities}

/** The operator-facing snapshot tools: history reconstruction from the
  * offset log, and truncation opportunities over the published batch-id
  * partitions after a completed re-snapshot. */
class SnapshotToolsSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("snapshot-tools").toString
    CdcPipeline.stageChangeFeed(spark, sfDir, s"$work/feed", nChunks = 2)
    // Snapshot base table for the backfill dimension.
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(lit(0L).as("lsn_num"), lit(0).as("command_id"),
        lit(0L).as("seqval_num"), lit(0).as("operation"),
        col("o_orderkey").as("event_id"), col("o_orderkey").as("user_id"),
        col("o_orderstatus").as("event_type"), col("o_totalprice").as("value"),
        col("o_orderpriority").as("props"))
      .coalesce(2).write.mode("overwrite").parquet(s"$work/snapshot")
  }

  private def runStream(sink: String, ckpt: String): Unit = {
    val q = spark.readStream.format("graft.sources.CdcTableProvider")
      .option("feedDir", s"$work/feed")
      .option("snapshotDir", s"$work/snapshot")
      .option("tableName", "events")
      .option("batchSize", "400")
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
    q.processAllAvailable()
    q.stop()
  }

  test("snapshot history reconstructs the backfill timeline from the offset log") {
    val sink = s"$work/sinkH"; val ckpt = s"$work/ckptH"
    runStream(sink, ckpt)
    val entries = OffsetInspect.readOffsetLog(ckpt)
    val events = SnapshotHistory.history(entries)
    assert(events.count(_.action == "started") === 1)
    assert(events.count(_.action == "completed") === 1)
    val pages = events.filter(_.action == "page")
    assert(pages.size >= 2, s"expected multiple keyset pages, got ${pages.size}")
    // Pages walk the composite key space strictly downward.
    pages.map(_.keyBound.get).sliding(2).foreach {
      case Seq(a, b) => assert(b._1 < a._1 || (b._1 == a._1 && b._2 < a._2))
      case _ => ()
    }
    val runs = SnapshotHistory.runs(entries)
    assert(runs.size === 1 && runs.head.completed && runs.head.pages === pages.size)
  }

  test("truncation opportunities appear after a completed re-snapshot and not before") {
    val sink = s"$work/sinkT"; val ckpt = s"$work/ckptT"
    runStream(sink, ckpt)
    // After the FIRST snapshot nothing precedes its start: nothing to reclaim.
    val before = TruncationOpportunities.report(ckpt, sink)
    assert(before.nonEmpty && !before.exists(_.truncatable))
    val oldBatches = before.map(_.batchId).toSet

    // Operator resets everything; the stream re-snapshots on restart.
    ProgressReset.writeReset(ckpt, "events", "all")
    runStream(sink, ckpt)

    val after = TruncationOpportunities.report(ckpt, sink)
    val truncatable = after.filter(_.truncatable).map(_.batchId).toSet
    // Every pre-reset batch is superseded by the completed re-snapshot.
    assert(oldBatches.subsetOf(truncatable), s"$oldBatches vs $truncatable")
    assert(after.filter(_.truncatable).forall(_.bytes > 0))
    // The new snapshot's own batches are not reclaimable.
    assert((after.map(_.batchId).toSet -- truncatable).nonEmpty)
  }
}

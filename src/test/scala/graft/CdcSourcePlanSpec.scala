package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcPipeline

/** Plan-shape guarantees of the DSv2 CDC source: boundary probes run no
  * Spark job at all (they are answered from the driver-side key index;
  * round 1 ran the full ordered window scan twice per trigger, round 2 a
  * one-row aggregation job per probe), and replay of a committed batch is
  * a pure function of the offset pair — restarting with a different
  * batchSize must reproduce the identical batch. */
class CdcSourcePlanSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("cdc-source-plan").toString
    CdcPipeline.stageChangeFeed(spark, sfDir, s"$work/feed", nChunks = 2)
  }

  private def runToSink(sink: String, ckpt: String, batchSize: Int): Unit = {
    val q = spark.readStream.format("graft.sources.CdcTableProvider")
      .option("feedDir", s"$work/feed")
      .option("tableName", "events")
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
    q.processAllAvailable()
    q.stop()
  }

  test("one driver job per trigger: probes return boundaries, not windows") {
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      runToSink(s"$work/sinkJobs", s"$work/ckptJobs", batchSize = 300)
    } finally {
      // listener events are queued; give the bus a moment to drain
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
    }
    val batches = spark.read.parquet(s"$work/sinkJobs")
      .select("batch_id").distinct().count().toInt
    // Per delivered batch: at most its one foreachBatch write job, plus
    // at most one more; the boundary probes (and the trailing empty probe
    // that ends the stream) run no job. Round 1 ran a full-window scan per
    // trigger (3N+1 jobs), round 2 a one-row probe job (2N+1).
    assert(batches >= 4, s"expected multiple windows, got $batches")
    assert(jobs <= batches + 1,
      s"$jobs jobs for $batches batches — the source is running probe jobs")
  }

  test("progress reset rewinds a table and the stream re-delivers from the start") {
    val sink = s"$work/sinkReset"; val ckpt = s"$work/ckptReset"
    runToSink(sink, ckpt, batchSize = 300)
    val firstRun = spark.read.parquet(sink)
    assert(firstRun.count() === 1000)
    val maxBatchBefore = firstRun.agg(max("batch_id")).head().getAs[Number](0).longValue()

    val newId = graft.tools.ProgressReset.writeReset(ckpt, "events", "changes")
    assert(newId > maxBatchBefore)

    // Restart against the same checkpoint: the reset entry replays as an
    // empty batch, then the source re-walks the whole feed.
    runToSink(sink, ckpt, batchSize = 300)
    val after = spark.read.parquet(sink)
    assert(after.count() === 2000, "every row must be re-delivered after the reset")
    assert(after.filter(col("batch_id") > newId)
      .select("seqval_num").distinct().count() === 1000)
  }

  test("replay of a committed batch is independent of the configured batchSize") {
    val sink = s"$work/sinkReplay"; val ckpt = s"$work/ckptReplay"
    runToSink(sink, ckpt, batchSize = 300)
    val original = spark.read.parquet(sink)
      .filter(col("batch_id") === 2)
      .drop("batch_id").collect().map(_.toString).sorted
    assert(original.nonEmpty)

    // Reconstruct a checkpoint that committed batches 0-1 and wrote the
    // offset for batch 2, then crashed: on restart the engine must replay
    // batch 2 from its offset pair alone. Restart with a much smaller
    // batchSize — a replay derived from the current page size would
    // truncate the committed window.
    val ckpt2 = s"$work/ckptReplay2"
    for (sub <- Seq("offsets", "commits")) {
      Files.createDirectories(Paths.get(s"$ckpt2/$sub"))
      val limit = if (sub == "offsets") 2 else 1
      (0 to limit).foreach { i =>
        val src = Paths.get(s"$ckpt/$sub/$i")
        if (Files.exists(src))
          Files.copy(src, Paths.get(s"$ckpt2/$sub/$i"), StandardCopyOption.REPLACE_EXISTING)
      }
    }
    Files.copy(Paths.get(s"$ckpt/metadata"), Paths.get(s"$ckpt2/metadata"),
      StandardCopyOption.REPLACE_EXISTING)

    val sink2 = s"$work/sinkReplay2"
    runToSink(sink2, ckpt2, batchSize = 50)
    val replayed = spark.read.parquet(sink2)
      .filter(col("batch_id") === 2)
      .drop("batch_id").collect().map(_.toString).sorted
    assert(replayed.toSeq == original.toSeq,
      s"replayed batch 2 (${replayed.length} rows) != original (${original.length} rows)")
  }
}

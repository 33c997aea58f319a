package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** G5 exercised IN-STREAM: CDC cleanup outruns the checkpoint (the feed's
  * minimum retained change index moves past stored progress) and each
  * configured strategy does its job on restart — fail loudly, resume
  * from the retention floor, or re-backfill the snapshot first
  * (`tracked_tables.py:137-163`, `options.py:148-154`). */
class CdcLsnGapSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("cdc-lsn-gap").toString
  }

  private def rows(from: Int, until: Int): DataFrame = spark.sql(
    s"""SELECT cast(id as long) AS lsn_num, 0 AS command_id,
       |       cast(id as long) AS seqval_num, 2 AS operation,
       |       cast(id as long) AS event_id, cast(id % 7 as long) AS user_id,
       |       'e' AS event_type, cast(id as double) AS value, '' AS props
       |FROM range($from, $until)""".stripMargin)

  private def stage(feed: String, from: Int, until: Int, replace: Boolean): Unit = {
    if (replace) { // CDC cleanup: the old window is GONE
      val dir = new java.io.File(feed)
      dir.listFiles().foreach(f => if (!f.getName.startsWith("_")) f.delete())
    }
    rows(from, until).coalesce(1)
      .write.mode(if (replace) "append" else "overwrite").parquet(feed)
  }

  private def runStream(feed: String, sink: String, ckpt: String,
      extra: Map[String, String] = Map.empty): Unit = {
    val q = startStream(feed, sink, ckpt, extra)
    try q.processAllAvailable() finally q.stop()
  }

  private def startStream(feed: String, sink: String, ckpt: String,
      extra: Map[String, String]): StreamingQuery = {
    val reader = spark.readStream.format("graft.sources.CdcTableProvider")
      .option("feedDir", feed).option("tableName", "t").option("batchSize", "200")
    extra.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
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
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("fail (default): a gap terminates the restarted query loudly") {
    val feed = s"$work/feedF"
    stage(feed, 0, 500, replace = false)
    runStream(feed, s"$work/sinkF", s"$work/ckptF")
    assert(spark.read.parquet(s"$work/sinkF").count() === 500)

    stage(feed, 1000, 1300, replace = true)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream(feed, s"$work/sinkF", s"$work/ckptF")
    }
    assert(messages(e).mkString("\n").contains("CDC cleanup outran the stream"))
  }

  test("fail: a gap that opens under an idle restarted query fails its first change advance") {
    val feed = s"$work/feedL"; val sink = s"$work/sinkL"; val ckpt = s"$work/ckptL"
    stage(feed, 0, 500, replace = false)
    runStream(feed, sink, ckpt)
    assert(spark.read.parquet(sink).count() === 500)

    // Run 2 resumes caught up: with nothing pending it advances no change
    // window, so G5 has not run yet when cleanup outruns it.
    val q = startStream(feed, sink, ckpt, Map.empty)
    try {
      q.processAllAvailable()
      stage(feed, 1000, 1300, replace = true)
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(messages(e).mkString("\n").contains("CDC cleanup outran the stream"))
    } finally q.stop()
    assert(spark.read.parquet(sink).count() === 500)
  }

  test("ignore: the restarted query resumes from the retention floor") {
    val feed = s"$work/feedI"
    stage(feed, 0, 500, replace = false)
    val opts = Map("lsnGapStrategy" -> "ignore")
    runStream(feed, s"$work/sinkI", s"$work/ckptI", opts)
    stage(feed, 1000, 1300, replace = true)
    runStream(feed, s"$work/sinkI", s"$work/ckptI", opts)
    val out = spark.read.parquet(s"$work/sinkI")
    assert(out.count() === 800) // 500 + the 300 retained rows, no dupes
    assert(out.select("seqval_num").distinct().count() === 800)
  }

  test("resnapshot: the gap flips the snapshot dimension and re-backfills before more changes") {
    val feed = s"$work/feedR"; val snap = s"$work/snapR"
    stage(feed, 0, 500, replace = false)
    rows(0, 350) // the base table, staged with the zero snapshot envelope
      .withColumn("lsn_num", lit(0L)).withColumn("seqval_num", lit(0L))
      .withColumn("operation", lit(0))
      .write.mode("overwrite").parquet(snap)
    val opts = Map("lsnGapStrategy" -> "resnapshot", "snapshotDir" -> snap)
    runStream(feed, s"$work/sinkR", s"$work/ckptR", opts)
    val firstRun = spark.read.parquet(s"$work/sinkR")
    val maxBatch1 = firstRun.agg(max("batch_id")).head().getAs[Number](0).longValue()
    assert(firstRun.filter(col("operation") === 2).count() === 500)

    stage(feed, 1000, 1300, replace = true)
    runStream(feed, s"$work/sinkR", s"$work/ckptR", opts)
    val out = spark.read.parquet(s"$work/sinkR")
    // The snapshot ran TWICE: initial backfill + the G5 re-backfill.
    val snapBatches = out.filter(col("operation") === 0)
      .select("batch_id").distinct().collect()
      .map(_.getAs[Number](0).longValue())
    assert(out.filter(col("operation") === 0).count() === 2 * 350)
    assert(snapBatches.exists(_ > maxBatch1), "no re-backfill page after restart")
    // Re-backfill pages all precede the post-gap change windows.
    val changeMin2 = out
      .filter(col("operation") === 2 && col("seqval_num") >= 1000)
      .agg(min("batch_id")).head().getAs[Number](0).longValue()
    assert(snapBatches.filter(_ > maxBatch1).forall(_ < changeMin2))
    // And the retained post-gap changes all arrived exactly once.
    assert(out.filter(col("seqval_num") >= 1000 && col("operation") === 2)
      .count() === 300)
  }
}

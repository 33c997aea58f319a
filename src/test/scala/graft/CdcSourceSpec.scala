package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcPipeline

/** The custom DSv2 CDC MicroBatchStream: ordered batch-size-paced windows,
  * exactly-once delivery, CdcOffset JSON in the offset log, restart
  * resume from the checkpoint, and one stream behind both providers. */
class CdcSourceSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("cdc-source").toString
    CdcPipeline.stageChangeFeed(spark, sfDir, s"$work/feed", nChunks = 2)
  }

  private def stream(): DataFrame =
    spark.readStream.format("graft.sources.CdcTableProvider")
      .option("feedDir", s"$work/feed")
      .option("tableName", "events")
      .option("batchSize", "300")
      .load()

  private def runToSink(sink: String, ckpt: String): Unit = {
    val q = stream().writeStream
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

  test("paced exactly-once delivery in change-index order") {
    val sink = s"$work/sink1"
    runToSink(sink, s"$work/ckpt1")
    val out = spark.read.parquet(sink)
    // All 1000 rows delivered exactly once.
    assert(out.count() === 1000)
    assert(out.select("seqval_num").distinct().count() === 1000)
    // Pacing: no batch exceeds batchSize; more than one window needed.
    val sizes = out.groupBy("batch_id").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 300), sizes.toSeq.toString)
    assert(sizes.length >= 4)
    // Windows partition the change-index order: every row in batch N+1 is
    // strictly greater than every row in batch N.
    val bounds = out
      .groupBy("batch_id")
      .agg(min(struct(col("lsn_num"), col("command_id"), col("seqval_num"),
        col("operation"))).as("lo"),
        max(struct(col("lsn_num"), col("command_id"), col("seqval_num"),
          col("operation"))).as("hi"))
      .orderBy("batch_id").collect()
    bounds.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getStruct(2).getLong(2) < b.getStruct(1).getLong(2),
          s"windows overlap: ${a} vs ${b}")
      case _ => ()
    }
  }

  test("two-dimensional offset: snapshot keyset pages drain before changes") {
    // Stage a base table (orders) for the snapshot dimension.
    val snapDir = s"$work/snapshot"
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(lit(0L).as("lsn_num"), lit(0).as("command_id"),
        lit(0L).as("seqval_num"), lit(0).as("operation"),
        col("o_orderkey").as("event_id"), col("o_orderkey").as("user_id"),
        col("o_orderstatus").as("event_type"), col("o_totalprice").as("value"),
        col("o_orderpriority").as("props"))
      .coalesce(2).write.mode("overwrite").parquet(snapDir)
    val nSnap = spark.read.parquet(snapDir).count()

    val sink = s"$work/sink3"; val ckpt = s"$work/ckpt3"
    val q = spark.readStream.format("graft.sources.CdcTableProvider")
      .option("feedDir", s"$work/feed")
      .option("snapshotDir", snapDir)
      .option("tableName", "events")
      .option("batchSize", "300")
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

    val out = spark.read.parquet(sink)
    // Everything delivered exactly once: full snapshot + all changes.
    assert(out.filter(col("operation") === 0).count() === nSnap)
    assert(out.filter(col("operation") =!= 0).count() === 1000)
    assert(out.select("operation", "user_id", "seqval_num").distinct().count()
      === out.count())
    // Snapshot phase completes before any change window (the source's
    // interleaving policy) and pages walk the key space downward.
    val snapMaxBatch = out.filter(col("operation") === 0)
      .agg(max("batch_id")).head().getAs[Number](0).longValue()
    val changeMinBatch = out.filter(col("operation") =!= 0)
      .agg(min("batch_id")).head().getAs[Number](0).longValue()
    assert(snapMaxBatch < changeMinBatch)
    val pageBounds = out.filter(col("operation") === 0)
      .groupBy("batch_id")
      .agg(min("user_id").as("lo"), max("user_id").as("hi"), count(lit(1)).as("n"))
      .orderBy("batch_id").collect()
    assert(pageBounds.forall(_.getAs[Number](3).longValue() <= 300))
    pageBounds.sliding(2).foreach {
      case Array(a, b) => assert(
        b.getAs[Number](2).longValue() < a.getAs[Number](1).longValue(),
        s"pages must descend: $a then $b")
      case _ => ()
    }
    // The final offset records the completed snapshot sentinel.
    val offsetFiles = new java.io.File(s"$ckpt/offsets").listFiles().sortBy(_.getName)
    val last = scala.io.Source.fromFile(offsetFiles.last).getLines().toSeq.last
    assert(last.contains("\"done\""), last)
  }

  test("snapshot pages never drop rows when duplicate keys straddle a page boundary") {
    // lineitem keyed by l_orderkey has many rows per key — paging on the
    // bare key would lose the remainder of a split group; the source
    // pages on the composite (key, event_id). event_id is a staged
    // row_number because the composite keyset key MUST be unique (the
    // reference pages on the table's true PK for the same reason — the
    // synthetic lineitem even has duplicate (orderkey, linenumber)).
    import org.apache.spark.sql.expressions.Window
    val snapDir = s"$work/snapshot_dup"
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("event_id", row_number().over(
        Window.orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice")).cast("long"))
      .select(lit(0L).as("lsn_num"), lit(0).as("command_id"),
        lit(0L).as("seqval_num"), lit(0).as("operation"),
        col("event_id"), col("l_orderkey").as("user_id"),
        lit("line").as("event_type"), col("l_quantity").as("value"),
        lit("").as("props"))
      .coalesce(2).write.mode("overwrite").parquet(snapDir)
    val nSnap = spark.read.parquet(snapDir).count()

    val sink = s"$work/sink5"
    val q = spark.readStream.format("graft.sources.CdcTableProvider")
      .option("feedDir", s"$work/feed")
      .option("snapshotDir", snapDir)
      .option("tableName", "events")
      .option("batchSize", "97") // deliberately not aligned to group sizes
      .load()
      .writeStream
      .option("checkpointLocation", s"$work/ckpt5")
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

    val snapOut = spark.read.parquet(sink).filter(col("operation") === 0)
    assert(snapOut.count() === nSnap)
    assert(snapOut.select("event_id").distinct().count() === nSnap)
  }

  test("full custom stack: DSv2 source -> stateful last-wins -> compacted state") {
    import org.apache.spark.sql.expressions.Window
    val sink = s"$work/sink4"; val ckpt = s"$work/ckpt4"
    val events = stream()
      .filter(col("operation") =!= 3) // B1, applied at the pipeline layer
      .select(col("lsn_num").as("lsnNum"), col("command_id").as("commandId"),
        col("seqval_num").as("seqvalNum"), col("operation"),
        col("event_id").as("eventId"), col("user_id").as("userId"),
        col("event_type").as("eventType"), col("value"), col("props"))
      .as[CdcPipeline.CdcEvent](org.apache.spark.sql.Encoders.product[CdcPipeline.CdcEvent])
    val q = CdcPipeline.keyedUpdates(events).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[CdcPipeline.KeyedUpdate], batchId: Long) =>
        batch.sparkSession.conf
          .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch.toDF().withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id").parquet(s"$sink/log")
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()

    val got = CdcPipeline.compactedState(spark, sink)
      .select(col("userId").as("user_id"), col("seqvalNum").as("seqval_num"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("lsn_num").desc, col("command_id").desc,
        col("seqval_num").desc, col("operation").desc)
    val exp = graft.fixtures.SyntheticCdc.changeRows(spark, sfDir)
      .filter(col("operation") =!= 3)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("operation") =!= 1)
      .select(col("user_id"), col("seqval_num"))
    assert(got.except(exp).count() === 0 && exp.except(got).count() === 0)
  }

  test("startPoint=latest: nothing existing republishes, later appends publish (r7, options.py:156-166)") {
    val feed = s"$work/feed_latest"
    // Stage chunks 0-1 of 3 — the "existing data" a latest-follow skips.
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 3,
      chunkRange = Some(0 until 2))
    val sink = s"$work/sink_latest"; val ckpt = s"$work/ckpt_latest"
    def runLatest(): Unit = {
      val q = spark.readStream.format("graft.sources.CdcTableProvider")
        .option("feedDir", feed)
        .option("tableName", "events")
        .option("batchSize", "300")
        .option("startPoint", "latest")
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
    runLatest()
    // Batch 0 always fires (it establishes offsets) but must be EMPTY —
    // the sink dir exists with no parquet underneath.
    def sinkCount(): Long =
      try spark.read.parquet(sink).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    assert(sinkCount() === 0L, "a latest-follow must skip all existing rows")

    // New changes arrive (chunk 2 sits strictly above chunks 0-1 in the
    // change-index order); a restart from the same checkpoint publishes
    // exactly those.
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 3,
      chunkRange = Some(2 until 3))
    runLatest()
    val out = spark.read.parquet(sink)
    // Expected = exactly chunk 2's rows (recompute the stager's chunk
    // assignment rather than assume seqval density).
    val all = spark.read
      .schema(graft.sources.CdcTableProvider.schema).parquet(feed)
    val per = math.max(1L, (all.count() + 2) / 3)
    val expected = all.filter(floor(col("seqval_num") / per) === 2).count()
    assert(expected > 0)
    assert(out.count() === expected,
      "latest-follow must deliver exactly the appended rows")
    // And the floor is stable across restarts: re-running with the same
    // checkpoint adds nothing.
    runLatest()
    assert(spark.read.parquet(sink).count() === expected)
  }

  test("offset log holds CdcOffset JSON and restart resumes cleanly") {
    val sink = s"$work/sink2"; val ckpt = s"$work/ckpt2"
    runToSink(sink, ckpt)
    val countAfterFirst = spark.read.parquet(sink).count()
    assert(countAfterFirst === 1000)
    // The offset log speaks the engine's own offset dialect.
    val offsetFiles = new java.io.File(s"$ckpt/offsets").listFiles().sortBy(_.getName)
    val lastOffset = scala.io.Source.fromFile(offsetFiles.last).getLines().toSeq.last
    assert(lastOffset.contains("\"events\"") && lastOffset.contains("\"lsn\"") &&
      lastOffset.contains("\"snapshot\""))
    // Restart with nothing new: no duplicates appear.
    runToSink(sink, ckpt)
    assert(spark.read.parquet(sink).count() === 1000)
  }

  test("one table reads the same through both providers, batch for batch, and either resumes the other's checkpoint") {
    // One table "events" with a snapshot (1,500 rows, 5 pages) and two of
    // three change chunks, laid out for both providers.
    val base = s"$work/parity"
    val feed = s"$base/events/feed"; val snap = s"$base/events/snapshot"
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 3,
      chunkRange = Some(0 until 2))
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(lit(0L).as("lsn_num"), lit(0).as("command_id"),
        lit(0L).as("seqval_num"), lit(0).as("operation"),
        col("o_orderkey").as("event_id"), col("o_orderkey").as("user_id"),
        col("o_orderstatus").as("event_type"), col("o_totalprice").as("value"),
        col("o_orderpriority").as("props"))
      .coalesce(2).write.mode("overwrite").parquet(snap)

    def drain(multi: Boolean, sink: String, ckpt: String): Unit = {
      val reader =
        if (multi) spark.readStream.format("graft.sources.CdcMultiTableProvider")
          .option("baseDir", base).option("tables", "events")
        else spark.readStream.format("graft.sources.CdcTableProvider")
          .option("feedDir", feed).option("snapshotDir", snap)
          .option("tableName", "events")
      val q = reader.option("batchSize", "300").load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.sparkSession.conf
            .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          batch.drop("table_name").withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id").parquet(sink)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def batches(sink: String): Map[Long, Seq[String]] =
      spark.read.parquet(sink).collect().toSeq
        .groupBy(r => r.getAs[Number]("batch_id").longValue())
        .map { case (b, rs) => b -> rs.map(_.toString).sorted }
    // Offset-log files, minus the wall-clock trigger time of each batch.
    def offsetLog(ckpt: String): Seq[(String, String)] =
      new java.io.File(s"$ckpt/offsets").listFiles().filterNot(_.getName.startsWith("."))
        .sortBy(_.getName).toSeq.map { f =>
          f.getName -> new String(Files.readAllBytes(f.toPath), "UTF-8")
            .replaceAll("\"batchTimestampMs\":\\d+", "")
        }

    val (sinkS, ckptS) = (s"$base/sinkS", s"$base/ckptS")
    val (sinkM, ckptM) = (s"$base/sinkM", s"$base/ckptM")
    drain(multi = false, sinkS, ckptS)
    drain(multi = true, sinkM, ckptM)
    val single = batches(sinkS)
    assert(single.size >= 8, s"expected snapshot pages and change windows, got ${single.keys}")
    assert(batches(sinkM) === single)
    assert(offsetLog(ckptM) === offsetLog(ckptS))

    // The third chunk lands; each provider resumes the OTHER's checkpoint
    // and delivers exactly the new rows.
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 3,
      chunkRange = Some(2 until 3))
    drain(multi = true, sinkS, ckptS)
    drain(multi = false, sinkM, ckptM)
    val all = spark.read.schema(graft.sources.CdcTableProvider.schema).parquet(feed)
    val nSnap = spark.read.parquet(snap).count()
    for (sink <- Seq(sinkS, sinkM)) {
      val out = spark.read.parquet(sink)
      assert(out.count() === nSnap + all.count(), sink)
      assert(out.select("operation", "user_id", "seqval_num", "event_id")
        .distinct().count() === out.count(), sink)
    }
    assert(batches(sinkM) === batches(sinkS))
  }

  test("one CDC micro-batch stream: exactly one main source file declares a MicroBatchStream") {
    import scala.jdk.CollectionConverters._
    val needle = "extends " + "MicroBatchStream"
    val root = java.nio.file.Paths.get("src/main")
    assert(Files.isDirectory(root), s"$root not found from ${java.nio.file.Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val streams =
      try walk.iterator.asScala.filter { p =>
        Files.isRegularFile(p) && p.toString.endsWith(".scala") &&
          Files.readString(p).contains(needle)
      }.map(_.toString).toList
      finally walk.close()
    assert(streams === Seq("src/main/scala/graft/sources/CdcTableProvider.scala"))
  }
}

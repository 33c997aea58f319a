package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BrokerSink, CdcPipeline, LocalCheckpointFileManager, LogBroker}

/** Static in-JVM broker stub for the Kafka-shaped sink test: producers
  * created on (local-mode) executors record into one shared queue. */
object RecordingBroker {
  private val queue =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
  def clear(): Unit = queue.clear()
  def all: Seq[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    queue.iterator().asScala.toSeq
  }
  def newProducer(): CdcPipeline.RecordProducer = new CdcPipeline.RecordProducer {
    override def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit =
      queue.add((topic, new String(key, "UTF-8"),
        if (value == null) null else new String(value, "UTF-8")))
    override def flush(): Unit = ()
    override def close(): Unit = ()
  }
}

/** A sink whose every write fails, as a broker outage would. */
object FailingSink extends CdcPipeline.CdcSink {
  override def writeBatch(batch: Dataset[CdcPipeline.KeyedUpdate],
      batchId: Long): Unit = throw new RuntimeException("sink unavailable")
}

/** End-to-end Structured Streaming pipeline tests: the staged change feed
  * streams through the stateful last-wins/tombstone stage into the
  * idempotent parquet sink, and the compacted state must equal the batch
  * oracle (last change per key, tombstoned keys dropped). A second run
  * appends late chunks and resumes from the checkpoint — the reference's
  * progress-topic recovery (G2) via Spark checkpoints. */
class CdcPipelineSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("cdc-pipeline").toString
  }

  /** Batch oracle: per key, the highest-index published row; keys whose
    * latest operation is Delete are absent. */
  private def expectedState() = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("lsn_num").desc, col("command_id").desc,
        col("seqval_num").desc, col("operation").desc)
    graft.fixtures.SyntheticCdc.changeRows(spark, sfDir)
      .filter(col("operation").isin(1, 2, 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("operation") =!= 1)
      .select(col("user_id"), col("seqval_num"), col("event_type"), col("value"))
  }

  /** A published value's change index; tombstones carry none. */
  private val changeIndex =
    """"lsnNum":-?\d+,"commandId":-?\d+,"seqvalNum":-?\d+,"operation":-?\d+""".r

  test("streamed compacted state equals the batch last-wins oracle") {
    val feed = s"$work/feed1"; val sink = s"$work/sink1"; val ckpt = s"$work/ckpt1"
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 5)
    CdcPipeline.runToParquet(spark, feed, sink, ckpt)

    val got = CdcPipeline.compactedState(spark, sink)
      .select(col("userId").as("user_id"), col("seqvalNum").as("seqval_num"),
        col("eventType").as("event_type"), col("value"))
    val exp = expectedState()
    assert(got.count() === exp.count())
    assert(got.except(exp).count() === 0)
    assert(exp.except(got).count() === 0)
  }

  test("restart resumes from checkpoint without duplicating batches") {
    val feed = s"$work/feed2"; val sink = s"$work/sink2"; val ckpt = s"$work/ckpt2"
    // Phase 1: only the first 3 poll windows exist.
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 5, Some(0 until 3))
    CdcPipeline.runToParquet(spark, feed, sink, ckpt)
    val batchesAfterPhase1 = spark.read.parquet(s"$sink/log")
      .select("batch_id").distinct().count()

    // Phase 2: the remaining windows arrive; same checkpoint → resume.
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 5, Some(3 until 5))
    CdcPipeline.runToParquet(spark, feed, sink, ckpt)

    val log = spark.read.parquet(s"$sink/log")
    val batchesTotal = log.select("batch_id").distinct().count()
    assert(batchesTotal > batchesAfterPhase1, "phase 2 must add new batches")

    // No event published twice at the same change index for the same key
    // (exactly-once at the log level).
    val dups = log.filter(!col("isTombstone"))
      .groupBy("userId", "lsnNum", "commandId", "seqvalNum", "operation")
      .count().filter(col("count") > 1)
    assert(dups.count() === 0)

    // Final compacted state still equals the batch oracle.
    val got = CdcPipeline.compactedState(spark, sink)
      .select(col("userId").as("user_id"), col("seqvalNum").as("seqval_num"),
        col("eventType").as("event_type"), col("value"))
    val exp = expectedState()
    assert(got.except(exp).count() === 0 && exp.except(got).count() === 0)
  }

  test("snapshot backfill + changes converge to the merged state (A2/G3)") {
    val feed = s"$work/feed3"; val sink = s"$work/sink3"; val ckpt = s"$work/ckpt3"
    CdcPipeline.stageOrdersSnapshotAndChanges(spark, sfDir, feed, nSnapshotPages = 4)
    CdcPipeline.runToParquet(spark, feed, sink, ckpt)

    val got = CdcPipeline.compactedState(spark, sink)
      .select(col("userId"), col("value"))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    // Oracle: snapshot base, minus deleted keys, updates applied, inserts
    // added (inserted keys are never deleted/updated: key+10M).
    val exp = orders
      .filter(col("o_orderkey") % 17 =!= 0)
      .select(col("o_orderkey").as("userId"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")).as("value"))
      .unionByName(orders.filter(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + 10000000L).as("userId"),
          col("o_totalprice").as("value")))
    assert(got.count() === exp.count())
    assert(got.except(exp).count() === 0 && exp.except(got).count() === 0)
  }

  test("Kafka-shaped sink publishes keyed records with null-value tombstones through the trait") {
    val feed = s"$work/feed4"; val ckpt = s"$work/ckpt4"
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 3)
    RecordingBroker.clear()
    CdcPipeline.run(spark, feed, ckpt,
      new CdcPipeline.KeyedRecordSink((_, _) => RecordingBroker.newProducer(), "events_cdc"))

    val sent = RecordingBroker.all
    assert(sent.nonEmpty)
    assert(sent.forall(_._1 == "events_cdc"))
    // Cross-check against the parquet sink on the SAME feed: identical
    // record count and tombstone count — the trait changes transport only.
    val sinkP = s"$work/sink4p"
    CdcPipeline.runToParquet(spark, feed, sinkP, s"$work/ckpt4p")
    val log = spark.read.parquet(s"$sinkP/log")
    assert(sent.size.toLong === log.count())
    val nullValued = sent.count(_._3 == null)
    assert(nullValued.toLong === log.filter(col("isTombstone")).count())
    assert(nullValued > 0)
    // Non-tombstone payloads are JSON carrying the key they were sent with.
    val (_, key, value) = sent.find(_._3 != null).get
    assert(value.contains(s""""userId":$key"""))
  }

  test("quiet feed past the E8 bound emits one ceiling heartbeat; fresh or active feeds do not") {
    val feed = s"$work/feed_hb"
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 2)
    val sink = s"$work/sink_hb"; val ckpt = s"$work/ckpt_hb"
    val stale = CdcPipeline.HeartbeatClock(
      lastProducedEpochSec = 1000, nowEpochSec = () => 1000 + 360)
    // Active cycle: data flows, so NO heartbeat even with a stale clock.
    CdcPipeline.run(spark, feed, ckpt,
      new CdcPipeline.ParquetPartitionedSink(sink), Some(stale))
    val log1 = spark.read.parquet(s"$sink/log")
    assert(log1.filter(col("seqvalNum") === -1L).count() === 0)

    // Idle cycle (nothing new), clock NOT yet stale: no heartbeat.
    CdcPipeline.run(spark, feed, ckpt,
      new CdcPipeline.ParquetPartitionedSink(sink),
      Some(CdcPipeline.HeartbeatClock(1000, () => 1000 + 359)))
    assert(spark.read.parquet(s"$sink/log")
      .filter(col("seqvalNum") === -1L).count() === 0)

    // Idle cycle past 2x the heartbeat interval: exactly one heartbeat
    // at the feed's max LSN, with the recognizable all-0xff shape.
    CdcPipeline.run(spark, feed, ckpt,
      new CdcPipeline.ParquetPartitionedSink(sink), Some(stale))
    val hb = spark.read.parquet(s"$sink/log").filter(col("seqvalNum") === -1L)
    assert(hb.count() === 1)
    val r = hb.select("lsnNum", "commandId", "operation", "eventType", "batch_id").head()
    val maxLsn = spark.read.parquet(feed).agg(max("lsn_num")).head().getLong(0)
    assert(r.getLong(0) === maxLsn)
    assert(r.getInt(1) === 0 && r.getInt(2) === 4)
    assert(r.getString(3) === "__heartbeat")
    // Ceiling-derived negative id (the partition column reads back as the
    // narrowest type that fits the directory value, hence getAs[Number]).
    assert(r.getAs[Number](4).longValue === CdcPipeline.heartbeatBatchId(maxLsn))

    // A replayed idle cycle overwrites, never duplicates, the heartbeat;
    // and the compacted view never holds state for the heartbeat key.
    CdcPipeline.run(spark, feed, ckpt,
      new CdcPipeline.ParquetPartitionedSink(sink), Some(stale))
    assert(spark.read.parquet(s"$sink/log")
      .filter(col("seqvalNum") === -1L).count() === 1)
    assert(CdcPipeline.compactedState(spark, sink)
      .filter(col("userId") === -1L).count() === 0)
  }

  test("a failing sink leaves no cached batch behind") {
    val feed = s"$work/feed_fail"
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 2)
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[StreamingQueryException] {
      CdcPipeline.run(spark, feed, s"$work/ckpt_fail", FailingSink)
    }
    assert(spark.sparkContext.getPersistentRDDs.size === before)
  }

  test("warm poll cycles compile no generated classes") {
    // Each cycle is one run call that publishes one new poll window, the
    // shape of a follower polling the change table. Generated code is the
    // same every cycle, so once two cycles have run, a cycle must find all
    // of it in the codegen cache.
    val feed = s"$work/feed_warm"; val ckpt = s"$work/ckpt_warm"
    val broker = "warm-broker"; val topic = "t-warm"
    val sink = BrokerSink.transactional(broker, topic)
    val b = LogBroker.get(broker)
    def cycle(window: Int): Long = {
      CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 5,
        Some(window until window + 1))
      val published = b.readCommittedAll(topic).size
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      CdcPipeline.run(spark, feed, ckpt, sink)
      assert(b.readCommittedAll(topic).size > published,
        s"window $window published nothing")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    }
    (0 until 2).foreach(cycle)
    (2 until 5).foreach { w =>
      assert(cycle(w) === 0L, s"window $w recompiled generated classes")
    }
    LogBroker.drop(broker)
  }

  test("warm poll cycles fork no process to commit their checkpoint") {
    // Every batch writes its offsets, commit-log entry and one state delta
    // per state partition before it acks; none of them may go through a
    // forked chmod or readlink.
    val feed = s"$work/feed_fork"; val ckpt = s"$work/ckpt_fork"
    val broker = "fork-broker"; val topic = "t-fork"
    val sink = BrokerSink.transactional(broker, topic)
    def cycle(window: Int): Unit = {
      CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 5,
        Some(window until window + 1))
      CdcPipeline.run(spark, feed, ckpt, sink)
    }
    (0 until 2).foreach(cycle)
    val forks = Forks.during(Forks.CheckpointManager)((2 until 5).foreach(cycle))
    assert(forks === 0, s"3 warm cycles forked $forks processes from a checkpoint file manager")
    assert(LogBroker.get(broker).uncommittedCount(topic) === 0)
    LogBroker.drop(broker)
  }

  test("warm poll cycles fork no process to write their parquet windows") {
    // Each cycle publishes one window through ParquetPartitionedSink's
    // per-batch overwrite; only the run is counted, not the staging.
    val feed = s"$work/feed_wfork"; val ckpt = s"$work/ckpt_wfork"
    val sink = s"$work/sink_wfork"
    def cycle(window: Int): Int = {
      CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 5,
        Some(window until window + 1))
      Forks.during(Forks.HadoopShell)(CdcPipeline.runToParquet(spark, feed, sink, ckpt))
    }
    (0 until 2).foreach(cycle)
    val forks = (2 until 5).map(cycle).sum
    assert(forks === 0, s"3 warm cycles forked $forks processes from Hadoop's shell")
    assert(spark.read.parquet(s"$sink/log").select("batch_id").distinct().count() >= 5)
  }

  test("a checkpoint carries on across Spark's default checkpoint manager and graft's") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val sparkDefault = spark.newSession()
    sparkDefault.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    val feed = s"$work/feed_mgr"; val ckpt = s"$work/ckpt_mgr"
    val broker = "mgr-broker"; val topic = "t-mgr"
    val sink = BrokerSink.transactional(broker, topic)
    def cycle(session: SparkSession, windows: Range): Unit = {
      CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 5, Some(windows))
      CdcPipeline.run(session, feed, ckpt, sink)
    }
    cycle(sparkDefault, 0 until 2)
    cycle(spark, 2 until 4)
    // Back to Spark's default, this time set in the SparkContext's Hadoop
    // conf, which wins over graft's just as a session's setting does.
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val sparkViaHadoop = spark.newSession()
    hadoopConf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    try cycle(sparkViaHadoop, 4 until 5) finally hadoopConf.unset(key)
    assert(sparkViaHadoop.conf.getOption(key).isEmpty)
    assert(sparkDefault.conf.get(key) === classOf[FileContextBasedCheckpointFileManager].getName)
    assert(spark.conf.get(key) === classOf[LocalCheckpointFileManager].getName)

    val b = LogBroker.get(broker)
    assert(b.uncommittedCount(topic) === 0)
    val indexed = b.readCommittedAll(topic).collect { case (_, r) if r.value != null =>
      val v = new String(r.value, "UTF-8")
      (new String(r.key, "UTF-8"), changeIndex.findFirstIn(v).getOrElse(v))
    }
    assert(indexed.distinct.size === indexed.size, "a (key, change index) was published twice")

    CdcPipeline.runToParquet(spark, feed, s"$work/sink_mgrP", s"$work/ckpt_mgrP")
    val cols = Seq("userId", "lsnNum", "commandId", "seqvalNum", "operation",
      "eventType", "value").map(col)
    val got = BrokerSink.compactedState(spark, broker, topic).select(cols: _*)
    val exp = CdcPipeline.compactedState(spark, s"$work/sink_mgrP").select(cols: _*)
    assert(got.count() === exp.count())
    assert(got.except(exp).isEmpty && exp.except(got).isEmpty)
    LogBroker.drop(broker)
  }

  test("tombstones follow deletes in the published log (G4)") {
    val log = spark.read.parquet(s"$work/sink1/log")
    val deletes = log.filter(col("operation") === 1 && !col("isTombstone"))
    val tombs = log.filter(col("isTombstone"))
    // Every tombstone pairs with a delete at the same change index.
    assert(tombs.join(deletes,
      Seq("userId", "lsnNum", "commandId", "seqvalNum"), "left_anti").count() === 0)
    assert(tombs.count() > 0)
  }
}

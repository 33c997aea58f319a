package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BrokerSink, CdcPipeline, LogBroker}

/** A producer that dies mid-partition exactly once per JVM flag: models a
  * task/driver crash AFTER some sends but BEFORE the transaction commits
  * (the reference's crash-mid-produce window, `cdc_kafka/main.py:319-350`).
  * Static because local-mode executor threads share the JVM. */
object CrashOnce {
  val armed = new AtomicBoolean(false)
  def arm(): Unit = armed.set(true)

  final class Producer(inner: CdcPipeline.RecordProducer)
      extends CdcPipeline.RecordProducer {
    private var sent = 0
    override def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit = {
      inner.send(topic, key, value)
      sent += 1
      if (sent >= 3 && armed.compareAndSet(true, false))
        throw new RuntimeException("injected crash mid-batch")
    }
    override def flush(): Unit = inner.flush()
    override def close(): Unit = inner.close()
  }
}

/** Passes every batch to `inner` and records its batch id. */
final class BatchIdRecorder(inner: CdcPipeline.CdcSink) extends CdcPipeline.CdcSink {
  val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  override def writeBatch(batch: Dataset[CdcPipeline.KeyedUpdate],
      batchId: Long): Unit = {
    ids.add(batchId)
    inner.writeBatch(batch, batchId)
  }
}

/** A6/A7/A8 + G1/G2 against the in-JVM transactional broker: the CDC
  * pipeline publishes through [[BrokerSink]] with one fenced transaction
  * per (batch, partition); a crash injected mid-batch leaves only aborted
  * (invisible) records, the restart replays the batch under a new
  * producer epoch, and the final `read_committed` + compacted views are
  * exactly the parquet-sink oracle — exactly-once observed end to end. */
class LogBrokerSinkSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("logbroker-sink").toString
  }

  // ---- broker-model unit tests -------------------------------------

  test("read_committed hides open and aborted transactions; commit reveals") {
    val b = LogBroker.get("unit-rc")
    val p = b.initTransactions("tx-rc")
    p.beginTransaction()
    p.send("t", "k1".getBytes, "v1".getBytes)
    assert(b.readCommitted("t").isEmpty, "open txn must be invisible")
    p.commitTransaction()
    assert(b.readCommitted("t").map(r => new String(r.value)) === Vector("v1"))

    p.beginTransaction()
    p.send("t", "k2".getBytes, "v2".getBytes)
    p.abortTransaction()
    assert(b.readCommitted("t").size === 1, "aborted txn must stay invisible")
    assert(b.uncommittedCount("t") === 1)
    LogBroker.drop("unit-rc")
  }

  test("re-initTransactions fences the zombie and aborts its dangling txn") {
    val b = LogBroker.get("unit-fence")
    val zombie = b.initTransactions("tx-f")
    zombie.beginTransaction()
    zombie.send("t", "k".getBytes, "old".getBytes)
    // Crash-restart: a new incarnation registers the same transactional.id.
    val fresh = b.initTransactions("tx-f")
    // The zombie's records were aborted by the epoch bump...
    assert(b.readCommitted("t").isEmpty)
    // ...and every zombie API call now surfaces as ProducerFenced.
    intercept[b.ProducerFenced] { zombie.send("t", "k".getBytes, "x".getBytes) }
    intercept[b.ProducerFenced] { zombie.commitTransaction() }
    // The new epoch proceeds normally.
    fresh.beginTransaction()
    fresh.send("t", "k".getBytes, "new".getBytes)
    fresh.commitTransaction()
    assert(b.readCommitted("t").map(r => new String(r.value)) === Vector("new"))
    LogBroker.drop("unit-fence")
  }

  test("compactedView keeps last record per key and drops tombstoned keys") {
    val b = LogBroker.get("unit-compact")
    val p = b.initTransactions("tx-c")
    p.beginTransaction()
    p.send("t", "a".getBytes, "a1".getBytes)
    p.send("t", "b".getBytes, "b1".getBytes)
    p.send("t", "a".getBytes, "a2".getBytes)
    p.send("t", "b".getBytes, null) // tombstone
    p.commitTransaction()
    val compacted = b.compactedView("t").map(r => new String(r.key) -> new String(r.value))
    assert(compacted === Vector("a" -> "a2"))
    LogBroker.drop("unit-compact")
  }

  test("topic layout is immutable: conflicting createTopic fails loudly") {
    val b = LogBroker.get("unit-layout")
    b.createTopic("explicit", partitions = 4)
    b.createTopic("explicit", partitions = 4) // idempotent re-create ok
    intercept[IllegalStateException] { b.createTopic("explicit", partitions = 2) }
    // Implicit first touch materializes 1 partition; a later conflicting
    // createTopic must fail, not desync the partition map (ADVICE low #2).
    val p = b.initTransactions("tx-l"); p.beginTransaction()
    p.send("implicit", "k".getBytes, "v".getBytes); p.commitTransaction()
    intercept[IllegalStateException] { b.createTopic("implicit", partitions = 3) }
    assert(b.readCommittedAll("implicit").size === 1)
    LogBroker.drop("unit-layout")
  }

  test("keyed records spread across a multi-partition topic and merge back") {
    val b = LogBroker.get("unit-parts")
    b.createTopic("t", partitions = 4)
    val p = b.initTransactions("tx-p"); p.beginTransaction()
    (0 until 100).foreach(i => p.send("t", s"key-$i".getBytes, s"v$i".getBytes))
    p.commitTransaction()
    val byPartition = b.readCommittedAll("t").groupBy(_._1)
    assert(byPartition.keySet.size > 1, "keys must hash across partitions")
    assert(byPartition.values.map(_.size).sum === 100)
    LogBroker.drop("unit-parts")
  }

  test("concurrent re-init vs in-flight zombie always surfaces as fencing, never a torn state") {
    val b = LogBroker.get("unit-race")
    (0 until 50).foreach { i =>
      val zombie = b.initTransactions("tx-race")
      zombie.beginTransaction()
      zombie.send("t", "k".getBytes, s"z$i".getBytes)
      val racer = new Thread(() => b.initTransactions("tx-race"))
      racer.start()
      // The zombie keeps sending while the re-init lands: every outcome
      // must be either a clean append (aborted moments later) or a
      // ProducerFenced — no NPE, no committed zombie data.
      try {
        zombie.send("t", "k".getBytes, s"z$i-late".getBytes)
        zombie.commitTransaction()
      } catch {
        case _: b.ProducerFenced => ()
      }
      racer.join()
    }
    // After re-inits (epoch bumps), at most records committed BEFORE a
    // bump are visible; verify visibility is self-consistent: every
    // visible record's value was produced by a commit that won its race.
    val visible = b.readCommitted("t")
    assert(visible.forall(r => new String(r.value).startsWith("z")))
    LogBroker.drop("unit-race")
  }

  // ---- end-to-end exactly-once through the pipeline ----------------

  test("a committed transactional id never re-produces: replay degrades to a no-op") {
    val b = LogBroker.get("unit-replay")
    // First attempt commits normally.
    val p1 = new BrokerSink.TxnRecordProducer("unit-replay", "tx-r")
    p1.send("t", "k".getBytes, "v1".getBytes)
    p1.flush()
    assert(b.readCommitted("t").size === 1)
    assert(b.hasCommitted("tx-r"))
    // A replay with the SAME transactional id (batch retried after a
    // sibling-partition failure) must publish NOTHING — not even under a
    // new epoch — or the log double-counts.
    val p2 = new BrokerSink.TxnRecordProducer("unit-replay", "tx-r")
    p2.send("t", "k".getBytes, "v1".getBytes)
    p2.flush(); p2.close()
    assert(b.readCommitted("t").size === 1, "replay re-produced a committed txn")
    // An UNCOMMITTED id still registers, fences, and produces normally.
    assert(b.initTransactionsUnlessCommitted("tx-r2").isDefined)
    LogBroker.drop("unit-replay")
  }

  test("A6→A7→A11 chain: broker compacted state replays onto a target == parquet state") {
    val feed = s"$work/feed-chain"; val broker = "chain-broker"; val topic = "t-chain"
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 2)
    // Publish through the transactional broker sink (A6)...
    CdcPipeline.run(spark, feed, s"$work/ckpt-chain",
      BrokerSink.transactional(broker, topic))
    // ...recover state from the compacted topic (A7)...
    val state = BrokerSink.compactedState(spark, broker, topic)
    // ...and replay it onto an empty target with the generic MERGE (A11).
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "userId LONG, seqvalNum LONG, eventType STRING, value DOUBLE"))
    val applied = graft.tools.Replayer.merge(empty,
      state.select("userId", "seqvalNum", "eventType", "value"), Seq("userId"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))

    // Oracle: the parquet pipeline on the SAME feed, compacted directly.
    CdcPipeline.runToParquet(spark, feed, s"$work/sink-chain", s"$work/ckptP-chain")
    val expected = CdcPipeline.compactedState(spark, s"$work/sink-chain")
      .select("userId", "seqvalNum", "eventType", "value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))

    assert(applied.length === expected.length)
    assert(applied.toSet === expected.toSet)
    LogBroker.drop(broker)
  }

  test("heartbeats through a broker-backed sink: fresh ceilings publish, replays skip, none survives compaction (ADVICE r6)") {
    val broker = "hb-broker"; val topic = "t-hb"
    val b = LogBroker.get(broker)
    val sink = BrokerSink.transactional(broker, topic)
    def emit(ceiling: Long): Unit = sink.writeBatch(
      spark.createDataset(Seq(CdcPipeline.heartbeatRecord(ceiling)))(
        org.apache.spark.sql.Encoders.product[CdcPipeline.KeyedUpdate]),
      CdcPipeline.heartbeatBatchId(ceiling))
    emit(100L)
    emit(100L) // replay of the same idle cycle: same txn ids, skipped
    emit(200L) // LATER ceiling: a fresh id — must not read as a replay
    val hbRecords = b.readCommittedAll(topic)
      .count(r => new String(r._2.key, "UTF-8") == "-1")
    assert(hbRecords === 2,
      "expected ceiling-100 once (replay skipped) + ceiling-200 once")
    // The compacted log still holds the pseudo-key (compaction is
    // key-blind), but state RECOVERY must never resurrect it.
    assert(b.compactedView(topic).exists(r => new String(r.key, "UTF-8") == "-1"))
    assert(BrokerSink.compactedState(spark, broker, topic)
      .filter(col("userId") === -1L).count() === 0)
    LogBroker.drop(broker)
  }

  test("partition -> transactional.id contract holds on a session with AQE on") {
    // Batches run their sink work on the caller's session, so its adaptive
    // execution must not coalesce or split the sink's fixed 8-bucket
    // repartition: a bucket renumbered by AQE would break replay fencing.
    val aqe = spark.newSession()
    aqe.conf.set("spark.sql.adaptive.enabled", "true")
    val feed = s"$work/feed-aqe"; val broker = "aqe-broker"; val topic = "t-aqe"
    CdcPipeline.stageChangeFeed(aqe, sfDir, feed, nChunks = 3)
    val sink = new BatchIdRecorder(BrokerSink.transactional(broker, topic))
    CdcPipeline.run(aqe, feed, s"$work/ckpt-aqe", sink)

    val b = LogBroker.get(broker)
    import scala.jdk.CollectionConverters._
    val ids = sink.ids.asScala.toSeq
    assert(ids.size === 3)
    ids.foreach { id =>
      (0 until 8).foreach { p =>
        assert(b.hasCommitted(s"graft-$topic-b$id-p$p"), s"batch $id partition $p")
      }
      assert(!b.hasCommitted(s"graft-$topic-b$id-p8"), s"batch $id has a 9th partition")
    }

    // The compacted broker state equals the parquet-sink oracle.
    CdcPipeline.runToParquet(aqe, feed, s"$work/sink-aqe", s"$work/ckptP-aqe")
    val cols = Seq("userId", "lsnNum", "commandId", "seqvalNum", "operation",
      "eventType", "value").map(col)
    val got = BrokerSink.compactedState(aqe, broker, topic).select(cols: _*)
    val exp = CdcPipeline.compactedState(aqe, s"$work/sink-aqe").select(cols: _*)
    assert(got.count() === exp.count())
    assert(got.except(exp).isEmpty && exp.except(got).isEmpty)
    LogBroker.drop(broker)
  }

  test("crash mid-batch, restart: read_committed + compacted views are exactly-once (A6/G1/G2)") {
    val feed = s"$work/feed"; val ckpt = s"$work/ckpt"
    val broker = "e2e-broker"; val topic = "events_cdc"
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 4)

    // Crash-injecting transactional sink: first batch-1 partition that
    // reaches 3 sends dies before commit.
    val sink = new CdcPipeline.KeyedRecordSink(
      (batchId, pid) => new CrashOnce.Producer(
        new BrokerSink.TxnRecordProducer(
          broker, s"graft-$topic-b$batchId-p$pid")),
      topic)

    CrashOnce.arm()
    intercept[StreamingQueryException] {
      CdcPipeline.run(spark, feed, ckpt, sink)
    }
    val b = LogBroker.get(broker)
    // The dead attempt's records are in the log but invisible: aborted by
    // close() or by the restart's fencing — never half-committed.
    val visibleAfterCrash = b.readCommittedAll(topic).size

    // Restart with the same checkpoint: the failed batch replays with the
    // same batch id; same transactional.id => zombie fenced, dangling txn
    // aborted, then the replay commits.
    CdcPipeline.run(spark, feed, ckpt, sink)

    assert(b.readCommittedAll(topic).size > visibleAfterCrash)
    val aborted = (0 until 1).map(p => b.uncommittedCount(topic, p)).sum
    assert(aborted > 0, "the crashed attempt must have left aborted records")

    // Oracle: the parquet sink on the SAME staged feed (fresh checkpoint).
    val sinkP = s"$work/sinkP"
    CdcPipeline.runToParquet(spark, feed, sinkP, s"$work/ckptP")
    val log = spark.read.parquet(s"$sinkP/log")

    // Exactly-once at the log level: committed record count equals the
    // oracle's emitted-update count — the crashed attempt added nothing.
    assert(b.readCommittedAll(topic).size.toLong === log.count())

    // Exactly-once at the state level: compacted broker view == compacted
    // parquet state, key by key, value by value.
    val gotState = b.compactedView(topic)
      .map(r => new String(r.key, "UTF-8").toLong -> new String(r.value, "UTF-8"))
      .toMap
    val expRows = CdcPipeline.compactedState(spark, sinkP)
      .select(col("userId"), col("seqvalNum")).collect()
    assert(gotState.size === expRows.length)
    expRows.foreach { r =>
      val v = gotState(r.getLong(0))
      assert(v.contains(s""""seqvalNum":${r.getLong(1)}"""),
        s"key ${r.getLong(0)}: broker value $v != expected seqval ${r.getLong(1)}")
    }
    LogBroker.drop(broker)
  }
}

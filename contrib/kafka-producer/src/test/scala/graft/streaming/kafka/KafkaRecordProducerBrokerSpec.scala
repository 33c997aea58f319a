package graft.streaming.kafka

import java.nio.file.Files
import java.time.Duration
import java.util.Properties
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.kafka.clients.consumer.{Consumer, ConsumerRecord, ConsumerRecords}
import org.apache.kafka.clients.producer.{Callback, Producer, ProducerRecord, RecordMetadata}
import org.apache.kafka.common.{Node, PartitionInfo, TopicPartition}
import org.apache.kafka.common.errors.ProducerFencedException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, LogBroker}

/** INTEGRATION test of the adapter's exactly-once logic: where
  * `KafkaRecordProducerSpec` proves the call SEQUENCE against recording
  * mocks, this drives the real [[KafkaRecordProducer]] through client
  * implementations backed by the [[LogBroker]] semantic model — actual
  * fencing, transactional visibility, and log compaction — up to the
  * full crash-mid-batch CDC pipeline. The committed-marker protocol is
  * exercised for real: the broker model's own committed-id registry is
  * NOT consulted (the bridge calls raw `initTransactions`), so every
  * replay skip observed here came from the adapter's control-topic
  * marker riding inside the transaction. */
class KafkaRecordProducerBrokerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private var work: String = _

  override def beforeAll(): Unit = {
    spark = graft.GraftSession.local(4)
    work = Files.createTempDirectory("kafka-adapter-int").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ---- semantic integration ----------------------------------------

  test("commit writes data + marker atomically; a replay finds the marker and no-ops") {
    val b = LogBroker.get("int-replay")
    val p1 = BrokerBridge.adapter("int-replay", "tx-1")
    p1.send("t", "k".getBytes, "v1".getBytes)
    p1.flush(); p1.close()
    assert(b.readCommitted("t").size === 1)
    assert(b.readCommitted("ctl").size === 1, "the committed-id marker must be visible")
    // Replay of the committed id: the adapter's consult — reading the
    // control topic through the consumer bridge — skips production.
    val p2 = BrokerBridge.adapter("int-replay", "tx-1")
    assert(p2.isReplayNoOp)
    p2.send("t", "k".getBytes, "v1".getBytes); p2.flush(); p2.close()
    assert(b.readCommitted("t").size === 1, "replay must not re-produce")
    LogBroker.drop("int-replay")
  }

  test("crash before commit: data AND marker stay invisible, the retry re-produces exactly once") {
    val b = LogBroker.get("int-crash")
    val p1 = BrokerBridge.adapter("int-crash", "tx-2")
    p1.send("t", "k".getBytes, "v".getBytes)
    p1.close() // error path: abort — no marker committed
    assert(b.readCommitted("t").isEmpty)
    assert(b.readCommitted("ctl").isEmpty,
      "an aborted attempt's marker must be invisible — else the retry would wrongly skip")
    val p2 = BrokerBridge.adapter("int-crash", "tx-2")
    assert(!p2.isReplayNoOp)
    p2.send("t", "k".getBytes, "v".getBytes)
    p2.flush(); p2.close()
    assert(b.readCommitted("t").size === 1)
    LogBroker.drop("int-crash")
  }

  test("zombie with the same transactional id is fenced by the retry's initTransactions") {
    val b = LogBroker.get("int-fence")
    val zombie = BrokerBridge.adapter("int-fence", "tx-3")
    zombie.send("t", "k".getBytes, "stale".getBytes) // txn open, never commits
    val retry = BrokerBridge.adapter("int-fence", "tx-3") // fences the zombie
    retry.send("t", "k".getBytes, "fresh".getBytes)
    retry.flush(); retry.close()
    // The zombie's late commit surfaces as ProducerFenced...
    intercept[ProducerFencedException] { zombie.flush() }
    // ...and close() swallows it on the abort path.
    zombie.close()
    assert(b.readCommitted("t").map(r => new String(r.value)) === Vector("fresh"))
    LogBroker.drop("int-fence")
  }

  // ---- full pipeline, crash mid-batch, THROUGH the adapter ----------

  test("CDC pipeline crash-mid-batch exactly-once with the real adapter in the sink") {
    val feed = s"$work/feed"; val ckpt = s"$work/ckpt"
    val brokerName = "int-e2e"; val topic = "events_cdc"
    val b = LogBroker.get(brokerName)
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 4)

    val sink = new CdcPipeline.KeyedRecordSink(
      (batchId, pid) => new CrashOnceProducer(
        BrokerBridge.adapter(brokerName, s"graft-$topic-b$batchId-p$pid")),
      topic)

    CrashOnceProducer.arm()
    intercept[StreamingQueryException] {
      CdcPipeline.run(spark, feed, ckpt, sink)
    }
    val visibleAfterCrash = b.readCommittedAll(topic).size
    // Restart: same checkpoint, same batch ids → per-(batch, partition)
    // adapters re-derive their ids; committed siblings skip via their
    // markers, the crashed partition re-produces under a fresh epoch.
    CdcPipeline.run(spark, feed, ckpt, sink)
    assert(b.readCommittedAll(topic).size > visibleAfterCrash)

    // Oracle: the parquet sink on the same staged feed.
    val sinkP = s"$work/sinkP"
    CdcPipeline.runToParquet(spark, feed, sinkP, s"$work/ckptP")
    val expected = spark.read.parquet(s"$sinkP/log").count()
    assert(b.readCommittedAll(topic).size.toLong === expected,
      "adapter-published log must match the parquet oracle exactly once")
    LogBroker.drop(brokerName)
  }
}

/** Crash injector: the first producer whose partition reaches 3 sends
  * dies before commit, once per arm() (executor threads share the JVM
  * in local mode, hence the static flag). */
object CrashOnceProducer {
  val armed = new AtomicBoolean(false)
  def arm(): Unit = armed.set(true)
}

final class CrashOnceProducer(inner: CdcPipeline.RecordProducer)
    extends CdcPipeline.RecordProducer {
  private var sent = 0
  override def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit = {
    inner.send(topic, key, value)
    sent += 1
    if (sent >= 3 && CrashOnceProducer.armed.compareAndSet(true, false))
      throw new RuntimeException("injected crash mid-batch")
  }
  override def flush(): Unit = inner.flush()
  override def close(): Unit = inner.close()
}

// ---- LogBroker-backed kafka-client bridge -------------------------

/** Producer over the broker model. RAW `initTransactions` (epoch bump
  * + zombie fencing, no committed-skip) — replay protection is the
  * ADAPTER'S job here. Model exceptions translate to the kafka API's. */
final class BrokerProducer(b: LogBroker, txnId: String)
    extends Producer[Array[Byte], Array[Byte]] {
  private var h: b.TxnProducerHandle = _
  private def tr[T](f: => T): T =
    try f catch {
      case e: b.ProducerFenced => throw new ProducerFencedException(e.getMessage)
    }
  override def initTransactions(): Unit = tr { h = b.initTransactions(txnId) }
  override def beginTransaction(): Unit = tr(h.beginTransaction())
  override def commitTransaction(): Unit = tr(h.commitTransaction())
  override def abortTransaction(): Unit = tr(h.abortTransaction())
  override def send(r: ProducerRecord[Array[Byte], Array[Byte]])
      : java.util.concurrent.Future[RecordMetadata] = {
    tr(h.send(r.topic(), r.key(), r.value())); null
  }
  override def send(r: ProducerRecord[Array[Byte], Array[Byte]], cb: Callback)
      : java.util.concurrent.Future[RecordMetadata] = send(r)
  override def flush(): Unit = ()
  override def partitionsFor(t: String): java.util.List[PartitionInfo] =
    java.util.Collections.emptyList()
  override def close(): Unit = ()
  override def close(timeout: Duration): Unit = ()
}

/** read_committed consumer over the broker model's control topic: one
  * poll serves everything from the seeked position to the end offset
  * (committed records only — an aborted marker is invisible, exactly
  * the visibility the adapter's consult relies on). */
final class BrokerConsumer(b: LogBroker, topic: String)
    extends Consumer[Array[Byte], Array[Byte]] {
  private var pos = 0L
  override def partitionsFor(t: String): java.util.List[PartitionInfo] =
    java.util.List.of(new PartitionInfo(t, 0, Node.noNode(),
      Array.empty[Node], Array.empty[Node]))
  override def assign(ps: java.util.Collection[TopicPartition]): Unit = ()
  override def endOffsets(ps: java.util.Collection[TopicPartition])
      : java.util.Map[TopicPartition, java.lang.Long] =
    ps.asScala.map(p => p -> java.lang.Long.valueOf(
      b.readCommitted(topic).size.toLong)).toMap.asJava
  override def seek(p: TopicPartition, offset: Long): Unit = pos = offset
  override def position(p: TopicPartition): Long = pos
  override def poll(timeout: Duration): ConsumerRecords[Array[Byte], Array[Byte]] = {
    val all = b.readCommitted(topic)
    val slice = all.drop(pos.toInt)
    pos = all.size.toLong
    val list = slice.zipWithIndex.map { case (r, i) =>
      new ConsumerRecord[Array[Byte], Array[Byte]](
        topic, 0, pos - slice.size + i, r.key, r.value)
    }.asJava
    new ConsumerRecords(java.util.Map.of(new TopicPartition(topic, 0), list))
  }
  override def close(): Unit = ()
}

object BrokerBridge {
  /** Build the real adapter over the named broker model. Static (no
    * captured test state) so sink factories that call it serialize. */
  def adapter(brokerName: String, txnId: String): KafkaRecordProducer = {
    val b = LogBroker.get(brokerName)
    new KafkaRecordProducer("model://" + brokerName, txnId,
      controlTopic = "ctl",
      producerFactory = (p: Properties) =>
        new BrokerProducer(b, p.getProperty("transactional.id")),
      consumerFactory = (_: Properties) => new BrokerConsumer(b, "ctl"))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.fixtures.SyntheticCdc
import graft.sources.CdcTableProvider

/** The CDC publishing pipeline restated as Structured Streaming.
  *
  * Reference shape (`cdc_kafka/main.py:208-353`): poll change tables in
  * `ChangeIndex` order, project the message envelope, emit tombstones
  * after deletes, commit progress atomically with the data. Spark-first
  * restatement:
  *
  *   - the ordered change feed is a file micro-batch stream (each staged
  *     file = one poll window, [[MicroBatch.fileSource]]: the reference's
  *     `db_row_batch_size` pacing, E6/E7),
  *   - the envelope projection is the SAME logic as the batch queries
  *     (one definition, two execution modes),
  *   - per-key last-state tracking + tombstone emission is
  *     `flatMapGroupsWithState` (E3/G4) — the state store replaces the
  *     reference's in-process dicts, and scales per-key across executors,
  *   - progress/offsets are the streaming checkpoint (G2): restart resumes
  *     exactly where the last committed batch ended; the sink write is
  *     idempotent per batch id so replays cannot duplicate (G1).
  *
  * Schema evolution (G6) keeps the reference's own answer: detect and
  * terminate for supervisor restart — a Structured Streaming query cannot
  * change schema mid-run.
  */
object CdcPipeline {

  /** One published CDC event (envelope §1.3, numeric fixture encoding). */
  final case class CdcEvent(
      lsnNum: Long, commandId: Int, seqvalNum: Long, operation: Int,
      eventId: Long, userId: Long, eventType: String, value: Double,
      props: String)

  /** Per-key output of the stateful stage: the latest surviving row for
    * the key, or a tombstone (isTombstone=true) after a delete. */
  final case class KeyedUpdate(
      userId: Long, lsnNum: Long, commandId: Int, seqvalNum: Long,
      operation: Int, eventType: String, value: Double,
      isTombstone: Boolean)

  /** State-store record: highest change index seen for the key. Must be
    * public — the state encoder's generated code constructs it. */
  final case class KeyState(
      lsnNum: Long, commandId: Int, seqvalNum: Long, operation: Int)

  /** Stage the synthetic change table as a directory of parquet files
    * split into `nChunks` poll windows in change-index order (the test
    * stand-in for successive change-table reads). */
  def stageChangeFeed(spark: SparkSession, sfDir: String, outDir: String,
      nChunks: Int, chunkRange: Option[Range] = None): Unit = {
    val rows = SyntheticCdc.changeRows(spark, sfDir)
      .select(col("lsn_num"), col("command_id"), col("seqval_num"),
        col("operation"), col("event_id"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val total = rows.count()
    val per = math.max(1L, (total + nChunks - 1) / nChunks)
    // Chunk boundaries follow the change-index order: chunk k holds rows
    // with rank in [k*per, (k+1)*per) — files arrive in stream order.
    val chunked = rows.withColumn("chunk",
      floor(col("seqval_num") / per).cast("int"))
    val range = chunkRange.getOrElse(0 until nChunks)
    range.foreach { k =>
      chunked.filter(col("chunk") === k).drop("chunk")
        .coalesce(1)
        .write.mode(if (k == 0) "overwrite" else "append")
        .parquet(outDir)
    }
  }

  /** Stage a snapshot-backfill + change feed for the `orders` table: the
    * snapshot walks the key space in DESCENDING keyset chunks (A2's
    * reverse pagination, one file per page, operation 0 at change index
    * zero), followed by change poll windows carrying updates (op 4 on
    * every 3rd key), deletes (op 1 on every 17th) and inserts (op 2, new
    * keys). Because snapshot rows sit at the bottom of the change-index
    * order, the stateful last-wins stage resolves snapshot-vs-change
    * precedence with no special casing — arrival order cannot matter. */
  def stageOrdersSnapshotAndChanges(spark: SparkSession, sfDir: String,
      outDir: String, nSnapshotPages: Int): Unit = {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val per = math.max(1L, (maxKey + nSnapshotPages) / nSnapshotPages)
    val snap = orders.select(
      lit(0L).as("lsn_num"), lit(0).as("command_id"), lit(0L).as("seqval_num"),
      lit(0).as("operation"), col("o_orderkey").as("event_id"),
      col("o_orderkey").as("user_id"), col("o_orderstatus").as("event_type"),
      col("o_totalprice").as("value"), col("o_orderpriority").as("props"))
    // Reverse keyset: page 0 holds the HIGHEST keys.
    (0 until nSnapshotPages).foreach { k =>
      val lo = maxKey - (k + 1) * per
      val hi = maxKey - k * per
      snap.filter(col("event_id") > lo && col("event_id") <= hi)
        .coalesce(1)
        .write.mode(if (k == 0) "overwrite" else "append").parquet(outDir)
    }
    val changes = orders.select(col("o_orderkey"), col("o_totalprice"),
      col("o_orderstatus"), col("o_orderpriority"))
    val updates = changes.filter(col("o_orderkey") % 3 === 0).select(
      (col("o_orderkey") / 8 + 1).cast("long").as("lsn_num"), lit(0).as("command_id"),
      col("o_orderkey").as("seqval_num"), lit(4).as("operation"),
      col("o_orderkey").as("event_id"), col("o_orderkey").as("user_id"),
      lit("U").as("event_type"), (col("o_totalprice") + 1000.0).as("value"),
      col("o_orderpriority").as("props"))
    val deletes = changes.filter(col("o_orderkey") % 17 === 0).select(
      (col("o_orderkey") / 8 + 2).cast("long").as("lsn_num"), lit(0).as("command_id"),
      (col("o_orderkey") + 100000000L).as("seqval_num"), lit(1).as("operation"),
      col("o_orderkey").as("event_id"), col("o_orderkey").as("user_id"),
      lit("D").as("event_type"), lit(0.0).as("value"), col("o_orderpriority").as("props"))
    val inserts = changes.filter(col("o_orderkey") % 1000 === 0).select(
      (col("o_orderkey") / 8 + 3).cast("long").as("lsn_num"), lit(0).as("command_id"),
      (col("o_orderkey") + 200000000L).as("seqval_num"), lit(2).as("operation"),
      (col("o_orderkey") + 10000000L).as("event_id"),
      (col("o_orderkey") + 10000000L).as("user_id"),
      lit("N").as("event_type"), col("o_totalprice").as("value"),
      col("o_orderpriority").as("props"))
    updates.unionByName(deletes).unionByName(inserts)
      .coalesce(1).write.mode("append").parquet(outDir)
  }

  /** The streaming change feed: B1 operation filter + envelope columns,
    * one poll window per micro-batch. */
  def changeStream(spark: SparkSession, feedDir: String): Dataset[CdcEvent] = {
    import spark.implicits._
    MicroBatch.fileSource(spark, CdcTableProvider.schema, feedDir)
      // B1: only PreUpdate images are dropped; Snapshot(0), Delete(1),
      // Insert(2), PostUpdate(4) all publish (`sql_queries.py:265`).
      .filter(col("operation") =!= 3)
      .select(col("lsn_num").as("lsnNum"), col("command_id").as("commandId"),
        col("seqval_num").as("seqvalNum"), col("operation"),
        col("event_id").as("eventId"), col("user_id").as("userId"),
        col("event_type").as("eventType"), col("value"), col("props"))
      .as[CdcEvent]
  }

  /** Stateful last-wins per key with tombstones: for each key the state
    * holds the highest change index seen; each batch emits the key's new
    * latest row (if it advanced) and, when that row is a delete, a
    * tombstone record after it (`main.py:342-345`). Out-of-order arrivals
    * BELOW the stored index are dropped — the reference's strict-order
    * guard (`main.py:329-331`) restated as idempotent state. */
  def keyedUpdates(events: Dataset[CdcEvent]): Dataset[KeyedUpdate] = {
    import events.sparkSession.implicits._
    import scala.math.Ordering.Implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState[KeyState, KeyedUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[CdcEvent], state: GroupState[KeyState]) =>
          val ordered = rows.toSeq.sortBy(e =>
            (e.lsnNum, e.commandId, e.seqvalNum, e.operation))
          val floor = state.getOption
          val fresh = ordered.filter { e =>
            floor.forall(f =>
              (e.lsnNum, e.commandId, e.seqvalNum, e.operation) >
                ((f.lsnNum, f.commandId, f.seqvalNum, f.operation)))
          }
          if (fresh.isEmpty) Iterator.empty
          else {
            val last = fresh.last
            state.update(KeyState(last.lsnNum, last.commandId, last.seqvalNum,
              last.operation))
            val upd = KeyedUpdate(userId, last.lsnNum, last.commandId,
              last.seqvalNum, last.operation, last.eventType, last.value,
              isTombstone = false)
            if (last.operation == 1) // Delete → value row then tombstone
              Iterator(upd, upd.copy(isTombstone = true))
            else Iterator(upd)
          }
      }
  }

  /** Sink strategy for the published stream (A6/G1): one call per
    * micro-batch with the batch id; implementations must be idempotent on
    * replay of the same (batch, batchId) after crash-restart. */
  trait CdcSink extends Serializable {
    def writeBatch(batch: Dataset[KeyedUpdate], batchId: Long): Unit
  }

  /** Parquet log sink: one partition dir per batch id; a replayed batch
    * overwrites its own directory only (dynamic partition overwrite),
    * never duplicating (G1). */
  final class ParquetPartitionedSink(sinkDir: String) extends CdcSink {
    override def writeBatch(batch: Dataset[KeyedUpdate], batchId: Long): Unit =
      MicroBatch.overwriteBatch(batch.toDF(), batchId, s"$sinkDir/log")
  }

  /** Per-partition handle to a keyed-record broker (the Kafka seam, A6).
    * The factory runs ON EXECUTORS — a real deployment returns a thin
    * KafkaProducer adapter (`enable.idempotence=true` plus a
    * `transactional.id` derived from the batch id gives the broker-side
    * half of exactly-once; the checkpoint gives the source half, G1/G2 —
    * the role the reference's progress topic + producer flush plays,
    * `kafka.py:158-342`). No broker ships in this environment, so tests
    * inject a recording stub. */
  trait RecordProducer {
    def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit
    def flush(): Unit
    def close(): Unit
  }

  /** Kafka-shaped sink: each update publishes as a record keyed by the
    * row key; a tombstone publishes the key with a NULL value (G4 — log
    * compaction then drops the key). Rows fan out per partition on the
    * executors; `flush()` completes before the batch commits so the
    * checkpoint can never outrun delivery.
    *
    * The factory receives `(batchId, partitionId)` — exactly the
    * ingredients of a STABLE Kafka `transactional.id`: a retried task (or
    * a post-crash batch replay) re-derives the same id, so
    * `initTransactions` fences the zombie attempt and aborts its dangling
    * transaction before the retry writes (the reference's
    * crash-mid-produce guarantee, `kafka.py:87-101`, `main.py:319-350`).
    * For a transactional producer, `flush()` is the commit point (it only
    * runs after every send succeeded) and `close()` on the error path
    * must abort — see [[BrokerSink.transactional]].
    *
    * The id is only as stable as the PARTITIONING: the upstream plan's
    * partition count follows cluster size, so a restart on different
    * parallelism would renumber partitions — committed-id replay
    * protection would then both skip records it never published and
    * re-publish records it already did. The sink therefore repartitions
    * every batch by the row key into a FIXED `producePartitions` bucket
    * count (a config constant, never a cluster property): the same batch
    * hashes to the same (partitionId → row set) mapping on any cluster,
    * making `(batchId, partitionId)` a durable name for that unit of
    * work. One bounded per-batch shuffle is the price; the reference
    * pays the same by producing through a single ordered process. */
  final class KeyedRecordSink(
      producerFactory: (Long, Int) => RecordProducer,
      topic: String,
      producePartitions: Int = 8) extends CdcSink {
    override def writeBatch(batch: Dataset[KeyedUpdate], batchId: Long): Unit = {
      val t = topic
      val pf = producerFactory
      // Record values render via to_json (Jackson), not hand interpolation:
      // a quote or backslash in eventType escapes correctly and a
      // NaN/Infinity value quotes as a string Jackson can parse back —
      // hand-built JSON silently produced invalid documents for both
      // (ADVICE r5), which compactedState's from_json would have turned
      // into all-NULL rows.
      batch.toDF()
        .select(col("userId"),
          when(col("isTombstone"), lit(null).cast("string"))
            .otherwise(to_json(struct(
              col("userId"), col("lsnNum"), col("commandId"),
              col("seqvalNum"), col("operation"), col("eventType"),
              col("value")))).as("json"))
        .repartition(producePartitions, col("userId"))
        .foreachPartition { (rows: Iterator[Row]) =>
        val p = pf(batchId, org.apache.spark.TaskContext.getPartitionId())
        try {
          rows.foreach { r =>
            val key = r.getLong(0).toString.getBytes("UTF-8")
            val value = if (r.isNullAt(1)) null else r.getString(1).getBytes("UTF-8")
            p.send(t, key, value)
          }
          p.flush()
        } finally p.close()
      }
    }
  }

  /** Heartbeat input for one poll cycle (E8): when this cycle publishes
    * nothing and the previous publish is older than twice the heartbeat
    * interval, [[run]] emits one recognizable progress record at the
    * feed's polled ceiling (`main.py:174-182`). The clock is injected so
    * specs can age the table deterministically. */
  final case class HeartbeatClock(lastProducedEpochSec: Long,
      nowEpochSec: () => Long = () => System.currentTimeMillis() / 1000)

  /** The recognizable heartbeat shape in KeyedUpdate form: all-0xff
    * seqval (numeric -1), command 0, operation 4
    * (`change_index.py:74-76`), no real key or payload. */
  def heartbeatRecord(ceilingLsn: Long): KeyedUpdate =
    KeyedUpdate(userId = -1L, lsnNum = ceilingLsn, commandId = 0,
      seqvalNum = -1L, operation = 4, eventType = "__heartbeat",
      value = 0.0, isTombstone = false)

  def isHeartbeatRecord(lsnNum: Long, commandId: Int, seqvalNum: Long,
      operation: Int): Boolean =
    seqvalNum == -1L && commandId == 0 && operation == 4

  /** Batch id for a heartbeat write at the given polled ceiling.
    * Heartbeat ids live in the NEGATIVE space (`-1 - ceilingLsn`), so
    * they can never collide with the checkpoint's monotone non-negative
    * real batch ids; the id is a pure function of the ceiling, so a
    * REPLAY of the same idle cycle re-derives the same id — the parquet
    * log sink overwrites its own partition and a broker-backed sink's
    * committed-txn registry skips the duplicate — while a LATER ceiling
    * derives a FRESH id, so a transactional sink does not mistake every
    * subsequent heartbeat for a replay of the first (ADVICE r6: a fixed
    * id meant only the first heartbeat ever reached a broker-backed
    * sink). Successive ceilings therefore append distinct heartbeat rows
    * to a parquet log; consumers recognize the all-0xff shape and skip
    * them (compactedState filters them), same as Kafka consumers of the
    * reference's progress topic. */
  def heartbeatBatchId(ceilingLsn: Long): Long = -1L - ceilingLsn

  /** Run the pipeline over the staged feed through a [[CdcSink]] with
    * exactly-once semantics: the checkpoint commits after the sink's
    * idempotent per-batch write. Returns after all available data is
    * processed. When `heartbeat` is given and this cycle published
    * nothing, a quiet table past the E8 staleness bound emits one
    * heartbeat record at the feed's max LSN (the polled ceiling). */
  def run(spark: SparkSession, feedDir: String, checkpointDir: String,
      sink: CdcSink, heartbeat: Option[HeartbeatClock] = None): Unit = {
    import spark.implicits._
    // Per-operation produce counts ride the batch as OBSERVED METRICS
    // (D7: the reference's accumulator counters,
    // `metric_reporting/accumulator.py:100-140`) — computed inside the
    // running plan with zero extra jobs and surfaced to
    // CdcMetricsListener through QueryProgress.observedMetrics.
    val updates = keyedUpdates(changeStream(spark, feedDir))
      .toDF()
      .observe("graft_ops",
        count(when(col("operation") === 1 && !col("isTombstone"), 1))
          .as("deletes"),
        count(when(col("operation") === 2, 1)).as("inserts"),
        count(when(col("operation") === 4, 1)).as("updates"),
        count(when(col("operation") === 0, 1)).as("snapshots"),
        count(when(col("isTombstone"), 1)).as("tombstones"))
      .as[KeyedUpdate]
    val produced = new java.util.concurrent.atomic.AtomicLong(0)
    // `count` runs the stateful stage whatever the sink does, so the
    // state commit never depends on the sink reading every row; the
    // cache is released even when the sink throws.
    MicroBatch.drainEach(updates, checkpointDir) { (batch, batchId) =>
      val b = batch.as[KeyedUpdate].persist()
      try {
        produced.addAndGet(b.count())
        sink.writeBatch(b, batchId)
      } finally b.unpersist()
    }

    // E8 epilogue: this poll cycle produced nothing — if the previous
    // publish is stale, emit the ceiling heartbeat so downstream progress
    // consumers see the table is alive and caught up (the reference does
    // this inside its poll loop; AvailableNow has no empty batches, so
    // the cycle boundary is the natural point).
    heartbeat.foreach { hb =>
      if (produced.get() == 0L) {
        val ceiling = spark.read.schema(CdcTableProvider.schema).parquet(feedDir)
          .agg(max(col("lsn_num"))).head()
        val ceilingLsn = if (ceiling.isNullAt(0)) 0L else ceiling.getLong(0)
        graft.model.Policies.heartbeatIndex(hb.lastProducedEpochSec,
          hb.nowEpochSec(), graft.model.ChangeIndex.lsnFromLong(ceilingLsn))
          .foreach { idx =>
            assert(idx.isProbablyHeartbeat)
            sink.writeBatch(
              spark.createDataset(Seq(heartbeatRecord(ceilingLsn)))(
                org.apache.spark.sql.Encoders.product[KeyedUpdate]),
              heartbeatBatchId(ceilingLsn))
          }
      }
    }
  }

  /** Parquet convenience wrapper over [[run]] (the test/bench default). */
  def runToParquet(spark: SparkSession, feedDir: String, sinkDir: String,
      checkpointDir: String): Unit =
    run(spark, feedDir, checkpointDir, new ParquetPartitionedSink(sinkDir))

  /** Compact the published log to the current state table: last update
    * per key, dropping tombstoned keys (A7/E3 — the compacted-topic
    * recovery query). */
  def compactedState(spark: SparkSession, sinkDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("userId"))
      .orderBy(col("lsnNum").desc, col("commandId").desc,
        col("seqvalNum").desc, col("operation").desc, col("isTombstone").desc)
    spark.read.parquet(s"$sinkDir/log")
      // Heartbeats are progress markers, not data: consumers recognize
      // the all-0xff shape and skip it (`change_index.py:74-76`), so the
      // compacted view must never hold state for the heartbeat pseudo-key.
      .filter(not(col("seqvalNum") === -1L && col("commandId") === 0 &&
        col("operation") === 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("isTombstone"))
      .drop("rn", "batch_id")
  }
}

package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.metrics.{CdcMetricsListener, CollectingReporter}
import graft.streaming.{BrokerSink, CdcPipeline, LogBroker, UnifiedStream}
import graft.streaming.CdcPipeline.{CdcSink, KeyedRecordSink, KeyedUpdate, RecordProducer}

/** One call of a pipeline entry point: its wall, the batches it ran,
  * the sink writes it made (batch id, start us, end us), and whether it
  * returned without an error. */
final case class Call(wallMs: Double, batches: Seq[Batch],
    writes: Seq[(Long, Long, Long)], ok: Boolean)

/** One micro-batch as its progress event reports it. */
final case class Batch(batchId: Long, startMs: Double,
    d: Map[String, Long], rows: Long, stateRows: Long, stateBytes: Long,
    stateCommitMs: Long) {
  def dur(k: String): Double = d.getOrElse(k, 0L).toDouble
  def wall: Double = dur("triggerExecution")
  def endMs: Double = startMs + wall
}

/** Broker-side counts from the traced producer wrapper. */
object BrokerStats {
  val txns = new AtomicLong(0L)
  val aborted = new AtomicLong(0L)
  val records = new AtomicLong(0L)
  val sendMs = new ConcurrentLinkedQueue[Double]()
  val commitMs = new ConcurrentLinkedQueue[Double]()
  @volatile var trace: Trace = new Trace(false)
}

/** Times one transaction of `open`'s producer: construction
  * (initTransactions + begin) to close, its sends and its commit. */
final class TimedProducer(open: => RecordProducer, group: String) extends RecordProducer {
  private val trace = BrokerStats.trace
  private val id = trace.nextId()
  private val t0 = Clock.nowUs
  private val inner = open
  private var sendNs = 0L
  private var n = 0L
  private var committed = false

  override def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit = {
    val t = System.nanoTime()
    inner.send(topic, key, value)
    sendNs += System.nanoTime() - t
    n += 1
  }

  override def flush(): Unit = {
    val t = Clock.nowUs
    inner.flush()
    val t1 = Clock.nowUs
    committed = true
    BrokerStats.commitMs.add((t1 - t) / 1000.0)
    trace.add("broker.commit", group, id, t, t1)
  }

  override def close(): Unit = {
    inner.close()
    BrokerStats.txns.incrementAndGet()
    if (!committed) BrokerStats.aborted.incrementAndGet()
    BrokerStats.records.addAndGet(n)
    BrokerStats.sendMs.add(sendNs / 1e6)
    trace.add("broker.txn", group, trace.idFor(s"$group/writeBatch"), t0, Clock.nowUs, id)
  }
}

/** Times every `writeBatch` of the wrapped sink. */
final class TimedSink(inner: CdcSink, call: String, @transient trace: Trace) extends CdcSink {
  /** (batch id, start us, end us) per write. */
  val writes = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  override def writeBatch(batch: Dataset[KeyedUpdate], batchId: Long): Unit = {
    val t0 = Clock.nowUs
    inner.writeBatch(batch, batchId)
    val t1 = Clock.nowUs
    writes.add((batchId, t0, t1))
    val group = s"$call-b$batchId"
    trace.add("writeBatch", group, trace.idFor(s"$group/addBatch"), t0, t1,
      trace.idFor(s"$group/writeBatch"))
  }
}

/** The CDC pipeline workloads. */
object CdcWorkloads {
  val batchSize = 2000
  val topic = "cdc"

  // Trigger phases in the order a micro-batch runs them.
  private val phases = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  /** Turn one call's progress events into batches, and in a traced run
    * into a batch span with its phases as children, rebuilt end to end
    * from `durationMs`. */
  private def batches(ctx: Ctx, call: String, callSpan: Long,
      ps: Seq[StreamingQueryProgress]): Seq[Batch] = ps.sortBy(_.batchId).map { p =>
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    val st = p.stateOperators.toSeq
    val b = Batch(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d, p.numInputRows,
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum, st.map(_.commitTimeMs).sum)
    if (ctx.trace.enabled) {
      val group = s"$call-b${p.batchId}"
      val start = (b.startMs * 1000).toLong
      val id = ctx.trace.add("batch", group, callSpan, start,
        start + (b.wall * 1000).toLong, ctx.trace.idFor(group))
      var t = start
      val extra = d.keys.filterNot(k => phases.contains(k) || k == "triggerExecution").toSeq.sorted
      (phases ++ extra).foreach { k =>
        d.get(k).foreach { ms =>
          ctx.trace.add(k, group, id, t, t + ms * 1000, ctx.trace.idFor(s"$group/$k"))
          t += ms * 1000
        }
      }
    }
    b
  }

  /** Run one pipeline entry point as span `span` named `id`: time it,
    * count an error as a failed call, and collect its batches once the
    * listener has seen them. */
  private def call(ctx: Ctx, span: String, id: String, sink: Option[TimedSink] = None)(
      body: => Unit): Call = {
    val t0 = Clock.nowUs
    var ok = true
    var sid = 0L
    ctx.trace.span(span, id) { s =>
      sid = s
      try body catch { case NonFatal(e) => ok = false; ctx.report.info(s"$id failed: $e") }
    }
    val wall = (Clock.nowUs - t0) / 1000.0
    Call(wall, batches(ctx, id, sid, ctx.streamEvents()),
      sink.map(_.writes.asScala.toSeq.sortBy(_._1)).getOrElse(Nil), ok)
  }

  /** In a traced run, the broker sink with each transaction's producer
    * wrapped (the same TxnRecordProducer and transactional.id scheme
    * `BrokerSink.transactional` uses); untraced, that sink itself. */
  private def brokerSink(ctx: Ctx, broker: String, call: String): CdcSink =
    if (!ctx.trace.enabled) BrokerSink.transactional(broker, topic)
    else new KeyedRecordSink((b, p) => new TimedProducer(
      new BrokerSink.TxnRecordProducer(broker, s"graft-$topic-b$b-p$p"), s"$call-b$b"), topic)

  /** Committed transactions of the given batches, found by probing the
    * broker's public committed-id registry partition by partition. */
  private def committedTxns(broker: String, batchIds: Seq[Long]): Long =
    batchIds.map { b =>
      Iterator.from(0).takeWhile(p =>
        LogBroker.get(broker).hasCommitted(s"graft-$topic-b$b-p$p")).size.toLong
    }.sum

  private def seedFor(seed: Long, part: Int): Long = seed * 1000003L + part

  /** Start a traced run's timed phase: the engine's own metrics listener
    * with a collecting reporter, and the job count so far. */
  private def timedPhase(ctx: Ctx): (Option[CollectingReporter], Long) = {
    val reporter = if (!ctx.trace.enabled) None else {
      val r = new CollectingReporter
      ctx.spark.streams.addListener(new CdcMetricsListener(Seq(r)))
      Some(r)
    }
    (reporter, ctx.counters.map(_.jobs.get).getOrElse(0L))
  }

  /** Per-batch layer metrics every streaming workload reports, plus the
    * share of batch wall the phases account for. */
  private def streamingLayers(ctx: Ctx, calls: Seq[Call], jobs0: Long,
      reporter: Option[CollectingReporter]): Unit = {
    val r = ctx.report
    val bs = calls.flatMap(_.batches)
    r.layer("streaming.wal_ms", Stats.median(bs.map(b => b.dur("walCommit") + b.dur("commitOffsets"))))
    r.layer("streaming.cycle_overhead_ms",
      Stats.median(calls.map(c => c.wallMs - c.batches.map(_.wall).sum)))
    r.layer("streaming.batch_coverage", bs.map(b => phases.map(b.dur).sum).sum / bs.map(_.wall).sum)
    ctx.counters.foreach { c =>
      c.settle()
      r.layer("spark.jobs_per_batch", (c.jobs.get - jobs0).toDouble / bs.size)
    }
    reporter.foreach { rep =>
      val n = rep.all.size
      r.layer("metrics.intervals", n.toDouble)
      r.check("metrics_intervals_equal_batches", n == bs.size, s"$n intervals for ${bs.size} batches")
    }
  }

  // ---------------------------------------------------------------- catch-up

  /** The backlog one drain catches up on: `orders` with a one-page
    * snapshot backfill and `events` without one. */
  private val catchupTables = Seq(
    "orders" -> FeedSpec(keys = 4000, hotKeys = 0, hotShare = 0.0, deleteShare = 0.1,
      snapshotRows = 2000, events = 2500),
    "events" -> FeedSpec(keys = 2000, hotKeys = 0, hotShare = 0.0, deleteShare = 0.1,
      snapshotRows = 0, events = 3000))

  /** The same tables at a quarter of the size, for warm-up drains. */
  private val warmupTables = catchupTables.map { case (t, s) =>
    t -> s.copy(snapshotRows = s.snapshotRows / 4, events = s.events / 4) }

  def catchup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val tables = catchupTables.map(_._1)
    def stage(root: Path, specs: Seq[(String, FeedSpec)]): Map[String, Feed] =
      specs.zipWithIndex.map { case ((t, spec), i) =>
        val feed = FeedGen.generate(spec, seedFor(ctx.seed, i))
        FeedGen.writeWindows(feed.changes, root.resolve(s"$t/feed"), batchSize)
        if (feed.snapshot.nonEmpty)
          FeedGen.write(feed.snapshot, root.resolve(s"$t/snapshot/snapshot.parquet"))
        t -> feed
      }.toMap

    var drains = 0
    /** One catch-up: a fresh checkpoint and sink drain the whole backlog. */
    def drain(base: Path): (Path, Call) = {
      val id = s"d$drains"
      drains += 1
      val sink = ctx.work.resolve(s"catchup/sink-$id")
      sink -> call(ctx, "runFromSource", id) {
        UnifiedStream.runFromSource(spark, base.toString, tables, sink.toString,
          ctx.work.resolve(s"catchup/ckpt-$id").toString, batchSize)
      }
    }

    val (base, feeds) = Setup.rounds(ctx, 3) { round =>
      val (base, warm, feeds) = ctx.trace.span("generate", "setup") { _ =>
        val warm = ctx.dir(s"catchup/warmup-$round")
        stage(warm, warmupTables)
        val base = ctx.dir(s"catchup/input-$round")
        (base, warm, stage(base, catchupTables))
      }
      Setup.warmup(ctx, round)(drain(warm))
      (base, feeds)
    }
    val admitted = feeds.values.map(f => f.snapshot.size + f.changes.size).sum
    val published = feeds.values.map(_.published).sum

    val (reporter, jobs0) = timedPhase(ctx)
    val runs = Setup.closedLoop(ctx)(drain(base))
    val calls = runs.map(_._2)
    val bs = calls.flatMap(_.batches)
    val failed = calls.count(!_.ok)
    r.ops(bs.size + failed, failed)

    var publishedTotal = 0L
    runs.foreach { case (sink, _) =>
      val label = sink.getFileName.toString
      val out = spark.read.parquet(sink.toString)
      val n = out.count()
      publishedTotal += n
      r.check(s"published_rows_$label", n == published, s"$n published, expected $published")
      val bad = UnifiedStream.orderValidation(spark, sink.toString).count()
      r.check(s"order_validation_$label", bad == 0, s"$bad order regressions")
      val biggest = out.groupBy("batch_id").count().agg(max(col("count"))).head().getLong(0)
      r.check(s"batch_rows_$label", biggest <= batchSize, s"a batch published $biggest rows")
    }
    // Drain wall: first trigger start to the end of the last batch.
    val drainS = calls.map(c => (c.batches.map(_.endMs).max - c.batches.map(_.startMs).min) / 1000.0).sum
    r.e2e("throughput_per_s", publishedTotal / drainS, "1/s",
      f" (rows_per_s: $publishedTotal published rows over ${calls.size} drains, $drainS%.3f s)")
    val walls = bs.map(_.wall)
    r.e2e("latency_ms", Stats.median(walls), "ms", s" (batch_ms_p50, n=${walls.size})")
    r.tail("batch_ms_tail", walls, "ms")

    r.layer("sources.offset_ms_p50", Stats.median(bs.map(_.dur("latestOffset"))))
    r.layer("sources.offset_ms_sum", bs.map(_.dur("latestOffset")).sum)
    r.layer("sources.plan_ms", Stats.median(bs.map(b => b.dur("getBatch") + b.dur("queryPlanning"))))
    r.layer("sources.rows_in", bs.map(_.rows).sum.toDouble)
    // Progress counts each admitted row more than once on this path, so
    // throughput comes from published rows and the ratio is reported here.
    r.layer("sources.read_amplification", bs.map(_.rows).sum.toDouble / (admitted.toLong * calls.size))
    r.layer("streaming.produce_ms", Stats.median(bs.map(_.dur("addBatch"))))
    streamingLayers(ctx, calls, jobs0, reporter)
  }

  // ------------------------------------------------------------------ follow

  val windowRows = 2000
  /** The reference's shortest poll interval. At one window per 2 s (its
    * 1,000 rows/s per-topic design point) a poll cycle here uses ~65% of
    * the interval, and a host 1.5x slower tips it into a growing backlog
    * that triples ack latency; at 3 s there is room for that noise. */
  val windowEveryMs = 3000L
  /** The reference's maximum poll interval: a window acked later fails. */
  val maxAckMs = 10000.0
  /** Poll cycles each set-up round warms up with, and cycles the last
    * round's follower then runs once more before the timed windows. With
    * 3 cycles in all, ack latency still fell by a quarter over the next
    * ten windows. At 10 s the timed windows are then batches 8-11 of
    * their checkpoint in every run, the same place in the file source's
    * 10-batch log compaction cycle, which sets part of each restart's
    * cost: the first of them, before the compaction, acks slowest. */
  private val warmupCycles = 3
  private val extraWarmupCycles = 5

  /** Skewed keys: 20 hot keys take 60% of the change events. */
  private def followSpec(windows: Int) = FeedSpec(keys = 20000, hotKeys = 20, hotShare = 0.6,
    deleteShare = 0.05, snapshotRows = 0, events = windows * windowRows)

  /** Committed records' (key, change index) must be unique: a replayed
    * or doubled transaction would repeat them. Tombstones carry no index. */
  private val indexRe = """"lsnNum":(-?\d+),"commandId":(-?\d+),"seqvalNum":(-?\d+),"operation":(-?\d+)""".r

  private def checkBroker(ctx: Ctx, broker: String, feed: Feed, state: Seq[Row]): Unit = {
    val r = ctx.report
    val got = state.map(s => s.getAs[Long]("userId") ->
      (s.getAs[Long]("lsnNum"), s.getAs[Int]("commandId"), s.getAs[Long]("seqvalNum"),
        s.getAs[Int]("operation"), s.getAs[String]("eventType"), s.getAs[Double]("value"))).toMap
    val want = feed.lastWins.map { case (k, f) => k -> (f.lsn, f.cmd, f.seqval, f.op, f.eventType, f.value) }
    r.check("compacted_state", got == want,
      s"${got.size} keys recovered, ${want.size} expected, ${(got.toSet diff want.toSet).size} differ")
    val b = LogBroker.get(broker)
    val open = b.uncommittedCount(topic)
    r.check("uncommitted_records", open == 0, s"$open uncommitted records")
    val keys = b.readCommittedAll(topic).collect { case (_, d) if d.value != null =>
      val v = new String(d.value, "UTF-8")
      (new String(d.key, "UTF-8"), indexRe.findFirstMatchIn(v).map(_.matched).getOrElse(v))
    }
    r.check("no_duplicate_records", keys.distinct.size == keys.size,
      s"${keys.size - keys.distinct.size} duplicated (key, change index) records")
  }

  /** One follower: staged windows, the feed directory they land in, and
    * one checkpoint and broker for all its poll cycles. */
  private final class Follower(ctx: Ctx, round: Int, windows: Int) {
    private val stage = ctx.dir(s"follow/input-$round/stage")
    private val feedDir = ctx.dir(s"follow/input-$round/feed")
    private val ckpt = ctx.work.resolve(s"follow/input-$round/ckpt").toString
    val broker = s"perfbench-follow-$round"
    LogBroker.drop(broker)
    val feed = FeedGen.generate(followSpec(windows), seedFor(ctx.seed, 0))
    private val files = FeedGen.writeWindows(feed.changes.take(windows * windowRows), stage, windowRows)
    @volatile var landed = 0
    private var cycles = 0

    /** Move the next window into the feed; returns when it landed. */
    def land(): Long = {
      val f = files(landed)
      val now = System.currentTimeMillis()
      f.toFile.setLastModified(now)
      Files.move(f, feedDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      landed += 1
      now
    }

    /** One poll cycle: one `CdcPipeline.run` call. */
    def cycle(): Call = {
      val id = s"r$round-c$cycles"
      cycles += 1
      val sink = new TimedSink(brokerSink(ctx, broker, id), id, ctx.trace)
      call(ctx, "cycle", id, Some(sink))(CdcPipeline.run(ctx.spark, feedDir.toString, ckpt, sink))
    }
  }

  def follow(ctx: Ctx): Unit = {
    val r = ctx.report
    BrokerStats.trace = ctx.trace
    // Every window due within the run's seconds.
    val timedWindows = ((ctx.seconds * 1000L + windowEveryMs - 1) / windowEveryMs).toInt
    val f = Setup.roundsThen(ctx, 3) { round =>
      val f = ctx.trace.span("generate", "setup")(_ =>
        new Follower(ctx, round, warmupCycles + extraWarmupCycles + timedWindows))
      Setup.warmup(ctx, round) {
        (0 until warmupCycles).foreach { _ => f.land(); f.cycle() }
      }
      f
    } { f =>
      ctx.trace.span("warmup", "setup")(_ => (0 until extraWarmupCycles).foreach { _ => f.land(); f.cycle() })
    }

    Seq(BrokerStats.txns, BrokerStats.aborted, BrokerStats.records).foreach(_.set(0L))
    BrokerStats.sendMs.clear()
    BrokerStats.commitMs.clear()
    val (reporter, jobs0) = timedPhase(ctx)
    // Open loop: window k is due at t0 + k * 3 s whatever the poller does;
    // the generator only moves pre-built files, so it never waits on it.
    val t0 = System.currentTimeMillis() + 100
    val due = (0 until timedWindows).map(k => t0 + k * windowEveryMs)
    val landedAt = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val lander = new Thread(() => {
      due.zipWithIndex.foreach { case (at, k) =>
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        ctx.trace.span("land", s"w$k")(_ => landedAt.put(k, f.land()))
      }
    }, "perfbench-lander")
    lander.setDaemon(true)
    lander.start()
    // The poller calls run() back to back until every window is acked or
    // the last one is past the maximum poll interval.
    val cycles = scala.collection.mutable.ArrayBuffer[Call]()
    val giveUp = due.last + maxAckMs.toLong
    while (cycles.map(_.batches.size).sum < timedWindows && System.currentTimeMillis() < giveUp)
      cycles += f.cycle()
    lander.join()

    val bs = cycles.flatMap(_.batches).toSeq
    val writes = cycles.flatMap(_.writes).toSeq
    // Window k is the k-th batch of the timed phase: the file source
    // admits one file per batch, oldest first.
    val acks = due.indices.map(k => writes.lift(k).map(_._3 / 1000.0 - due(k)))
    val acked = acks.flatten
    val failedCycles = cycles.count(!_.ok)
    r.ops(timedWindows + bs.size + failedCycles,
      acks.count(_.forall(_ > maxAckMs)) + failedCycles)
    r.check("every_window_acked", acked.size == timedWindows && bs.size == timedWindows,
      s"${acked.size} of $timedWindows windows acked in ${bs.size} batches")
    r.ops(committedTxns(f.broker, bs.map(_.batchId)))
    val t = Clock.nowUs
    val state = ctx.trace.span("compactedState", "follow")(_ =>
      BrokerSink.compactedState(ctx.spark, f.broker, topic).collect().toSeq)
    val recoverMs = (Clock.nowUs - t) / 1000.0
    checkBroker(ctx, f.broker, f.feed.prefix(f.landed * windowRows), state)

    r.e2e("throughput_per_s", timedWindows * windowRows / ((writes.map(_._3 / 1000.0).max - t0) / 1000.0),
      "1/s", s" (rows acked per second, offered ${1000 * windowRows / windowEveryMs})")
    r.e2e("latency_ms", Stats.median(acked), "ms", s" (ack_ms_p50, n=${acked.size})")
    r.tail("ack_ms_tail", acked, "ms")
    r.info(s"ack samples ${acked.map(a => f"$a%.0f").mkString(" ")} ms")
    r.info(f"batch_ms_p50 ${Stats.median(bs.map(_.wall))}%.1f ms (n=${bs.size})")

    val endMs = (t0 + ctx.seconds * 1000L).toDouble
    r.layer("gen.late_ms_max", due.indices.flatMap(k => Option(landedAt.get(k)).map(_ - due(k).toDouble)).max)
    r.layer("follow.backlog_windows_end", due.indices.count(k => Option(landedAt.get(k)).exists(_ <= endMs) &&
      writes.lift(k).forall(_._3 / 1000.0 > endMs)).toDouble)
    val writeMs = writes.map { case (b, s, e) => b -> (e - s) / 1000.0 }.toMap
    r.layer("streaming.stateful_ms",
      Stats.median(bs.map(b => b.dur("addBatch") - writeMs.getOrElse(b.batchId, 0.0))))
    r.layer("streaming.state_rows_total", bs.map(_.stateRows).max.toDouble)
    r.layer("streaming.state_mb", bs.map(_.stateBytes).max / 1e6)
    r.layer("streaming.state_commit_ms", Stats.median(bs.map(_.stateCommitMs.toDouble)))
    r.layer("streaming.sink_write_ms", Stats.median(writeMs.values.toSeq))
    if (ctx.trace.enabled) {
      r.layer("broker.send_ms", Stats.median(BrokerStats.sendMs.asScala.toSeq))
      r.layer("broker.commit_ms", Stats.median(BrokerStats.commitMs.asScala.toSeq))
      r.layer("broker.txns", BrokerStats.txns.get.toDouble)
      r.layer("broker.records", BrokerStats.records.get.toDouble)
      r.layer("broker.aborted_txns", BrokerStats.aborted.get.toDouble)
    }
    // Useful over attempted: live keys left after compaction per record
    // the topic holds, warm-up windows included.
    r.layer("broker.live_keys_per_record",
      state.size.toDouble / LogBroker.get(f.broker).readCommittedAll(topic).size)
    r.layer("broker.recover_ms", recoverMs)
    streamingLayers(ctx, cycles.toSeq, jobs0, reporter)
  }
}

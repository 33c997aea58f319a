package graft.metrics

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Metrics interval record — the engine's self-reported health surface,
  * mirroring the reference's interval metrics (`metric_reporting/
  * metrics.py:5-53`): produced counts per operation, tombstones, source
  * read totals, batch duration, state rows, and interval bounds. The
  * reference's end-to-end latency and lag fields are not carried yet.
  * Collected from Structured Streaming progress events instead of
  * hand-maintained accumulators (`accumulator.py:53-243`). */
final case class IntervalMetrics(
    metricsNamespace: String,
    processHostname: String,
    intervalStartEpochSec: Double,
    intervalEndEpochSec: Double,
    intervalDeltaSec: Double,
    batchId: Long,
    inputRowsCount: Long,
    inputRowsPerSec: Double,
    processedRowsPerSec: Double,
    batchDurationMs: Long,
    stateRowsTotal: Long,
    stateRowsUpdated: Long,
    producedDeleteChangesCount: Long = 0L,
    producedInsertChangesCount: Long = 0L,
    producedUpdateChangesCount: Long = 0L,
    producedSnapshotRecordsCount: Long = 0L,
    producedDeletionTombstonesCount: Long = 0L) {

  def toJson: String = {
    def kv(k: String, v: Any): String = v match {
      case s: String => s""""$k": "$s""""
      case other => s""""$k": $other"""
    }
    Seq(
      kv("metrics_namespace", metricsNamespace),
      kv("process_hostname", processHostname),
      kv("interval_start_epoch_sec", intervalStartEpochSec),
      kv("interval_end_epoch_sec", intervalEndEpochSec),
      kv("interval_delta_sec", intervalDeltaSec),
      kv("batch_id", batchId),
      kv("input_rows_count", inputRowsCount),
      kv("input_rows_per_sec", inputRowsPerSec),
      kv("processed_rows_per_sec", processedRowsPerSec),
      kv("batch_duration_ms", batchDurationMs),
      kv("state_rows_total", stateRowsTotal),
      kv("state_rows_updated", stateRowsUpdated),
      kv("produced_delete_changes_count", producedDeleteChangesCount),
      kv("produced_insert_changes_count", producedInsertChangesCount),
      kv("produced_update_changes_count", producedUpdateChangesCount),
      kv("produced_snapshot_records_count", producedSnapshotRecordsCount),
      kv("produced_deletion_tombstones_count", producedDeletionTombstonesCount)
    ).mkString("{", ", ", "}")
  }
}

/** Reporter interface (A12): the reference ships stdout, local-file, HTTP
  * POST, and Kafka reporters (`metric_reporting/stdout_reporter.py`,
  * `local_file_reporter.py`, `http_post_reporter.py:24-46`,
  * `kafka_reporter.py:15-29`); all four shapes are implemented here. */
trait MetricsReporter {
  def emit(m: IntervalMetrics): Unit
}

/** `--metrics-reporters` resolution (`options.py:223-228` +
  * `main.py:55-58`): the reference instantiates each comma-separated
  * `<module>.<class>` via importlib; here the class-name list from
  * [[graft.model.GraftConfig.metricsReporters]] resolves through
  * `Class.forName`. Only no-arg reporters resolve by name (stdout,
  * collecting); parameterized ones (file path, HTTP url, Kafka producer)
  * are constructed programmatically and appended — the reference's
  * reporters read their own options the same way theirs do. Unknown
  * class names fail loudly at startup, not at first emit. */
object MetricsReporters {
  def resolve(classNames: Seq[String]): Seq[MetricsReporter] =
    classNames.map { name =>
      val cls =
        try Class.forName(name)
        catch {
          case e: ClassNotFoundException => throw new IllegalArgumentException(
            s"metrics reporter class not found: $name", e)
        }
      require(classOf[MetricsReporter].isAssignableFrom(cls),
        s"$name does not implement graft.metrics.MetricsReporter")
      cls.getDeclaredConstructor().newInstance().asInstanceOf[MetricsReporter]
    }
}

final class StdoutReporter extends MetricsReporter {
  override def emit(m: IntervalMetrics): Unit = println(m.toJson)
}

final class LocalFileReporter(path: String) extends MetricsReporter {
  override def emit(m: IntervalMetrics): Unit =
    Files.write(Paths.get(path), (m.toJson + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
}

/** HTTP-POST reporter (`http_post_reporter.py:24-46`): POSTs the interval
  * record as a JSON body to `url` with optional extra headers; a non-2xx
  * response raises so the listener's per-reporter guard records the
  * failure without killing the stream (the reference logs-and-continues
  * the same way). Uses the JDK's HttpURLConnection — no client library
  * dependency to keep the zero-egress build closed. */
final class HttpPostReporter(url: String,
    headers: Map[String, String] = Map.empty,
    connectTimeoutMs: Int = 5000, readTimeoutMs: Int = 5000)
    extends MetricsReporter {
  override def emit(m: IntervalMetrics): Unit = {
    val conn = java.net.URI.create(url).toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      val body = m.toJson.getBytes(StandardCharsets.UTF_8)
      conn.setFixedLengthStreamingMode(body.length)
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
      val code = conn.getResponseCode
      if (code < 200 || code >= 300)
        sys.error(s"metrics POST to $url returned HTTP $code")
    } finally conn.disconnect()
  }
}

/** The executor-side seam a real Kafka client plugs into: the engine only
  * ever needs fire-and-forget keyed byte publishing for metrics. */
trait MetricsProducer {
  def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit
}

/** Kafka-shaped reporter (`kafka_reporter.py:15-29`): publishes each
  * interval record to the metrics topic keyed by the metrics namespace
  * (so one topic carries many pipelines, compacting per namespace). The
  * environment has no Kafka broker, so the producer is injected — a real
  * deployment passes a thin KafkaProducer adapter, tests pass a stub. */
final class KafkaReporter(producer: MetricsProducer, topic: String)
    extends MetricsReporter {
  override def emit(m: IntervalMetrics): Unit =
    producer.send(topic,
      m.metricsNamespace.getBytes(StandardCharsets.UTF_8),
      m.toJson.getBytes(StandardCharsets.UTF_8))
}

/** In-memory sink for tests and programmatic access. */
final class CollectingReporter extends MetricsReporter {
  private val buf = new ConcurrentLinkedQueue[IntervalMetrics]()
  override def emit(m: IntervalMetrics): Unit = buf.add(m)
  def all: Seq[IntervalMetrics] = buf.iterator().asScala.toSeq
}

/** StreamingQueryListener translating per-batch progress into the
  * interval metrics record and fanning out to the configured reporters
  * (D7: the accumulator surface; A12: the reporter surface). A reporter
  * that throws never stops the stream: non-fatal errors are counted per
  * reporter ([[reporterFailures]]), fatal ones propagate. */
final class CdcMetricsListener(
    reporters: Seq[MetricsReporter],
    namespace: String = "graft") extends StreamingQueryListener {

  private val hostname =
    try java.net.InetAddress.getLocalHost.getHostName catch { case NonFatal(_) => "unknown" }
  private val failures = new java.util.concurrent.atomic.AtomicLongArray(reporters.size)

  /** Interval records each reporter failed to emit, in `reporters` order. */
  def reporterFailures: Seq[Long] = reporters.indices.map(failures.get)

  // Interval bounds are tracked PER QUERY — the listener is registered
  // session-wide and several queries may report interleaved.
  private val lastEndByQuery =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Double]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryIdle(event: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    lastEndByQuery.remove(event.id) // no leak; a restarted query id starts
                                    // a fresh interval, not one spanning
                                    // the downtime

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val end = java.time.Instant.parse(p.timestamp).toEpochMilli / 1000.0
    val prev = lastEndByQuery.put(p.id, end)
    val start = if (prev != null) prev.doubleValue() else end
    val state = Option(p.stateOperators).filter(_.nonEmpty)
    // Per-operation produce counts arrive as the "graft_ops" observed
    // metric when the pipeline registered one (CdcPipeline.run); streams
    // without it report zeros, matching the field defaults.
    val ops = Option(p.observedMetrics).map(_.get("graft_ops")).flatMap(Option(_))
    def opCount(field: String): Long =
      ops.map(r => r.getAs[Long](field)).getOrElse(0L)
    val m = IntervalMetrics(
      metricsNamespace = namespace,
      processHostname = hostname,
      intervalStartEpochSec = start,
      intervalEndEpochSec = end,
      intervalDeltaSec = end - start,
      batchId = p.batchId,
      inputRowsCount = p.numInputRows,
      inputRowsPerSec = zeroIfNaN(p.inputRowsPerSecond),
      processedRowsPerSec = zeroIfNaN(p.processedRowsPerSecond),
      batchDurationMs = p.batchDuration,
      stateRowsTotal = state.map(_.map(_.numRowsTotal).sum).getOrElse(0L),
      stateRowsUpdated = state.map(_.map(_.numRowsUpdated).sum).getOrElse(0L),
      producedDeleteChangesCount = opCount("deletes"),
      producedInsertChangesCount = opCount("inserts"),
      producedUpdateChangesCount = opCount("updates"),
      producedSnapshotRecordsCount = opCount("snapshots"),
      producedDeletionTombstonesCount = opCount("tombstones"))
    reporters.zipWithIndex.foreach { case (r, i) =>
      try r.emit(m) catch { case NonFatal(_) => failures.incrementAndGet(i) }
    }
  }

  private def zeroIfNaN(d: Double): Double = if (d.isNaN || d.isInfinite) 0.0 else d
}

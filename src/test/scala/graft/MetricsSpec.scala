package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.{CdcMetricsListener, CollectingReporter, HttpPostReporter, IntervalMetrics, KafkaReporter, LocalFileReporter, MetricsProducer}
import graft.streaming.CdcPipeline

/** The metrics surface (A12/D7): a streaming run must produce one
  * interval record per micro-batch with consistent counts, fanned out to
  * every configured reporter. */
class MetricsSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("metrics-spec").toString
  }

  test("listener emits one interval record per micro-batch to all reporters") {
    val collector = new CollectingReporter
    val file = s"$work/metrics.jsonl"
    val listener = new CdcMetricsListener(Seq(collector, new LocalFileReporter(file)))
    spark.streams.addListener(listener)
    try {
      CdcPipeline.stageChangeFeed(spark, "/root/testdata/sf0.001", s"$work/feed", nChunks = 4)
      CdcPipeline.runToParquet(spark, s"$work/feed", s"$work/sink", s"$work/ckpt")
    } finally spark.streams.removeListener(listener)

    // Listener delivery is async; give the bus a moment to drain.
    val deadline = System.currentTimeMillis() + 15000
    while (collector.all.size < 4 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)

    val got: Seq[IntervalMetrics] = collector.all
    assert(got.size >= 4, s"expected >=4 batch records, got ${got.size}")
    assert(got.map(_.batchId).distinct.size == got.size)
    // The stream saw every published change row exactly once.
    val inputTotal = got.map(_.inputRowsCount).sum
    assert(inputTotal == 1000L, s"input rows across batches: $inputTotal")
    // Stateful operator reported key tracking.
    assert(got.exists(_.stateRowsTotal > 0))
    // Per-operation produce counts flowed through observe() (D7): the
    // feed contains inserts/updates/deletes, and every delete row emits
    // exactly one tombstone after it.
    assert(got.map(_.producedInsertChangesCount).sum > 0)
    assert(got.map(_.producedUpdateChangesCount).sum > 0)
    assert(got.map(_.producedDeletionTombstonesCount).sum ==
      got.map(_.producedDeleteChangesCount).sum)
    assert(got.map(_.producedDeleteChangesCount).sum > 0)
    // File reporter wrote parseable JSON lines.
    val lines = scala.io.Source.fromFile(file).getLines().toSeq
    assert(lines.size == got.size)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}") &&
      l.contains("\"metrics_namespace\": \"graft\"")))
  }

  test("a throwing reporter is counted per reporter and never stops the stream") {
    val collector = new CollectingReporter
    val failing = new graft.metrics.MetricsReporter {
      override def emit(m: IntervalMetrics): Unit =
        throw new java.io.IOException("reporter endpoint down")
    }
    val listener = new CdcMetricsListener(Seq(failing, collector))
    // Four feed files of 250 inserts: one micro-batch each.
    (0 until 4).foreach { f =>
      spark.sql(
        s"""SELECT cast(id + 1 as long) AS lsn_num, 0 AS command_id,
           |       cast(id as long) AS seqval_num, 2 AS operation,
           |       cast(id as long) AS event_id, cast(id % 50 as long) AS user_id,
           |       'e' AS event_type, cast(id as double) AS value, '' AS props
           |FROM range(${f * 250}, ${(f + 1) * 250})""".stripMargin)
        .coalesce(1).write.mode("append").parquet(s"$work/feedF")
    }
    spark.streams.addListener(listener)
    try CdcPipeline.runToParquet(spark, s"$work/feedF", s"$work/sinkF", s"$work/ckptF")
    finally spark.streams.removeListener(listener)

    val deadline = System.currentTimeMillis() + 15000
    while (collector.all.size < 4 && System.currentTimeMillis() < deadline)
      Thread.sleep(200)
    // Every batch ran and reached the healthy reporter...
    assert(collector.all.size >= 4)
    assert(collector.all.map(_.inputRowsCount).sum === 1000L)
    assert(spark.read.parquet(s"$work/sinkF").count() > 0)
    // ...and the failing reporter's failures were counted, one per record.
    assert(listener.reporterFailures === Seq(collector.all.size.toLong, 0L))
  }

  private def sampleMetrics(batchId: Long): IntervalMetrics =
    IntervalMetrics(
      metricsNamespace = "graft-test", processHostname = "host",
      intervalStartEpochSec = 1.0, intervalEndEpochSec = 2.5,
      intervalDeltaSec = 1.5, batchId = batchId,
      inputRowsCount = 10L, inputRowsPerSec = 6.6,
      processedRowsPerSec = 7.7, batchDurationMs = 42L,
      stateRowsTotal = 3L, stateRowsUpdated = 1L)

  test("HTTP-POST reporter delivers the JSON body with headers; non-2xx raises") {
    val received = new java.util.concurrent.LinkedBlockingQueue[(String, String)]()
    val server = com.sun.net.httpserver.HttpServer
      .create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/metrics", { exchange =>
      val body = new String(exchange.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      received.put((body, exchange.getRequestHeaders.getFirst("X-Api-Key")))
      exchange.sendResponseHeaders(200, -1)
      exchange.close()
    })
    server.createContext("/broken", { exchange =>
      exchange.sendResponseHeaders(503, -1)
      exchange.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      new HttpPostReporter(s"$base/metrics", Map("X-Api-Key" -> "k1"))
        .emit(sampleMetrics(7))
      val (body, apiKey) = received.take()
      assert(body.contains("\"batch_id\": 7") &&
        body.contains("\"metrics_namespace\": \"graft-test\""))
      assert(apiKey == "k1")
      intercept[RuntimeException] {
        new HttpPostReporter(s"$base/broken").emit(sampleMetrics(8))
      }
    } finally server.stop(0)
  }

  test("Kafka-shaped reporter publishes records keyed by namespace") {
    val sent = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    val stub = new MetricsProducer {
      override def send(topic: String, key: Array[Byte], value: Array[Byte]): Unit =
        sent += ((topic, new String(key, "UTF-8"), new String(value, "UTF-8")))
    }
    val reporter = new KafkaReporter(stub, "graft_metrics")
    reporter.emit(sampleMetrics(1))
    reporter.emit(sampleMetrics(2))
    assert(sent.size == 2)
    assert(sent.forall(_._1 == "graft_metrics"))
    assert(sent.forall(_._2 == "graft-test"))
    assert(sent.map(_._3).exists(_.contains("\"batch_id\": 2")))
  }

  test("reporters resolve by class name (the --metrics-reporters surface); bad names fail at startup") {
    val rs = graft.metrics.MetricsReporters.resolve(Seq(
      "graft.metrics.StdoutReporter", "graft.metrics.CollectingReporter"))
    assert(rs.size === 2)
    assert(rs.head.isInstanceOf[graft.metrics.StdoutReporter])
    assert(rs(1).isInstanceOf[graft.metrics.CollectingReporter])
    // The default config's reporter list resolves.
    assert(graft.metrics.MetricsReporters
      .resolve(graft.model.GraftConfig.default.metricsReporters).size === 1)
    val missing = intercept[IllegalArgumentException] {
      graft.metrics.MetricsReporters.resolve(Seq("graft.metrics.NoSuchReporter"))
    }
    assert(missing.getMessage.contains("not found"))
    // A resolvable class that is not a reporter is refused, not cast.
    val wrong = intercept[IllegalArgumentException] {
      graft.metrics.MetricsReporters.resolve(Seq("graft.model.GraftConfig"))
    }
    assert(wrong.getMessage.contains("does not implement"))
  }
}

package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Wall clock in epoch microseconds, monotonic within the run: progress
  * events carry epoch-millisecond trigger times, the benchmark's own
  * spans use nanoTime, and both must land on one time axis. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Long, name: String, group: String, parent: Long,
    startUs: Long, endUs: Long)

/** In-memory span recorder. Disabled, it records nothing and costs one
  * branch per call; enabled, spans are kept until [[Trace.write]]. A
  * span's `group` is the id shared by all spans of one batch, query or
  * transaction. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)

  private val named = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def nextId(): Long = ids.incrementAndGet()

  /** A stable span id for a key such as "d0-b3/addBatch", so a span and
    * its children can be recorded in any order and still link up. */
  def idFor(key: String): Long =
    if (!enabled) 0L else named.computeIfAbsent(key, _ => nextId()).longValue()

  def add(name: String, group: String, parent: Long, startUs: Long,
      endUs: Long, id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0L) id else nextId()
      spans.add(Span(sid, name, group, parent, startUs, endUs))
      sid
    }

  // The innermost open span of each thread: the parent of a new one.
  private val open = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Time `body` as a span, a child of the span this thread is in; `body`
    * receives the span's id so it can parent spans recorded later. */
  def span[T](name: String, group: String = "")(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = nextId()
      val parent = open.get
      open.set(id)
      val t0 = Clock.nowUs
      try body(id)
      finally {
        open.set(parent)
        add(name, group, parent, t0, Clock.nowUs, id)
      }
    }

  def all: Seq[Span] = spans.iterator().asScala.toSeq

  /** Self time per span name: a span's duration minus the part of it its
    * children cover. */
  def selfTimesMs: Seq[(String, Double, Int)] = {
    val s = all
    val kids = s.filter(_.parent != 0L).groupBy(_.parent)
    s.map { sp =>
      val covered = kids.getOrElse(sp.id, Nil)
        .map(c => (math.max(c.startUs, sp.startUs), math.min(c.endUs, sp.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
          if (b <= hi) (acc, hi)
          else (acc + (b - math.max(a, hi)), b)
        }._1
      sp.name -> ((sp.endUs - sp.startUs - covered) / 1000.0)
    }.groupBy(_._1).toSeq
      .map { case (n, v) => (n, v.map(_._2).sum, v.size) }
      .sortBy(-_._2)
  }

  def write(path: java.nio.file.Path): Unit = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val sb = new StringBuilder("{\"spans\":[\n")
    sb.append(all.sortBy(_.startUs).map { sp =>
      s"""{"id":${sp.id},"name":"${esc(sp.name)}","group":"${esc(sp.group)}",""" +
        s""""parent":${sp.parent},"start_us":${sp.startUs},"end_us":${sp.endUs}}"""
    }.mkString(",\n"))
    sb.append("\n],\"self_ms\":{")
    sb.append(selfTimesMs.map { case (n, ms, c) =>
      s""""${esc(n)}":{"ms":${Json.num(ms)},"count":$c}""" }.mkString(","))
    sb.append("}}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Collects every streaming progress event that ran a batch, and counts
  * started and terminated queries so a caller can wait, after a pipeline
  * call returns, until every event of the queries it started has been
  * delivered (the listener bus is asynchronous; a query's terminated
  * event is posted after its last progress event). */
final class ProgressLog extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val terminated = new AtomicInteger(0)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    terminated.incrementAndGet()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (e.progress.durationMs.containsKey("addBatch")) batches.add(e.progress)

  /** Block until `queries` queries have terminated in total. */
  def awaitTerminated(queries: Int): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (terminated.get() < queries) {
      require(System.nanoTime() < deadline, "streaming listener events never arrived")
      Thread.sleep(2)
    }
  }

  /** Take (and forget) the batches collected so far. */
  def take(): Seq[StreamingQueryProgress] = {
    val out = Seq.newBuilder[StreamingQueryProgress]
    var p = batches.poll()
    while (p != null) { out += p; p = batches.poll() }
    out.result()
  }
}

/** Spark-level counters from the public scheduler listener, used only in
  * traced runs: jobs, tasks, task CPU, GC, shuffle write, spill, task
  * failures, and storage held by cached/pinned RDD blocks. Totals and
  * peaks count from the last [[mark]], the start of the measured phase. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong(0L)
  private val jobsEnded = new AtomicLong(0L)
  private val tasks = new AtomicLong(0L)
  private val taskCpuNs = new AtomicLong(0L)
  private val gcMs = new AtomicLong(0L)
  private val shuffleWriteBytes = new AtomicLong(0L)
  private val spillBytes = new AtomicLong(0L)
  private val taskFailures = new AtomicLong(0L)
  private val blocks = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val storageBytes = new AtomicLong(0L)
  val storagePeakBytes = new AtomicLong(0L)
  val rddBlocksPeak = new AtomicLong(0L)
  private val totals = Seq(jobs, tasks, taskCpuNs, gcMs, shuffleWriteBytes, spillBytes, taskFailures)
  @volatile private var base: Seq[Long] = totals.map(_ => 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = info.memSize + info.diskSize
      val key = info.blockId.name
      val prev = if (info.storageLevel.isValid && size > 0) blocks.put(key, size)
        else blocks.remove(key)
      val delta = (if (info.storageLevel.isValid) size else 0L) -
        (if (prev == null) 0L else prev.longValue())
      val now = storageBytes.addAndGet(delta)
      storagePeakBytes.accumulateAndGet(now, math.max)
      rddBlocksPeak.accumulateAndGet(blocks.size.toLong, math.max)
    }
  }

  /** Wait until every started job's end event has been delivered. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (jobsEnded.get() < jobs.get() && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Start the measured phase: totals count from here, peaks from the
    * storage held now. */
  def mark(): Unit = {
    settle()
    base = totals.map(_.get)
    storagePeakBytes.set(storageBytes.get)
    rddBlocksPeak.set(blocks.size.toLong)
  }

  def snapshot: Map[String, Double] = {
    val Seq(j, t, cpu, gc, shuffle, spill, failures) = totals.zip(base).map { case (v, b) => v.get - b }
    Map("jobs" -> j.toDouble, "tasks" -> t.toDouble, "task_cpu_ms" -> cpu / 1e6,
      "gc_ms" -> gc.toDouble, "shuffle_write_mb" -> shuffle / 1e6, "spill_mb" -> spill / 1e6,
      "task_failures" -> failures.toDouble)
  }
}

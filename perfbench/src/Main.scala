package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Json {
  /** A finite number as JSON, with all its digits. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric is not a finite number: $d")
    java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean of no or non-positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest percentile with at least ten samples beyond it (the
    * eleventh-largest sample) and that percentile, when it lies above the
    * median; None with fewer than 21 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.size
    if (n < 21) None else Some((s(n - 11), 100.0 * (n - 10) / n))
  }
}

/** What one run reports: operations attempted and failed, correctness
  * checks, and metrics. Every metric is printed as a readable line; the
  * last stdout line is the JSON result. */
final class Report(val workload: String) {
  var attempted = 0L
  var failed = 0L
  private var failedChecks = 0
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()

  def ops(n: Long, failures: Long = 0L): Unit = { attempted += n; failed += failures }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    ops(1, if (ok) 0 else 1)
    if (!ok) failedChecks += 1
    info(s"check $name: ${if (ok) "ok" else s"FAILED $detail"}")
  }

  def info(line: String): Unit = println(s"[$workload] $line")

  def e2e(name: String, value: Double, unit: String, note: String = ""): Unit = {
    endToEnd(name) = (value, unit)
    info(s"$name ${Json.num(value)} $unit$note")
  }

  /** Print a tail latency with its percentile and sample count; it is
    * not a result metric, since a run rarely holds 21 samples. */
  def tail(name: String, xs: Seq[Double], unit: String): Unit =
    info(Stats.tail(xs).map { case (v, p) => f"$name ${Json.num(v)} $unit at p$p%.1f (n=${xs.size})" }
      .getOrElse(s"$name n/a: ${xs.size} samples, fewer than 21"))

  def layer(name: String, value: Double): Unit =
    perLayer(name) = (value, Layers.units.getOrElse(name,
      throw new IllegalArgumentException(s"unknown per-layer metric $name")))

  def correct: Boolean = failedChecks == 0

  /** The result line. A traced run reports every per-layer metric, 0
    * where the workload does not use the layer. */
  def json(traced: Boolean): String = {
    val ms = if (!traced) endToEnd
      else Layers.all.map { case (k, u) => k -> perLayer.getOrElse(k, (0.0, u)) }
    val metrics = ms.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}"""
  }
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val sessionS: Double, val seed: Long,
    val seconds: Int, val trace: Trace, val work: Path, val report: Report,
    val progress: ProgressLog, val counters: Option[SparkCounters]) {
  private var queries = 0

  /** Wait for the streaming events of every query started so far; call
    * after each pipeline entry point (each starts one query) returns. */
  def streamEvents(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    queries += 1
    progress.awaitTerminated(queries)
    progress.take()
  }

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** Every per-layer metric with its unit, in report order. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "sources.offset_ms_p50" -> "ms", "sources.offset_ms_sum" -> "ms",
    "sources.plan_ms" -> "ms", "sources.rows_in" -> "count",
    "sources.read_amplification" -> "ratio",
    "streaming.produce_ms" -> "ms", "spark.jobs_per_batch" -> "count",
    "streaming.stateful_ms" -> "ms", "streaming.state_rows_total" -> "count",
    "streaming.state_mb" -> "MB", "streaming.state_commit_ms" -> "ms",
    "streaming.cycle_overhead_ms" -> "ms", "streaming.wal_ms" -> "ms",
    "streaming.batch_coverage" -> "ratio", "streaming.sink_write_ms" -> "ms",
    "broker.send_ms" -> "ms", "broker.commit_ms" -> "ms", "broker.txns" -> "count",
    "broker.records" -> "count", "broker.aborted_txns" -> "count",
    "broker.live_keys_per_record" -> "ratio", "broker.recover_ms" -> "ms",
    "metrics.intervals" -> "count") ++
    CatalogMix.families.flatMap(f => Seq(s"queries.$f.cold_s" -> "s", s"queries.$f.warm_s" -> "s")) ++ Seq(
    "queries.pass_spread_max" -> "ratio", "operators.reset_ms" -> "ms",
    "operators.storage_peak_mb" -> "MB", "operators.pinned_blocks_peak" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_failures" -> "count", "gen.late_ms_max" -> "ms",
    "follow.backlog_windows_end" -> "count")
  val units: Map[String, String] = all.toMap
}

/** The benchmark's entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints readable lines, then one JSON result as the last stdout line. */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "cdc_catchup" -> (c => CdcWorkloads.catchup(c)),
    "cdc_follow" -> (c => CdcWorkloads.follow(c)),
    "catalog_mix" -> (c => CatalogMix.run(c)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val name = opt("workload")
    val body = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name; one of ${workloads.keys.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = Clock.nowUs
    val spark = session(work)
    val trace = new Trace(traced)
    val report = new Report(name)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val counters = if (traced) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val sessionUs = Clock.nowUs - t0
    trace.add("session", "setup", 0L, t0, t0 + sessionUs)
    report.info(s"seed $seed, ${seconds}s, trace ${if (traced) 1 else 0}, session start ${sessionUs / 1e6} s")

    body(new Ctx(spark, sessionUs / 1e6, seed, seconds, trace, work, report, progress, counters))

    counters.foreach { c =>
      c.settle()
      c.snapshot.foreach { case (k, v) => report.layer(s"spark.$k", v) }
    }
    report.e2e("live_heap_mb", LiveHeap.mb(spark), "MB", f" (after a full GC; peak rss ${peakRssMb()}%.1f MB)")
    if (traced) {
      val out = Paths.get(opts.getOrElse("trace-out", work.resolve("trace.json").toString))
      trace.write(out)
      report.info(s"spans written to $out")
      trace.selfTimesMs.take(25).foreach { case (n, ms, c) =>
        report.info(f"self $n%-22s ${ms}%10.1f ms over $c%5d spans") }
      report.perLayer.foreach { case (k, (v, u)) => report.info(s"layer $k ${Json.num(v)} $u") }
    }
    spark.stop()
    println(report.json(traced))
  }

  /** A local[4] session that keeps every file it writes under `work`. */
  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps up to 1,000 jobs, stages and SQL
      // executions, so the live heap would grow with how many batches or
      // passes fit in the run's seconds; keep only the last few.
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** VmHWM: the process's peak resident set, in MB (printed only). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Heap in use after a full collection: what the run's work left live
  * (state stores, broker logs, memos, pins, caches). It repeats from run
  * to run, unlike the process's peak resident set or the peak heap
  * between collections, which mostly show when the collector ran. */
object LiveHeap {
  import java.lang.management.ManagementFactory

  def mb(spark: SparkSession): Double = {
    // Unpersisted blocks leave storage asynchronously: wait until the
    // storage memory in use holds still before collecting.
    def stored = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    val deadline = System.nanoTime() + 5L * 1000000000L
    var last = -1L
    var still = 0
    while (still < 3 && System.nanoTime() < deadline) {
      val now = stored
      if (now == last) still += 1 else { still = 0; last = now }
      Thread.sleep(50)
    }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Set-up accounting shared by the workloads: session start once, then
  * the median of several set-up rounds (input generation + warm-up). */
object Setup {
  /** Run `rounds` set-up rounds, then `once` on the last round's result
    * (warm-up done once, not per round); report `setup_s` as session start
    * + the median round + `once`, start the Spark counters' measured
    * phase, and return the last round's result. */
  def rounds[T](ctx: Ctx, rounds: Int)(round: Int => T): T = roundsThen(ctx, rounds)(round)(_ => ())

  def roundsThen[T](ctx: Ctx, rounds: Int)(round: Int => T)(once: T => Unit): T = {
    var last: Option[T] = None
    val walls = (0 until rounds).map { r =>
      val t0 = Clock.nowUs
      last = Some(ctx.trace.span("setup.round", "setup")(_ => round(r)))
      (Clock.nowUs - t0) / 1e6
    }
    ctx.report.info(s"setup rounds ${walls.map(w => f"$w%.3f").mkString(" ")} s")
    val t0 = Clock.nowUs
    ctx.trace.span("setup.once", "setup")(_ => once(last.get))
    val onceS = (Clock.nowUs - t0) / 1e6
    // Collect set-up's garbage now, so that the timed phase does not
    // inherit a collection that depends on how set-up went.
    System.gc()
    ctx.counters.foreach(_.mark())
    val onceNote = if (onceS > 0.001) f" + $onceS%.3f s once" else ""
    ctx.report.e2e("setup_s", ctx.sessionS + Stats.median(walls) + onceS, "s",
      f" (session ${ctx.sessionS}%.3f s + median of $rounds rounds$onceNote)")
    last.get
  }

  /** A closed loop: run `op` back to back, starting another only while
    * it is expected to end within the run's seconds (at least once). */
  def closedLoop[T](ctx: Ctx)(op: => T): Seq[T] = {
    val t0 = Clock.nowUs
    val out = Seq.newBuilder[T]
    var n = 0
    def elapsed = (Clock.nowUs - t0) / 1e6
    do { out += op; n += 1 } while (elapsed * (n + 1) / n <= ctx.seconds)
    out.result()
  }

  /** Time a set-up round's warm-up; the first round's, the first work
    * of a fresh process, is reported as `cold_s`. */
  def warmup[T](ctx: Ctx, round: Int)(work: => T): T = {
    val t0 = Clock.nowUs
    val out = ctx.trace.span("warmup", "setup")(_ => work)
    if (round == 0) ctx.report.e2e("cold_s", (Clock.nowUs - t0) / 1e6, "s", " (first warm-up of the process)")
    out
  }
}

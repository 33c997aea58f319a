package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadavg
    // Warm up the JVM/codegen/parquet paths once so the first timed query
    // doesn't absorb one-time JIT + reader initialization.
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      }
      spark.range(1000000).selectExpr("sum(id)", "md5(cast(id as string))").count()
      SparkEntry.queries.get("d1_count_by_operation").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => () }
    // Deterministic order (Map iteration is incidental), with one
    // dependency: dd_cluster consumes the pair stage dd_minhash_lsh
    // materializes (session-memoized), so run the producer first — the
    // order a production dedup pipeline uses — and each query's timing
    // is its marginal cost.
    // (Same producer-first ordering for the BPE family: text_bpe_train
    // materializes the session-memoized merge list; it must run before
    // its alphabetically-EARLIEST consumer — pipe_tokenize_pack — or the
    // training cost lands in the wrong query's timing.)
    // Dev-loop filter (driver never sets it): bench only the named
    // queries — for re-measuring one regression without the full sweep.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val ordered = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .filterNot(Set("dd_minhash_lsh", "text_bpe_train"))
      .flatMap {
        case n @ "dd_cluster"         => Seq("dd_minhash_lsh", n)
        case n @ "pipe_tokenize_pack" => Seq("text_bpe_train", n)
        case n                        => Seq(n)
      }
    // A FAILED query records +Infinity, never its time-to-failure: a
    // fast pass-2 error (e.g. a dropped temp-view dependency) would
    // otherwise win the per-query min and fabricate a speedup. A query
    // failing BOTH passes surfaces as -1 in the output (visibly wrong),
    // and the contract line carries an errors count.
    // Between queries, sweep the localCheckpoint blocks the finished
    // query pinned (outside its timer — the sweep is driver-side map
    // iteration plus async block-removal messages). Without this, ~90
    // queries' worth of pinned stages accumulate in executor storage and
    // unrelated late-alphabet queries slow 4-5x (round 7: dd_simhash
    // 2.5->10.3 s, text_ngram_novelty pass 2 SLOWER than pass 1). The
    // cross-query dedup memos are registered shared and survive.
    def sweep(): Seq[(String, Double)] = ordered.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          false
        }
      val t = (System.nanoTime() - t0) / 1e9
      graft.operators.PinnedStages.sweepTransient(spark)
      name -> (if (ok) t else Double.PositiveInfinity)
    }
    // N full passes (default 3), per-query MIN: a transient machine-load
    // spike in one pass cannot fabricate a regression (round 6 recorded a
    // phantom 5x on e1_global_merge from a loaded sandbox). The session
    // memo is reset between passes so every pass re-pays each producer
    // stage's real cost; otherwise the memoized stages would time near
    // zero and the min would underclaim. All pass totals and the load
    // averages are emitted so a reader can judge the run's trustworthiness.
    // Honest config handling: a non-numeric value fails with a clear
    // message (not a bare NumberFormatException mid-startup) and an
    // explicit 1 is honored — a single-pass smoke run is a legitimate
    // ask; the contract line's passes/pass_totals fields disclose it.
    val passesRaw = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3")
    val passes = passesRaw.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_PASSES must be a positive integer, got '$passesRaw'"))
    val passResults: Seq[Seq[(String, Double)]] = (1 to passes).map { i =>
      if (i > 1) graft.operators.SessionMemo.reset(spark)
      sweep()
    }
    val byPass: Seq[Map[String, Double]] = passResults.map(_.toMap)
    val results = passResults.head.map { case (k, _) =>
      val m = byPass.map(_(k)).min
      k -> (if (m.isInfinity) -1.0 else m) // failed in EVERY pass
    }
    val errors = results.count(_._2 < 0)
    val loadEnd = loadavg
    // The driver captures a bounded TAIL of stdout: in rounds 4 and 5 the
    // single ~2.8 KB 80-query JSON line lost its head to that window
    // ("parsed": null). Emission contract, revised: the full per-query map
    // goes out first as small standalone lines (for humans and logs), and
    // the LAST line — the one guaranteed to survive a tail capture — is a
    // compact (<1 KB) contract object holding the total plus the slowest
    // queries only. Locale.ROOT: a comma decimal separator would break the
    // JSON.
    def d4(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", v: java.lang.Double)
    def d2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", v: java.lang.Double)
    def fin(v: Double) = if (v.isInfinity) -1.0 else v
    results.foreach { case (k, v) =>
      val pp = byPass.map(p => d4(fin(p(k)))).mkString("[", ",", "]")
      println(s"""{"q":"$k","sec":${d4(v)},"pp":$pp}""")
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    val slowest = results.sortBy(-_._2).take(12)
      .map { case (k, v) => s""""$k":${d4(v)}""" }.mkString("{", ",", "}")
    val passTotals = passResults
      .map(p => d4(p.map(_._2).filter(_.isFinite).sum)).mkString("[", ",", "]")
    // Self-contained artifact (r13 verdict #6): the driver keeps only a
    // bounded TAIL of stdout, so the full per-query table above may lose
    // its head. Persist the complete run — every {q, sec, pp} plus the
    // contract fields — to a JSON file (default under records/, where
    // the round's wrap-up commit preserves it), and point to it from the
    // final contract line. Best-effort: an unwritable path must not fail
    // the bench.
    val perQuery = results.map { case (k, v) =>
      val pp = byPass.map(p => d4(fin(p(k)))).mkString("[", ",", "]")
      s"""  {"q":"$k","sec":${d4(v)},"pp":$pp}"""
    }.mkString("[\n", ",\n", "\n]")
    // Default path stamped with the core count (r16, VERDICT r15 #8): the
    // driver benches the same round at two core counts and the second run
    // overwrote the first's full per-query record on disk.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"records/bench_full_${cpus}c.json")
    val wrote = try {
      val p = java.nio.file.Paths.get(fullPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        (s"""{"metric":"total","value":${d4(total)},"unit":"sec","sf":"$sfDir",""" +
          s""""n_queries":${results.size},"errors":$errors,"passes":$passes,""" +
          s""""pass_totals":$passTotals,"loadavg":[${d2(loadStart)},${d2(loadEnd)}],""" +
          s"""\n"results":$perQuery}\n""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      true
    } catch { case scala.util.control.NonFatal(_) => false }
    val fullRef = if (wrote) s""","full":"$fullPath"""" else ""
    println(s"""{"metric":"total","value":${d4(total)},"unit":"sec","queries":$slowest,"sf":"$sfDir","n_queries":${results.size},"errors":$errors,"passes":$passes,"pass_totals":$passTotals,"loadavg":[${d2(loadStart)},${d2(loadEnd)}]$fullRef}""")
    spark.stop()
  }
}

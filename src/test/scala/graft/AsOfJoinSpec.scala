package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin

/** Bucketed as-of join vs a brute-force model: exact match on arbitrary
  * key layouts (empty buckets, cross-bucket look-back, boundary keys, key
  * ties between sides, no-match prefixes), plus the plan-shape guarantees
  * that make it scale. */
class AsOfJoinSpec extends AnyFunSuite with LocalSpark {

  private def model(lefts: Seq[Long], rights: Seq[(Long, String)]): Map[Long, Option[(Long, String)]] =
    lefts.map { lk =>
      lk -> rights.filter(_._1 <= lk).sortBy(_._1).lastOption
    }.toMap

  test("matches the brute-force model on arbitrary layouts") {
    val rnd = new scala.util.Random(42) // deterministic trials
    val widths = Seq(1L, 7L, 64L, 1000L)
    for (trial <- 0 until 12) {
      val ss = spark; import ss.implicits._
      val lefts = List.fill(1 + rnd.nextInt(60))(rnd.nextLong(401))
      // Unique right keys (operator contract); payload tags the key.
      val rKeys = List.fill(1 + rnd.nextInt(30))(rnd.nextLong(401)).distinct
      val width = widths(trial % widths.length)
      val rights = rKeys.map(k => (k, s"p$k"))
      val l = lefts.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("id", "k")
      val r = rights.toDF("rk", "pay")
      val out = AsOfJoin.asOf(l, r, "k", "rk", Seq("rk", "pay"), width)
        .collect()
        .map(row => (row.getLong(0), row.getLong(1),
          if (row.isNullAt(2)) None else Some((row.getLong(2), row.getString(3)))))
      assert(out.length == lefts.length)
      val m = model(lefts, rights)
      out.foreach { case (_, k, got) => assert(got == m(k), s"key $k width $width") }
    }
  }

  test("asOfForward matches the forward brute-force model on arbitrary layouts") {
    val rnd = new scala.util.Random(7) // deterministic trials
    val widths = Seq(1L, 7L, 64L, 1000L)
    def fmodel(lefts: Seq[Long], rights: Seq[(Long, String)]): Map[Long, Option[(Long, String)]] =
      lefts.map { lk =>
        lk -> rights.filter(_._1 >= lk).sortBy(_._1).headOption
      }.toMap
    for (trial <- 0 until 12) {
      val ss = spark; import ss.implicits._
      val lefts = List.fill(1 + rnd.nextInt(60))(rnd.nextLong(401))
      val rKeys = List.fill(1 + rnd.nextInt(30))(rnd.nextLong(401)).distinct
      val width = widths(trial % widths.length)
      val rights = rKeys.map(k => (k, s"p$k"))
      val l = lefts.zipWithIndex.map { case (k, i) => (i.toLong, k) }
        .toDF("id", "k")
      val r = rights.toDF("rk", "pay")
      val out = AsOfJoin.asOfForward(l, r, "k", "rk", Seq("rk", "pay"), width)
        .collect()
        .map(row => (row.getLong(0), row.getLong(1),
          if (row.isNullAt(2)) None else Some((row.getLong(2), row.getString(3)))))
      assert(out.length == lefts.length)
      val m = fmodel(lefts, rights)
      out.foreach { case (_, k, got) => assert(got == m(k), s"key $k width $width") }
    }
  }

  test("asOfForward: equal keys match inclusively; nothing ahead gives null") {
    val ss = spark; import ss.implicits._
    val l = Seq((1L, 10L), (2L, 11L), (3L, 99L)).toDF("id", "k")
    val r = Seq((10L, "at10"), (20L, "at20")).toDF("rk", "pay")
    val out = AsOfJoin.asOfForward(l, r, "k", "rk", Seq("pay"), 4L)
      .collect().map(row => (row.getLong(0),
        if (row.isNullAt(2)) null else row.getString(2))).toSet
    assert(out == Set((1L, "at10"), (2L, "at20"), (3L, null)))
  }

  test("asOfNearest picks the closer side, ties backward, degrades to the non-null side") {
    val ss = spark; import ss.implicits._
    // k=5: only forward (8). k=12: back 10 (d2) beats fwd 15 (d3).
    // k=9: tie (8 vs 10) -> backward. k=99: only backward (15).
    val l = Seq((1L, 5L), (2L, 12L), (3L, 9L), (4L, 99L)).toDF("id", "k")
    val r = Seq((8L, "a"), (10L, "b"), (15L, "c")).toDF("rk", "pay")
    val out = AsOfJoin.asOfNearest(l, r, "k", "rk", Seq("pay"), 4L, "id")
      .collect().map(row => (row.getLong(0), row.getLong(2), row.getString(3))).toSet
    assert(out == Set((1L, 8L, "a"), (2L, 10L, "b"), (3L, 8L, "a"), (4L, 15L, "c")))
  }

  test("duplicate left keys each resolve; equal keys match inclusively") {
    val ss = spark; import ss.implicits._
    val l = Seq((1L, 10L), (2L, 10L), (3L, 9L)).toDF("id", "k")
    val r = Seq((10L, "at10"), (5L, "at5")).toDF("rk", "pay")
    val out = AsOfJoin.asOf(l, r, "k", "rk", Seq("pay"), 4L)
      .collect().map(row => (row.getLong(0), row.getString(2))).toSet
    assert(out == Set((1L, "at10"), (2L, "at10"), (3L, "at5")))
  }

  test("pathological bucketWidth is auto-widened: huge key span with width 1 still completes and matches") {
    val ss = spark; import ss.implicits._
    // Key span ~10^12 with bucketWidth 1 would put ~10^12 rows through
    // the carry-in prefix window without the guard. With it, the width
    // widens to span/targetBuckets and the join completes fast + exact.
    spark.conf.set(AsOfJoin.TargetBucketsConf, "1024")
    try {
      val lefts = Seq(0L, 999L, 500_000_000_000L, 999_999_999_999L)
      val rights = Seq((500L, "low"), (750_000_000_000L, "high"))
      val out = AsOfJoin.asOf(
        lefts.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k"),
        rights.toDF("rk", "pay"), "k", "rk", Seq("pay"), bucketWidth = 1L)
        .collect()
        .map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getString(2))))
        .toSet
      assert(out === Set(
        (0L, None), (999L, Some("low")),
        (500_000_000_000L, Some("low")), (999_999_999_999L, Some("high"))))
    } finally spark.conf.unset(AsOfJoin.TargetBucketsConf)
  }

  test("effectiveBucketWidth: respects sane widths, widens pathological ones, 0 disables") {
    // Sane: span 10^6 at width 1000 → 1001 buckets < max → unchanged.
    assert(AsOfJoin.effectiveBucketWidth(0, 999999, 1000, 1 << 20, 1 << 16) === 1000)
    // Pathological: span 10^12 at width 1 → widened to span/target.
    val w = AsOfJoin.effectiveBucketWidth(0, 999_999_999_999L, 1, 1 << 20, 1 << 16)
    assert(w === (1_000_000_000_000L + (1 << 16) - 1) / (1 << 16))
    // Span is never widened below the request.
    assert(AsOfJoin.effectiveBucketWidth(0, 100, 64, 1 << 20, 1 << 16) === 64)
    // maxBuckets=0 disables the guard entirely.
    assert(AsOfJoin.effectiveBucketWidth(0, 999_999_999_999L, 1, 0, 1 << 16) === 1)
    // Negative spans (hi < lo can't happen, but clamp) stay safe.
    assert(AsOfJoin.effectiveBucketWidth(5, 5, 10, 1 << 20, 1 << 16) === 10)
    // The FULL Long domain: hi - lo + 1 overflows 64-bit exactly for the
    // most pathological span, which used to clamp to 1 and silently skip
    // widening. The BigInt span math must widen to ~2^48 instead.
    val full = AsOfJoin.effectiveBucketWidth(
      Long.MinValue, Long.MaxValue, 1000, 1 << 20, 1 << 16)
    assert(full > 1000L)
    assert(BigInt(2).pow(64) / full <= (1L << 16))
  }

  test("width-guard bounds are memoized: repeat construction and plan-only inspection run zero jobs") {
    val ss = spark; import ss.implicits._
    val l = Seq((1L, 10L), (2L, 20L)).toDF("id", "k")
    val r = Seq((5L, "p5"), (15L, "p15")).toDF("rk", "pay")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // Listener delivery is async and the bus isn't test-visible: the probe
    // job itself is synchronous (head() blocks), so a short settle sleep
    // is enough for its start event to land.
    def drain(): Unit = Thread.sleep(400)
    AsOfJoin.clearBoundsCache()
    spark.sparkContext.addSparkListener(listener)
    try {
      // First construction pays the one probe job.
      AsOfJoin.asOf(l, r, "k", "rk", Seq("pay"), 4L)
      drain()
      val afterFirst = jobs.get()
      assert(afterFirst >= 1)
      // Re-construction + plan-only inspection: zero further jobs.
      val again = AsOfJoin.asOf(l, r, "k", "rk", Seq("pay"), 4L)
      again.queryExecution.executedPlan // force full planning
      again.explain()
      drain()
      assert(jobs.get() === afterFirst,
        "memoized bounds must not re-run the probe")
      // maxBuckets=0: the guard (and its job) is skipped on a FRESH pair.
      spark.conf.set(AsOfJoin.MaxBucketsConf, "0")
      try {
        val l2 = Seq((9L, 99L)).toDF("id", "k")
        AsOfJoin.asOf(l2, r, "k", "rk", Seq("pay"), 4L)
          .queryExecution.executedPlan
        drain()
        assert(jobs.get() === afterFirst,
          "maxBuckets=0 must construct with zero jobs")
      } finally spark.conf.unset(AsOfJoin.MaxBucketsConf)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("memo fingerprint tracks file-backed data growth: appended files re-probe (ADVICE r6)") {
    val ss = spark; import ss.implicits._
    val dir = java.nio.file.Files.createTempDirectory("asof-grow").toString
    Seq((1L, 10L), (2L, 20L)).toDF("id", "k").write.parquet(s"$dir/l")
    Seq((5L, "p5")).toDF("rk", "pay").write.parquet(s"$dir/r")
    AsOfJoin.clearBoundsCache()
    val r = spark.read.parquet(s"$dir/r")
    AsOfJoin.asOf(spark.read.parquet(s"$dir/l"), r, "k", "rk", Seq("pay"), 4L)
    assert(AsOfJoin.boundsCacheSize === 1)
    // Appending files widens the real key span under a near-identical
    // plan; the file-list fingerprint component must force a fresh probe
    // rather than reuse the stale narrower bounds (which would let the
    // span exceed maxBuckets unguarded).
    Seq((3L, 1000000L)).toDF("id", "k").write.mode("append").parquet(s"$dir/l")
    AsOfJoin.asOf(spark.read.parquet(s"$dir/l"), r, "k", "rk", Seq("pay"), 4L)
    assert(AsOfJoin.boundsCacheSize === 2,
      "grown file-backed input must re-probe, not reuse stale bounds")
    // And the identical re-read (no growth) still hits the memo.
    AsOfJoin.asOf(spark.read.parquet(s"$dir/l"), r, "k", "rk", Seq("pay"), 4L)
    assert(AsOfJoin.boundsCacheSize === 2)
  }

  test("c7_asof_join: no nested-loop join, no data-sized single-reducer stage") {
    val p = SparkEntry.queries("c7_asof_join")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
    // The only unpartitioned window is the bucket-champion prefix scan —
    // its input is the champion/probe table, never raw change rows. Check
    // the bucket window (the data-sized one) is hash-partitioned.
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(__b"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The injected RangeJoinRewrite optimizer rule: a naive theta range join
  * written by a user who has never heard of RangeJoin must come out as a
  * bucketed equi-join (no nested loop) with identical results. */
class RangeJoinRewriteSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2
  override protected def sparkConf = Seq("spark.sql.extensions" -> "graft.GraftExtensions")

  private def fixtures(): (Seq[(Long, Long)], Seq[(Long, Long, Long)]) = {
    val rnd = new scala.util.Random(3)
    val points = List.tabulate(300)(i => (i.toLong, rnd.nextLong(2000)))
    val intervals = List.tabulate(40) { i =>
      val lo = rnd.nextLong(2000)
      (i.toLong, lo, lo + rnd.nextLong(400)) // overlapping; some empty
    }
    (points, intervals)
  }

  test("naive SQL range join is rewritten: equi join on buckets, exact results") {
    val ss = spark; import ss.implicits._
    val (points, intervals) = fixtures()
    points.toDF("pid", "k").createOrReplaceTempView("pts")
    intervals.toDF("iid", "lo", "hi").createOrReplaceTempView("ivs")

    val naive = spark.sql(
      "SELECT pid, iid FROM pts JOIN ivs ON k >= lo AND k < hi")
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"rewrite did not fire:\n$plan")
    assert(plan.contains("__graft_pb") || plan.contains("__graft_ib"))

    val got = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val want = (for {
      (pid, k) <- points
      (iid, lo, hi) <- intervals if k >= lo && k < hi
    } yield (pid, iid)).sorted
    assert(got == want)
  }

  test("degenerate intervals (hi <= lo) at bucket boundaries don't crash the rewrite") {
    val ss = spark; import ss.implicits._
    // lo == hi == 256 straddles the default bucket boundary: unguarded,
    // Sequence(1, 0, step=1) THROWS in Spark (unlike generate_series).
    Seq((1L, 100L)).toDF("pid", "k").createOrReplaceTempView("pts3")
    Seq((1L, 256L, 256L), (2L, 300L, 200L), (3L, 0L, 200L))
      .toDF("iid", "lo", "hi").createOrReplaceTempView("ivs3")
    val out = spark.sql("SELECT pid, iid FROM pts3 JOIN ivs3 ON k >= lo AND k < hi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 3L))) // only the real interval matches
  }

  test("all four comparison spellings fire, plus flipped conjuncts and operands") {
    val ss = spark; import ss.implicits._
    val (points, intervals) = fixtures()
    points.toDF("pid", "k").createOrReplaceTempView("pts4")
    intervals.toDF("iid", "lo", "hi").createOrReplaceTempView("ivs4")

    def check(cond: String, pred: (Long, Long, Long) => Boolean): Unit = {
      val q = spark.sql(s"SELECT pid, iid FROM pts4 JOIN ivs4 ON $cond")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        s"rewrite did not fire for `$cond`:\n$plan")
      assert(plan.contains("__graft_pb"), s"no bucket column for `$cond`")
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = (for {
        (pid, k) <- points
        (iid, lo, hi) <- intervals if pred(k, lo, hi)
      } yield (pid, iid)).sorted
      assert(got == want, s"wrong rows for `$cond`")
    }

    check("k >= lo AND k < hi", (k, lo, hi) => k >= lo && k < hi)   // half-open
    check("k > lo AND k <= hi", (k, lo, hi) => k > lo && k <= hi)   // other half
    check("k >= lo AND k <= hi", (k, lo, hi) => k >= lo && k <= hi) // closed
    check("k > lo AND k < hi", (k, lo, hi) => k > lo && k < hi)     // open
    // Flipped conjunct order and flipped operand order.
    check("k < hi AND k >= lo", (k, lo, hi) => k >= lo && k < hi)
    check("lo <= k AND hi > k", (k, lo, hi) => k >= lo && k < hi)
    check("hi >= k AND lo < k", (k, lo, hi) => k > lo && k <= hi)
  }

  test("exclusive bounds at the Long domain extremes match the naive plan (nothing)") {
    val ss = spark; import ss.implicits._
    // The ±1 inclusive-tightening uses the default wrapping Add; an
    // exclusive bound AT Long.MaxValue/MinValue would wrap and replicate
    // the interval across (nearly) the whole key axis. The guard must
    // drop such rows — they are provably empty (`k > Long.MaxValue` /
    // `k < Long.MinValue` match no long) — while normal rows still join.
    Seq((1L, 100L)).toDF("pid", "k").createOrReplaceTempView("pts5")
    Seq(
      (1L, Long.MaxValue, Long.MaxValue), // k > MaxValue: empty, would wrap
      (2L, Long.MinValue, Long.MinValue), // k < MinValue: empty, would wrap
      (3L, 0L, 200L)                      // sane: matches
    ).toDF("iid", "lo", "hi").createOrReplaceTempView("ivs5")
    val out = spark.sql("SELECT pid, iid FROM pts5 JOIN ivs5 ON k > lo AND k < hi")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 3L)))
  }

  test("joins the rule must NOT touch still plan normally") {
    val ss = spark; import ss.implicits._
    val (points, intervals) = fixtures()
    points.toDF("pid", "k").createOrReplaceTempView("pts2")
    intervals.toDF("iid", "lo", "hi").createOrReplaceTempView("ivs2")
    // Equi join: untouched (no bucket columns in the plan).
    val equi = spark.sql("SELECT pid, iid FROM pts2 JOIN ivs2 ON k = lo")
    assert(!equi.queryExecution.executedPlan.toString.contains("__graft_"))
    // Two LOWER bounds — not an interval; untouched.
    val twoLo = spark.sql("SELECT pid, iid FROM pts2 JOIN ivs2 ON k >= lo AND k > hi")
    assert(!twoLo.queryExecution.executedPlan.toString.contains("__graft_"))
    // Bounds referencing BOTH sides (hi + pid crosses the split): untouched.
    val crossed = spark.sql(
      "SELECT pid, iid FROM pts2 JOIN ivs2 ON k >= lo AND k < hi + pid")
    assert(!crossed.queryExecution.executedPlan.toString.contains("__graft_"))
    // And the untouched forms still answer correctly via Spark's own plan.
    val want = (for {
      (pid, k) <- points; (iid, lo, hi) <- intervals if k >= lo && k < hi + pid
    } yield 1).size.toLong
    assert(crossed.count() == want)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RangeJoin

/** Bucketed range join vs a brute-force model: exact multiset of
  * (point, interval) pairs under overlapping intervals, empty intervals,
  * bucket-boundary keys, and varying bucket widths; plus the equi-join
  * plan guarantee. */
class RangeJoinSpec extends AnyFunSuite with LocalSpark {

  test("matches the brute-force model on overlapping layouts") {
    val rnd = new scala.util.Random(7)
    val widths = Seq(1L, 16L, 256L, 5000L)
    for (trial <- 0 until 10) {
      val ss = spark; import ss.implicits._
      val points = List.fill(1 + rnd.nextInt(80))(rnd.nextLong(600))
      val intervals = List.tabulate(1 + rnd.nextInt(25)) { i =>
        val lo = rnd.nextLong(600)
        // Include empty (hi == lo) and wide intervals.
        (i.toLong, lo, lo + rnd.nextLong(200))
      }
      val width = widths(trial % widths.length)
      val p = points.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("pid", "k")
      val iv = intervals.toDF("iid", "lo", "hi")
      val got = RangeJoin.pointInInterval(p, iv, "k", "lo", "hi", width)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = (for {
        (k, i) <- points.zipWithIndex
        (iid, lo, hi) <- intervals if k >= lo && k < hi
      } yield (i.toLong, iid)).sorted
      assert(got == want, s"width $width")
    }
  }

  test("a point matching several overlapping intervals appears once per interval") {
    val ss = spark; import ss.implicits._
    val p = Seq((1L, 100L)).toDF("pid", "k")
    val iv = Seq((1L, 0L, 200L), (2L, 50L, 150L), (3L, 100L, 101L), (4L, 101L, 200L))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(p, iv, "k", "lo", "hi", 64L)
      .select("iid").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("intervalOverlap matches the brute-force model with exactly-once pairs") {
    val rnd = new scala.util.Random(19)
    val widths = Seq(1L, 32L, 512L, 4000L)
    for (trial <- 0 until 8) {
      val ss = spark; import ss.implicits._
      val lefts = List.tabulate(1 + rnd.nextInt(30)) { i =>
        val lo = rnd.nextLong(800); (i.toLong, lo, lo + rnd.nextLong(300))
      }
      val rights = List.tabulate(1 + rnd.nextInt(30)) { i =>
        val lo = rnd.nextLong(800); (i.toLong, lo, lo + rnd.nextLong(300))
      }
      val width = widths(trial % widths.length)
      val got = RangeJoin.intervalOverlap(
          lefts.toDF("lid", "llo", "lhi"), rights.toDF("rid", "rlo", "rhi"),
          "llo", "lhi", "rlo", "rhi", width)
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = (for {
        (lid, llo, lhi) <- lefts if lhi > llo
        (rid, rlo, rhi) <- rights if rhi > rlo && llo < rhi && rlo < lhi
      } yield (lid, rid)).sorted
      assert(got == want, s"width $width")
      assert(got.distinct == got, s"duplicate pairs at width $width")
    }
  }

  test("c8_range_join: equi-join on buckets, no nested loop") {
    val p = SparkEntry.queries("c8_range_join")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"))
  }
}

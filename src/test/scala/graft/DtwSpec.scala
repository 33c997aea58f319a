package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TimeSeriesQueries

/** The banded-DTW kernel (`TimeSeriesQueries.dtwAggExpr` — the nested
  * `aggregate` fold) pinned against an independent Scala reference DP on
  * seeded random vectors, plus the algebraic identities that make the
  * ts_dtw_topk sandwich sound: DTW(v, v) = 0, DTW ≤ ED (the diagonal
  * path lies inside every band), and band monotonicity (a wider band can
  * only shorten the optimal warp). The cross-engine integer equality is
  * separately enforced by the ts_dtw_topk oracle compare (a structurally
  * different anti-diagonal recursion in DuckDB). */
class DtwSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2

  /** Independent reference: textbook O(n²) banded DTW over Longs. */
  private def refDtw(q: Array[Long], c: Array[Long], band: Int): Long = {
    val n = q.length
    val inf = Long.MaxValue / 4
    val d = Array.fill(n, n)(inf)
    for (i <- 0 until n; j <- 0 until n if math.abs(i - j) <= band) {
      val cost = (q(i) - c(j)) * (q(i) - c(j))
      val best =
        if (i == 0 && j == 0) 0L
        else Seq(
          if (i > 0) d(i - 1)(j) else inf,
          if (j > 0) d(i)(j - 1) else inf,
          if (i > 0 && j > 0) d(i - 1)(j - 1) else inf).min
      d(i)(j) = cost + best
    }
    d(n - 1)(n - 1)
  }

  /** Evaluate the SQL kernel on literal vectors. */
  private def sqlDtw(q: Array[Long], c: Array[Long], band: Int): Long = {
    val lit = (v: Array[Long]) => v.map(x => s"${x}L").mkString("array(", ", ", ")")
    spark.sql(
      s"SELECT ${TimeSeriesQueries.dtwAggExpr(q.length, band, "qv", "cv")} AS d " +
        s"FROM (SELECT ${lit(q)} AS qv, ${lit(c)} AS cv)")
      .head().getLong(0)
  }

  test("kernel equals the reference DP on seeded random vectors, several bands and lengths") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(4, 7, 16, 30); band <- Seq(1, 2, 5); _ <- 1 to 3) {
      val q = Array.fill(n)(rnd.nextInt(50).toLong)
      val c = Array.fill(n)(rnd.nextInt(50).toLong)
      assert(sqlDtw(q, c, band) === refDtw(q, c, band),
        s"n=$n band=$band q=${q.mkString(",")} c=${c.mkString(",")}")
    }
  }

  test("identity, symmetry-of-cost, and the ED upper bound") {
    val rnd = new scala.util.Random(7)
    val q = Array.fill(12)(rnd.nextInt(30).toLong)
    val c = Array.fill(12)(rnd.nextInt(30).toLong)
    assert(sqlDtw(q, q, 2) === 0L, "DTW(v, v) must be 0")
    val ed = q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    assert(sqlDtw(q, c, 2) <= ed, "the diagonal path bounds DTW by ED")
  }

  test("band monotonicity: widening the band never increases the distance") {
    val rnd = new scala.util.Random(11)
    val q = Array.fill(15)(rnd.nextInt(40).toLong)
    val c = Array.fill(15)(rnd.nextInt(40).toLong)
    val byBand = Seq(0, 1, 2, 4, 8, 14).map(b => sqlDtw(q, c, b))
    assert(byBand.zip(byBand.tail).forall { case (a, b) => b <= a },
      s"distances not monotone in band: $byBand")
    // band 0 IS the exact Euclidean distance.
    assert(byBand.head === q.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
  }

  test("ts_dtw_topk on the fixture: the full sandwich holds on every emitted pair") {
    val rows = SparkEntry.queries("ts_dtw_topk")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lb, dtw, ed) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lb <= dtw && dtw <= ed, s"sandwich broken: $lb / $dtw / $ed")
      assert(r.getInt(5) === 1)
    }
  }
}

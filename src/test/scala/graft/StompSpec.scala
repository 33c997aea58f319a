package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TimeSeriesQueries

/** The STOMP recurrence witness (r11 verdict #6): ts_stomp_discord
  * computes every matrix-profile cell as QT(i,k) = cum(k,i+m−1) −
  * cum(k,i−1) over diagonal element products — O(1) per cell. This spec
  * machine-checks that recurrence CELL-BY-CELL against the naive
  * O(n²·m) quadratic definition (explicit Σ_t (x(i+t) − x(i+k+t))²) on
  * the SAME fixture-derived hourly series, for the FULL 697-window
  * profile — no false dismissal and no inflation anywhere in the
  * matrix, not just at the emitted discords. The DuckDB oracle
  * separately replays the identical recurrence text (engine parity);
  * this spec is the proof the recurrence equals the definition. */
class StompSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  /** The naive matrix profile over the identical hourly series: for
    * every window pair (i, i+k), k in [excl, n−m], the squared distance
    * as the explicit sum over the m aligned terms. */
  private def naiveProfile(): Map[Long, Long] = {
    val n = TimeSeriesQueries.StompN
    val m = TimeSeriesQueries.StompM
    val excl = TimeSeriesQueries.StompExcl
    fixtures.SyntheticCdc.events(spark, dir).createOrReplaceTempView("events_t")
    spark.sql(
      s"""WITH sbounds AS (SELECT min(unix_micros(ts)) AS t0 FROM events_t),
         |hourly AS (
         |  SELECT CAST((unix_micros(ts) - b.t0) div 3600000000 AS BIGINT) AS h,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM events_t CROSS JOIN sbounds b
         |  WHERE (unix_micros(ts) - b.t0) div 3600000000 < $n
         |  GROUP BY CAST((unix_micros(ts) - b.t0) div 3600000000 AS BIGINT)),
         |xs AS (
         |  SELECT g.h, coalesce(s.c, CAST(0 AS BIGINT)) AS v
         |  FROM (SELECT CAST(x AS BIGINT) AS h
         |        FROM (SELECT explode(sequence(0, ${n - 1})) AS x)) g
         |  LEFT JOIN hourly s ON s.h = g.h),
         |pairs AS (
         |  SELECT e.i, e.k, e.v AS va, b.v AS vb
         |  FROM (SELECT a.h - tt.t AS i, kk.k, tt.t, a.v
         |        FROM xs a
         |        LATERAL VIEW explode(sequence($excl, ${n - m})) kk AS k
         |        LATERAL VIEW explode(sequence(0, ${m - 1})) tt AS t) e
         |  JOIN xs b ON b.h = e.i + e.k + e.t
         |  WHERE e.i >= 0 AND e.i + e.k <= ${n - m}),
         |d2 AS (
         |  SELECT i, k, CAST(sum((va - vb) * (va - vb)) AS BIGINT) AS d2
         |  FROM pairs GROUP BY i, k),
         |mirrored AS (
         |  SELECT i, d2 FROM d2
         |  UNION ALL
         |  SELECT i + k AS i, d2 FROM d2)
         |SELECT i, min(d2) AS mp_d2 FROM mirrored GROUP BY i""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("STOMP recurrence equals the naive quadratic definition on every window") {
    val naive = naiveProfile()
    val windows = TimeSeriesQueries.StompN - TimeSeriesQueries.StompM + 1
    assert(naive.size == windows, s"naive profile covers ${naive.size} windows")
    val stomp = TimeSeriesQueries.stompFullProfile(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stomp.size == windows, s"recurrence profile covers ${stomp.size} windows")
    val diffs = (0L until windows.toLong).filter(i => naive(i) != stomp(i))
    assert(diffs.isEmpty,
      s"${diffs.size} cells diverge, first: " + diffs.take(3).map(i =>
        s"i=$i naive=${naive(i)} stomp=${stomp(i)}").mkString("; "))
  }

  test("emitted motifs are the naive pair ranking's bottom-5, non-overlapping") {
    val n = TimeSeriesQueries.StompN
    val m = TimeSeriesQueries.StompM
    fixtures.SyntheticCdc.events(spark, dir).createOrReplaceTempView("events_t")
    // Naive pair distances over the NON-OVERLAP diagonal range k >= m.
    val naivePairs = spark.sql(
      s"""WITH sbounds AS (SELECT min(unix_micros(ts)) AS t0 FROM events_t),
         |hourly AS (
         |  SELECT CAST((unix_micros(ts) - b.t0) div 3600000000 AS BIGINT) AS h,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM events_t CROSS JOIN sbounds b
         |  WHERE (unix_micros(ts) - b.t0) div 3600000000 < $n
         |  GROUP BY CAST((unix_micros(ts) - b.t0) div 3600000000 AS BIGINT)),
         |xs AS (
         |  SELECT g.h, coalesce(s.c, CAST(0 AS BIGINT)) AS v
         |  FROM (SELECT CAST(x AS BIGINT) AS h
         |        FROM (SELECT explode(sequence(0, ${n - 1})) AS x)) g
         |  LEFT JOIN hourly s ON s.h = g.h),
         |pairs AS (
         |  SELECT e.i, e.k, e.v AS va, b.v AS vb
         |  FROM (SELECT a.h - tt.t AS i, kk.k, tt.t, a.v
         |        FROM xs a
         |        LATERAL VIEW explode(sequence($m, ${n - m})) kk AS k
         |        LATERAL VIEW explode(sequence(0, ${m - 1})) tt AS t) e
         |  JOIN xs b ON b.h = e.i + e.k + e.t
         |  WHERE e.i >= 0 AND e.i + e.k <= ${n - m})
         |SELECT CAST(i AS BIGINT) AS i, CAST(k AS BIGINT) AS k,
         |       CAST(sum((va - vb) * (va - vb)) AS BIGINT) AS d2
         |FROM pairs GROUP BY i, k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = naivePairs
      .sortBy { case (i, k, d) => (d, i, k) }.take(5)
      .map { case (i, k, d) => (i, i + k, d) }
    val emitted = TimeSeriesQueries.tsMotif(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(emitted.length == 5)
    emitted.zip(expected).zipWithIndex.foreach {
      case (((rk, a, b, d2), (na, nb, nd2)), idx) =>
        assert(rk == idx + 1 && a == na && b == nb && d2 == nd2,
          s"rank $rk: recurrence ($a, $b, $d2) != naive ($na, $nb, $nd2)")
        assert(b - a >= m, s"motif pair ($a, $b) overlaps (separation < $m)")
    }
  }

  test("emitted discords are the naive profile's top-5 with deterministic ties") {
    val naive = naiveProfile()
    val emitted = TimeSeriesQueries.tsStompDiscord(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    assert(emitted.length == 5)
    val naiveTop = naive.toSeq.sortBy { case (i, d) => (-d, i) }.take(5)
    emitted.zip(naiveTop).zipWithIndex.foreach {
      case (((rk, i, d2), (ni, nd2)), idx) =>
        assert(rk == idx + 1 && i == ni && d2 == nd2,
          s"rank $rk: recurrence ($i, $d2) != naive ($ni, $nd2)")
    }
  }
}

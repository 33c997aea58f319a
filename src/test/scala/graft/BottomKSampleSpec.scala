package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bottom-k-by-hash sample aggregate (`expr/BottomKSample`): the
  * semilattice/merge contract, the K bound on what crosses the shuffle,
  * the hash-collision rule, and — on a skewed distribution the uniform
  * fixture can't produce — that sampled quantiles actually track the
  * exact ones in rank space. */
class BottomKSampleSpec extends AnyFunSuite with LocalSpark {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.expr.GraftFunctions.register(spark)
  }

  test("partition layout cannot change the sample (semilattice merge)") {
    val ss = spark; import ss.implicits._
    val rows = (0L until 5000L).map(i => (i * 2654435761L % 1000003L, i))
    def sample(parts: Int): Seq[Long] =
      rows.toDF("h", "v").repartition(parts)
        .agg(expr("bottomk_sample(h, v, 64)")).head().getSeq[Long](0)
    val one = sample(1)
    assert(one.size == 64)
    assert(sample(8) == one, "8-partition merge diverged from single-partition fold")
  }

  test("K bounds the buffer; hash collisions keep the MIN value") {
    val ss = spark; import ss.implicits._
    // Three values under one hash: the defined rule keeps 5 (the min).
    val rows = Seq((10L, 7L), (10L, 5L), (10L, 9L), (2L, 100L), (30L, 1L))
    val got = rows.toDF("h", "v")
      .agg(expr("bottomk_sample(h, v, 2)")).head().getSeq[Long](0)
    // Bottom-2 hashes = {2, 10} in hash order -> values (100, 5).
    assert(got == Seq(100L, 5L), s"got $got")
  }

  test("sampled quantiles track exact quantiles in rank space on a skewed distribution") {
    val ss = spark; import ss.implicits._
    // Zipf-ish: value = floor(10000 / rank-ish), heavy head, long tail.
    val n = 20000
    val vals = (1 to n).map(i => 10000L / (1 + (i * 2654435761L % n) % 400))
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    rows.toDF("doc_id", "v").createOrReplaceTempView("bks_t")
    val sampled = spark.sql(
      s"""WITH s AS (SELECT bottomk_sample(
         |    ${graft.queries.DedupQueries.hSpark("cast(doc_id as string)")},
         |    v, 256) AS vals FROM bks_t),
         |q AS (SELECT array_sort(vals) AS sv, size(vals) AS n FROM s)
         |SELECT element_at(sv, greatest(CAST(ceil(0.25 * n) AS INT), 1)),
         |       element_at(sv, greatest(CAST(ceil(0.50 * n) AS INT), 1)),
         |       element_at(sv, greatest(CAST(ceil(0.75 * n) AS INT), 1))
         |FROM q""".stripMargin).head()
    val sorted = vals.sorted
    def rankOf(v: Long): Double = sorted.search(v) match {
      case scala.collection.Searching.Found(i) => i.toDouble / n
      case scala.collection.Searching.InsertionPoint(i) => i.toDouble / n
    }
    for ((p, idx) <- Seq(0.25 -> 0, 0.50 -> 1, 0.75 -> 2)) {
      val est = sampled.getLong(idx)
      // Rank-space tolerance: a 256-sample quantile's standard error is
      // sqrt(p(1-p)/256) <= 0.031; 0.1 is > 3 sigma. Value-space bounds
      // would be meaningless on a heavy-head distribution (many ties).
      val lo = rankOf(est)
      val hi = rankOf(est + 1)
      assert(lo - 0.1 <= p && p <= hi + 0.1,
        s"p$p estimate $est sits at rank [$lo, $hi]")
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQueries

/** §2.2 skew guard for the co-purchase pair build (r16, VERDICT r15 #5):
  * the block-decomposed path — taken when any order's basket exceeds
  * `graft.graph.basketBlock` — must produce the BIT-IDENTICAL grouped
  * pair relation the plain self-join produces, both on the real fixture
  * (block path forced with B = 2) and on a synthetic hot-order fixture
  * (one 300-line order, the skew shape the guard exists for). The pair
  * multiset argument: every unordered row pair {i, j} of an order is
  * enumerated exactly once as within-block (rn_a < rn_b) or cross-block
  * (a replicated to each later block), and the (least, greatest)
  * orientation with the p ≠ p filter reproduces the plain join's
  * one-row-per-qualifying-pair exactly. */
class CoPurchaseSkewSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  /** Build the memoized relation fresh under the given block bound. */
  private def build(d: String, block: Option[Int]): Seq[(Long, Long, Long)] = {
    graft.operators.SessionMemo.clear()
    graft.operators.PinnedStages.releaseShared(spark)
    block match {
      case Some(b) => spark.conf.set("graft.graph.basketBlock", b.toString)
      case None    => spark.conf.unset("graft.graph.basketBlock")
    }
    try GraphQueries.coPurchaseCounts(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    finally spark.conf.unset("graft.graph.basketBlock")
  }

  test("block-decomposed build bit-equals the plain self-join on the real fixture") {
    val plain = build(dir, None) // TPC-H baskets ≤ 7 → plain path
    val blocked = build(dir, Some(2)) // every basket > 2 → block path forced
    assert(plain.nonEmpty)
    assert(blocked == plain)
  }

  test("hot-order fixture: audit flips to the block path and the result is identical") {
    val tmp = java.nio.file.Files.createTempDirectory("copurchase-skew").toString
    val ss = spark
    import ss.implicits._
    // One 300-line order (with repeated part keys — the count semantics
    // must survive duplicates) plus two normal baskets.
    val hot = (1 to 300).map(i => (900001L, (i.toLong * 7) % 291 + 1))
    val normal = Seq((900002L, 5L), (900002L, 9L),
      (900003L, 5L), (900003L, 9L), (900003L, 11L))
    (hot ++ normal).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val plain = build(tmp, Some(1000000)) // bound above the hot order → plain
    val blocked = build(tmp, Some(64)) // 300 > 64 → block path
    assert(plain.nonEmpty)
    assert(blocked == plain)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** graph_link_predict_pruned (r13): the PPJoin+ cascade over adjacency
  * lists. The oracle proves cascade LOSSLESSNESS against the naive
  * thresholded wedge definition; this spec pins the two claims the
  * oracle can't see:
  *  - top-50 EQUALITY with the exact operator wherever the data's score
  *    floor clears the confidence threshold (sf0.001: floor 0.42 ≥ 1/3);
  *  - the threshold actually discriminates (crafted graph with one pair
  *    on each side of t).
  */
class LinkPredictPrunedSpec extends AnyFunSuite with LocalSpark {

  test("top-50 equals the exact operator where the fixture floor clears t = 1/3") {
    val dir = "/root/testdata/sf0.001"
    val exact = graft.queries.GraphQueries.graphLinkPredict(spark, dir)
      .collect().map(_.toSeq).toSeq
    val floor = exact.map(_(5).asInstanceOf[Long]).min
    assert(floor >= 333334L,
      s"fixture drifted: top-50 jaccard floor $floor no longer clears 1/3" +
        " — the equality precondition itself (pick a smaller t)")
    val pruned = graft.queries.GraphQueries
      .graphLinkPredictPruned(spark, dir).collect().map(_.toSeq).toSeq
    assert(pruned === exact)
  }

  test("t20 top-50 equals the exact operator at the correctness-gate SF (r14)") {
    // The gate-biting instantiation (verdict r13 #2): at sf0.01 the
    // non-edge ceiling is 0.1 and ~94k pairs clear 1/20, so the exact
    // operator's global top-50 all sit above t and must equal the
    // cascade's qualifying top-50 — on the SAME scale the driver's
    // oracle gate runs at.
    val dir = "/root/testdata/sf0.01"
    val exact = graft.queries.GraphQueries.graphLinkPredict(spark, dir)
      .collect().map(_.toSeq).toSeq
    val floor = exact.map(_(5).asInstanceOf[Long]).min
    assert(floor >= 50000L,
      s"fixture drifted: top-50 jaccard floor $floor no longer clears 1/20")
    val pruned = graft.queries.GraphQueries
      .graphLinkPredictPrunedT20(spark, dir).collect().map(_.toSeq).toSeq
    assert(pruned === exact)
  }

  test("the threshold discriminates on a crafted co-purchase graph") {
    // Orders are cliques over their parts. Parts 1, 2 both touch the
    // filler sets {101..106} through parallel orders plus one private
    // filler each (107 vs 108): deg = 7 each, common = 6 →
    // J = 6/8 = 0.75 ≥ 1/2. Parts 31, 32 share one order's 3 fillers
    // {301..303} out of deg 8 each → J = 3/13 ≈ 0.23 < 1/2 (but ≥ 1/10
    // and ≥ minsup 3). Neither candidate pair is itself an edge (1–2
    // never co-occur, 31–32 never co-occur).
    val tmp = java.nio.file.Files.createTempDirectory("lpp_graph").toString
    def order(ok: Long, parts: Seq[Long]) = parts.map(p => (ok, p))
    val rows =
      order(10, Seq(1, 101, 102)) ++ order(11, Seq(1, 103, 104)) ++
      order(12, Seq(1, 105, 106)) ++ order(13, Seq(1, 107)) ++
      order(20, Seq(2, 101, 102)) ++ order(21, Seq(2, 103, 104)) ++
      order(22, Seq(2, 105, 106)) ++ order(23, Seq(2, 108)) ++
      order(30, Seq(31, 301, 302, 303)) ++ order(31, Seq(31, 311, 312, 313)) ++
      order(32, Seq(31, 314, 315)) ++
      order(40, Seq(32, 301, 302, 303)) ++ order(41, Seq(32, 321, 322, 323)) ++
      order(42, Seq(32, 324, 325))
    val ss = spark; import ss.implicits._
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    def pairs(p: Int, q: Int): Set[(Long, Long)] =
      graft.queries.GraphQueries.graphLinkPredictPrunedAt(spark, tmp, p, q)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val atHalf = pairs(1, 2)
    assert(atHalf.contains((1L, 2L)), s"J=0.6 pair missing from $atHalf")
    assert(!atHalf.contains((31L, 32L)), "J=0.2 pair must not clear t=1/2")
    val atTenth = pairs(1, 10)
    assert(atTenth.contains((1L, 2L)) && atTenth.contains((31L, 32L)),
      s"t=0.1 must keep both scored pairs, got $atTenth")
  }
}

package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQueries

/** Link prediction (graph_link_predict): the distributed wedge-stream
  * scores must equal a brute-force driver-side computation of the same
  * indices over the same co-purchase graph (independent algorithm: full
  * neighbor-set intersection per non-adjacent pair), plus determinism
  * and the non-adjacency invariant. */
class LinkPredictSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  private def coPurchaseAdj(): mutable.Map[Long, mutable.Set[Long]] = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    byOrder.foreach { parts =>
      for (i <- parts.indices; j <- (i + 1) until parts.length) {
        adj.getOrElseUpdate(parts(i), mutable.Set.empty) += parts(j)
        adj.getOrElseUpdate(parts(j), mutable.Set.empty) += parts(i)
      }
    }
    adj
  }

  test("wedge-stream scores equal brute-force neighbor intersection") {
    val adj = coPurchaseAdj()
    val nodes = adj.keys.toSeq.sorted
    // Brute force: every non-adjacent pair with >=1 common neighbor.
    val brute = mutable.Map.empty[(Long, Long), (Long, Long, Long)]
    for (i <- nodes.indices; j <- (i + 1) until nodes.length) {
      val (a, b) = (nodes(i), nodes(j))
      if (!adj(a).contains(b)) {
        val common = adj(a).intersect(adj(b))
        if (common.size >= GraphQueries.LinkPredictMinCommon) {
          val jac = common.size.toLong * 1000000L /
            (adj(a).size + adj(b).size - common.size)
          val ra = common.toSeq.map(c => 1000000L / adj(c).size).sum
          brute((a, b)) = (common.size.toLong, jac, ra)
        }
      }
    }
    val expectedTop = brute.toSeq
      .map { case ((a, b), (c, jac, ra)) => (jac, a, b, c, ra) }
      .sortBy { case (jac, a, b, _, _) => (-jac, a, b) }
      .take(50)
    val got = SparkEntry.queries("graph_link_predict")(spark, dir).collect()
      .map(r => (r.getLong(5), r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(6)))
      .toSeq
    assert(got.size === expectedTop.size)
    assert(got.sortBy(t => (-t._1, t._2, t._3)) === expectedTop)
    // Non-adjacency invariant: no predicted pair is an existing edge.
    got.foreach { case (_, a, b, _, _) =>
      assert(!adj(a).contains(b), s"predicted pair ($a,$b) is an existing edge")
    }
  }

  test("bit-exact determinism across independent runs") {
    val a = SparkEntry.queries("graph_link_predict")(spark, dir)
      .orderBy("p1", "p2").collect().toSeq
    val b = SparkEntry.queries("graph_link_predict")(spark, dir)
      .orderBy("p1", "p2").collect().toSeq
    assert(a === b)
  }
}

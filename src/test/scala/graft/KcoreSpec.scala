package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** k-core decomposition (graph_kcore): the h-index fixpoint must equal
  * the coreness computed by an INDEPENDENT algorithm — classic minimum-
  * degree peeling run driver-side on the same bipartite graph — plus
  * structural invariants and bit-exact determinism. */
class KcoreSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  /** The same customer↔supplier bipartite edge set the query builds,
    * collected driver-side (160 nodes at sf0.001 — test-only scale). */
  private def edgeList(): Seq[(Long, Long)] = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_orderkey", "l_suppkey")
    orders.join(li, orders("o_orderkey") === li("l_orderkey"))
      .selectExpr("o_custkey * 2 AS src", "l_suppkey * 2 + 1 AS dst")
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** Reference coreness by minimum-degree peeling (Batagelj–Zaveršnik
    * shape, simple heap variant) — independent of the h-index route. */
  private def peelCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val deg = mutable.Map(adj.toSeq.map { case (v, ns) => v -> ns.size.toLong }: _*)
    val core = mutable.Map.empty[Long, Long]
    val removed = mutable.Set.empty[Long]
    val heap = mutable.PriorityQueue.empty[(Long, Long)](
      Ordering.by[(Long, Long), Long](_._1).reverse)
    deg.foreach { case (v, d) => heap.enqueue((d, v)) }
    var cur = 0L
    while (heap.nonEmpty) {
      val (d, v) = heap.dequeue()
      if (!removed.contains(v) && d == deg(v)) {
        cur = math.max(cur, d)
        core(v) = cur
        removed += v
        adj(v).foreach { u =>
          if (!removed.contains(u)) {
            deg(u) -= 1
            heap.enqueue((deg(u), u))
          }
        }
      }
    }
    core.toMap
  }

  test("h-index fixpoint equals peel coreness node-for-node") {
    val expected = peelCoreness(edgeList())
    val got = SparkEntry.queries("graph_kcore")(spark, dir).collect().map { r =>
      val node = if (r.getString(0) == "customer") r.getLong(1) * 2
                 else r.getLong(1) * 2 + 1
      node -> (r.getLong(2), r.getLong(3))
    }.toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (node, (degree, coreness)) =>
      assert(coreness === expected(node),
        s"node $node: h-index coreness $coreness != peel ${expected(node)}")
      assert(coreness <= degree, s"node $node: coreness above degree")
      assert(coreness >= 1L)
    }
  }

  test("bit-exact determinism across independent runs") {
    val a = SparkEntry.queries("graph_kcore")(spark, dir)
      .orderBy("node_type", "node_id").collect().toSeq
    val b = SparkEntry.queries("graph_kcore")(spark, dir)
      .orderBy("node_type", "node_id").collect().toSeq
    assert(a === b)
  }
}

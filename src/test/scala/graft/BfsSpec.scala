package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQueries

/** Multi-source BFS (graph_bfs): the iterative min-propagation must equal
  * a classic queue-based BFS run driver-side per probe, including the
  * absence of unreachable nodes, plus determinism. */
class BfsSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  private def adjacency(): Map[Long, Set[Long]] = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_orderkey", "l_suppkey")
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    orders.join(li, orders("o_orderkey") === li("l_orderkey"))
      .selectExpr("o_custkey * 2 AS src", "l_suppkey * 2 + 1 AS dst")
      .distinct().collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
    adj.map { case (k, v) => k -> v.toSet }.toMap
  }

  private def bfs(adj: Map[Long, Set[Long]], s: Long): Map[Long, Long] = {
    val dist = mutable.Map(s -> 0L)
    var frontier = List(s)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(v => adj(v).filterNot(dist.contains).map {
        u => dist(u) = dist(v) + 1; u
      })
    }
    dist.toMap
  }

  test("min-propagation equals queue-based BFS per probe") {
    val adj = adjacency()
    val expected = GraphQueries.BfsProbes.flatMap { case (p, node) =>
      bfs(adj, node).map { case (n, d) => (p, n) -> d }
    }.toMap
    val got = SparkEntry.queries("graph_bfs")(spark, dir).collect().map { r =>
      val node = if (r.getString(1) == "customer") r.getLong(2) * 2
                 else r.getLong(2) * 2 + 1
      (r.getString(0), node) -> r.getLong(3)
    }.toMap
    assert(got.keySet === expected.keySet,
      "reached sets differ (unreachable nodes must be absent)")
    got.foreach { case (k, d) =>
      assert(d === expected(k), s"probe/node $k: dist $d != ${expected(k)}")
    }
  }

  test("bit-exact determinism across independent runs") {
    val a = SparkEntry.queries("graph_bfs")(spark, dir)
      .orderBy("probe", "node_type", "node_id").collect().toSeq
    val b = SparkEntry.queries("graph_bfs")(spark, dir)
      .orderBy("probe", "node_type", "node_id").collect().toSeq
    assert(a === b)
  }
}

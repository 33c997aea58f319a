package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQueries

/** Integer PageRank (graph_pagerank): mass conservation up to floor
  * losses, structural sanity on the bipartite graph, and bit-exact
  * determinism across runs (the property the iterative integer design
  * exists to provide). */
class PagerankSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("rank mass conserves to SCALE up to integer floor losses") {
    val out = SparkEntry.queries("graph_pagerank")(spark, dir).cache()
    try {
      val total = out.agg(sum("rank_micro")).head.getLong(0)
      // Each contribution and the base floor-truncate: the loss per round
      // is < |E| + n units out of 1e12 — far inside 0.1%.
      assert(total > (GraphQueries.Scale * 999L) / 1000L && total <= GraphQueries.Scale,
        s"rank mass $total outside (0.999*SCALE, SCALE]")
    } finally out.unpersist()
  }

  test("hub suppliers out-rank leaf customers") {
    val out = SparkEntry.queries("graph_pagerank")(spark, dir).cache()
    try {
      val topSupplier = out.filter(col("node_type") === "supplier")
        .agg(max("rank_micro")).head.getLong(0)
      val medCustomer = out.filter(col("node_type") === "customer")
        .selectExpr("percentile(rank_micro, 0.5)").head.getDouble(0)
      assert(topSupplier > 10 * medCustomer,
        "supplier hubs should concentrate rank in the bipartite graph")
      // Both partitions are present and disjointly keyed.
      assert(out.filter(col("node_type") === "supplier").count() > 0)
      assert(out.filter(col("node_type") === "customer").count() > 0)
    } finally out.unpersist()
  }

  test("bit-exact determinism across independent runs") {
    val a = SparkEntry.queries("graph_pagerank")(spark, dir)
      .orderBy("node_type", "node_id").collect().toSeq
    val b = SparkEntry.queries("graph_pagerank")(spark, dir)
      .orderBy("node_type", "node_id").collect().toSeq
    assert(a === b)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQueries

/** HITS (graph_hits): the integer nano-unit iteration must match an
  * independent driver-side replay of the same floor-arithmetic updates
  * (propagate + L1-normalize), the output must be the two top-10s with
  * deterministic tie-breaks, and runs must be bit-identical. */
class HitsSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01"

  private def edges(): Seq[(Long, Long)] = {
    spark.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("o_hits")
    spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("l_hits")
    spark.sql(
      """SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
        |FROM o_hits o JOIN l_hits l ON o.o_orderkey = l.l_orderkey""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** Driver-side replay of the exact integer iteration. */
  private def replay(es: Seq[(Long, Long)]): (Map[Long, Long], Map[Long, Long]) = {
    val scale = GraphQueries.HitsScale
    val hubs = es.map(_._1).distinct
    var h: Map[Long, Long] = hubs.map(n => n -> scale / hubs.size).toMap
    var a: Map[Long, Long] = Map.empty
    for (_ <- 1 to GraphQueries.HitsRounds) {
      val araw = es.groupBy(_._2).view
        .mapValues(_.map(e => h.getOrElse(e._1, 0L)).sum).toMap
      val atot = araw.values.sum
      a = araw.view.mapValues(v => v * scale / atot).toMap
      val hraw = es.groupBy(_._1).view
        .mapValues(_.map(e => a.getOrElse(e._2, 0L)).sum).toMap
      val htot = hraw.values.sum
      h = hraw.view.mapValues(v => v * scale / htot).toMap
    }
    (h, a)
  }

  test("top-10 hubs and authorities match the integer driver-side replay") {
    val es = edges()
    val (h, a) = replay(es)
    def top10(m: Map[Long, Long]): Seq[(Long, Long)] =
      m.toSeq.sortBy { case (n, s) => (-s, n) }.take(10)
    val expHubs = top10(h)
    val expAuths = top10(a)
    val got = SparkEntry.queries("graph_hits")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val gotHubs = got.filter(_._1 == "customer").map(t => (t._2, t._3)).toSeq
    val gotAuths = got.filter(_._1 == "supplier").map(t => (t._2, t._3)).toSeq
    assert(gotHubs.sortBy(t => (-t._2, t._1)) === expHubs)
    assert(gotAuths.sortBy(t => (-t._2, t._1)) === expAuths)
    // Mutual reinforcement is non-degenerate: scores differ across the
    // top-10 (not a constant vector).
    assert(expHubs.map(_._2).distinct.size > 1)
    assert(expAuths.map(_._2).distinct.size > 1)
  }

  test("bit-exact determinism across independent runs") {
    def run() = SparkEntry.queries("graph_hits")(spark, dir)
      .orderBy("node_type", "node_id").collect().toSeq
    assert(run() === run())
  }
}

package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQueries

/** Label propagation (graph_lpa): the deterministic synchronous variant
  * must (a) REFINE connected components — every community lives inside
  * one component, since labels only travel along edges; (b) match an
  * independent driver-side replay of the same plurality update rule;
  * (c) be bit-identical across runs. */
class LpaSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01"

  private def strongEdges(): Seq[(Long, Long)] = {
    spark.read.parquet(s"$dir/lineitem.parquet")
      .createOrReplaceTempView("li_lpa_spec")
    spark.sql(
      s"""SELECT p1, p2 FROM (
         |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n
         |  FROM li_lpa_spec a JOIN li_lpa_spec b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY a.l_partkey, b.l_partkey)
         |WHERE n >= ${GraphQueries.CcMinOrders}""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  /** Driver-side replay: synchronous plurality update, ties to the
    * smaller label, early exit at a fixpoint — the operator's contract. */
  private def replay(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    var round = 0
    var changed = true
    while (changed && round < GraphQueries.LpaRounds) {
      val next = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lab).view.mapValues(_.size)
        // plurality, ties to smaller label
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
      changed = next != lab
      lab = next
      round += 1
    }
    lab
  }

  test("labels match the driver-side plurality replay and refine components") {
    val edges = strongEdges()
    val expected = replay(edges)
    val got = SparkEntry.queries("graph_lpa")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (n, (lab, _)) =>
      assert(lab === expected(n), s"node $n: got $lab, expected ${expected(n)}")
    }
    // Sizes add up per community.
    val byLab = got.groupBy(_._2._1)
    byLab.foreach { case (lab, members) =>
      members.foreach { case (n, (_, size)) =>
        assert(size === members.size.toLong, s"node $n community $lab size")
      }
    }
    // Refinement: every community is inside one connected component.
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    byLab.foreach { case (lab, members) =>
      val comps = members.keys.map(find).toSet
      assert(comps.size === 1, s"community $lab straddles components $comps")
    }
    // LPA must be FINER than (or equal to) components on this fixture —
    // the reason the operator exists next to graph_cc.
    val nComps = got.keys.map(find).toSet.size
    assert(byLab.size >= nComps, "LPA produced fewer groups than components")
    assert(byLab.size > 1, "fixture must yield a non-trivial community structure")
  }

  test("bit-exact determinism across independent runs") {
    val a = SparkEntry.queries("graph_lpa")(spark, dir)
      .orderBy("part_id").collect().toSeq
    val b = SparkEntry.queries("graph_lpa")(spark, dir)
      .orderBy("part_id").collect().toSeq
    assert(a === b)
  }
}

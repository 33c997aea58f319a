package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraphQueries

/** Connected components (graph_cc): the min-label fixpoint must induce
  * the same partition as an INDEPENDENT union-find over the same
  * strong-tie edge set, every label must be its component's minimum
  * member, sizes must add up, and runs must be bit-identical. */
class CcSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01" // sf0.001's strong graph is one component

  private def strongEdgesSql(): Seq[(Long, Long)] = {
    spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("li_cc_spec")
    spark.sql(
      s"""SELECT p1, p2 FROM (
         |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n
         |  FROM li_cc_spec a JOIN li_cc_spec b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY a.l_partkey, b.l_partkey)
         |WHERE n >= ${GraphQueries.CcMinOrders}""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("min-label fixpoint equals union-find component-for-component") {
    val edges = strongEdgesSql()
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // Canonical expected label: the MINIMUM member of each component.
    val byRoot = nodes.groupBy(find)
    val expected = byRoot.values.flatMap { members =>
      val label = members.min
      members.map(_ -> (label, members.size.toLong))
    }.toMap
    val got = SparkEntry.queries("graph_cc")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (n, (lab, size)) =>
      assert((lab, size) === expected(n),
        s"node $n: got (label=$lab, size=$size), expected ${expected(n)}")
    }
    assert(byRoot.size > 1, "fixture must yield a non-trivial partition")
  }

  test("bit-exact determinism across independent runs") {
    val a = SparkEntry.queries("graph_cc")(spark, dir)
      .orderBy("part_id").collect().toSeq
    val b = SparkEntry.queries("graph_cc")(spark, dir)
      .orderBy("part_id").collect().toSeq
    assert(a === b)
  }
}

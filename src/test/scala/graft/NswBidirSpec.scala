package graft

import org.scalatest.funsuite.AnyFunSuite

/** ann_nsw_bidir (r13): the reverse-edge re-selection
  * (keepPrunedConnections). The oracle gate proves the served rows;
  * this spec pins the INDEX-side structural claims the output can't
  * show: the bidirectional degree bound, candidate provenance, and
  * that reverse nominations actually enter final adjacency lists. */
class NswBidirSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    // Force the serve (builds nbd_edges_t / nbd2_edges_t views).
    graft.queries.SimilarityQueries.annNswBidir(spark, dir).count()
  }

  private def edgeSet(view: String): Set[(Long, Long)] =
    spark.table(view).select("vec_id", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("final out-degree respects the M bound") {
    val over = spark.sql(
      """SELECT vec_id, count(*) AS d FROM nbd2_edges_t
        |GROUP BY vec_id HAVING count(*) > 8""".stripMargin).collect()
    assert(over.isEmpty, s"nodes over the M=8 bound: ${over.mkString(",")}")
  }

  test("final edges come only from forward picks or their reversals") {
    val fwd = edgeSet("nbd_edges_t")
    val fin = edgeSet("nbd2_edges_t")
    val rev = fwd.map { case (u, v) => (v, u) }
    val stray = fin -- fwd -- rev
    assert(stray.isEmpty, s"edges outside forward ∪ reverse: $stray")
  }

  test("reverse nominations actually enter final lists on the fixture") {
    val fwd = edgeSet("nbd_edges_t")
    val fin = edgeSet("nbd2_edges_t")
    val adopted = (fin -- fwd).size
    assert(adopted > 0,
      "no reverse edge survived re-selection — the pass would be a no-op" +
        " on this fixture; pick a fixture where in-degree skew exists")
  }
}

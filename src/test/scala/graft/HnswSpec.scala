package graft

import org.scalatest.funsuite.AnyFunSuite

/** HNSW serving (ann_hnsw_topk): returned similarities must equal the
  * exact cosine (in micro-units) computed independently on the driver,
  * ranks must be a clean per-probe 1..3 consistent with those sims, the
  * hierarchy must never do worse than the flat NSW search on the same
  * graph (the multi-seed guarantee), and runs must be bit-identical. */
class HnswSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01"

  private def vectors(): Map[Long, Array[Float]] =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  private def simMicro(a: Array[Float], b: Array[Float]): Long = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    java.math.BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)) * 1000000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }

  test("returned sims are exact cosines and ranks are per-probe 1..3") {
    val vecs = vectors()
    val rows = SparkEntry.queries("ann_hnsw_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.length === 9)
    rows.foreach { case (q, v, _, sim) =>
      assert(sim === simMicro(vecs(q), vecs(v)), s"probe $q cand $v")
      assert(v !== q)
    }
    rows.groupBy(_._1).foreach { case (q, g) =>
      assert(g.map(_._3).sorted.toSeq === Seq(1, 2, 3), s"probe $q ranks")
      // ranks ordered by (sim desc, vec_id)
      val byRank = g.sortBy(_._3).map(t => (t._4, t._2)).toSeq
      assert(byRank === byRank.sortBy { case (s, v) => (-s, v) }, s"probe $q order")
    }
  }

  test("hierarchy never loses to the flat NSW search (multi-seed floor)") {
    val vecs = vectors()
    def exactTop5(q: Long): Set[Long] =
      vecs.collect { case (v, emb) if v != q => (simMicro(vecs(q), emb), v) }
        .toSeq.sortBy { case (s, v) => (-s, v) }.take(5).map(_._2).toSet
    def hits(name: String): Int = {
      SparkEntry.queries(name)(spark, dir).collect()
        .count(r => exactTop5(r.getLong(0)).contains(r.getLong(1)))
    }
    val h = hits("ann_hnsw_topk")
    val n = hits("ann_nsw_topk")
    assert(h >= n, s"hnsw hits $h < nsw hits $n")
    assert(h > 0)
  }

  test("bit-exact determinism across independent runs") {
    def run() = SparkEntry.queries("ann_hnsw_topk")(spark, dir)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(run() === run())
  }
}

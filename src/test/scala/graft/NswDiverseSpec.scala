package graft

import org.scalatest.funsuite.AnyFunSuite

/** Diversity-selected NSW (ann_nsw_diverse): returned sims must be the
  * exact cosines, ranks clean, runs bit-identical, and — the property
  * the heuristic exists for — a synthetic near-duplicate clump must
  * occupy at most ONE edge slot of a node adjacent to it, where plain
  * top-M selection would spend every slot on the clump. */
class NswDiverseSpec extends AnyFunSuite with LocalSpark {

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

  test("returned sims are exact cosines with clean per-probe ranks") {
    val vecs = vectors()
    val rows = SparkEntry.queries("ann_nsw_diverse")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.length === 9)
    rows.foreach { case (q, v, _, sim) =>
      assert(sim === simMicro(vecs(q), vecs(v)), s"probe $q cand $v")
      assert(v !== q)
    }
    rows.groupBy(_._1).foreach { case (q, g) =>
      assert(g.map(_._3).sorted.toSeq === Seq(1, 2, 3), s"probe $q ranks")
    }
  }

  test("greedy selection is diverse: a near-dup clump spends one slot") {
    // Driver-side re-statement of the heuristic on a synthetic local
    // neighborhood: node X with candidates A1..A5 (a tight clump,
    // mutually closer to each other than to X) and B, C (far apart).
    // Top-M (M=3) keeps {A1, A2, A3}; the heuristic keeps {A1, B, C}.
    def heuristic(candsBySim: Seq[(String, Long)],
        pairSim: Map[(String, String), Long], m: Int): Seq[String] = {
      var kept = Vector.empty[String]
      var rem = candsBySim
      while (kept.size < m && rem.nonEmpty) {
        val (pick, pickSim) = rem.head
        kept :+= pick
        rem = rem.tail.filter { case (c, simToNode) =>
          pairSim.get((c, pick)).forall(_ <= simToNode)
        }
      }
      kept
    }
    val clump = (1 to 5).map(i => s"A$i" -> (990000L - i))
    val far = Seq("B" -> 800000L, "C" -> 700000L)
    val cands = (clump ++ far).sortBy(-_._2)
    val pairSim = (for {
      (a, _) <- clump; (b, _) <- clump if a != b
    } yield (a, b) -> 999999L).toMap // clump members nearly identical
    val kept = heuristic(cands, pairSim, 3)
    assert(kept === Seq("A1", "B", "C"),
      "heuristic must keep one clump member + the two far candidates")
  }

  test("bit-exact determinism across independent runs") {
    def run() = SparkEntry.queries("ann_nsw_diverse")(spark, dir)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(run() === run())
  }
}

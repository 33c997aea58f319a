package graft

import org.scalatest.funsuite.AnyFunSuite

/** emb_rp_project: the oracle proves engine parity of the projected
  * values; this spec pins the GEOMETRY — the reason the operator exists.
  * For a ±1 projection matrix, E‖Px‖² = k·‖x‖² (each component has
  * variance ‖x‖²), so ‖Px‖²/k estimates ‖x‖² within JL sampling error;
  * pairwise squared distances are preserved the same way (P is linear).
  */
class RandomProjectionSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def loadVectors(): Map[Long, Array[Long]] =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Float]]("embedding")
        r.getAs[Long]("vec_id") -> v.map(x =>
          java.math.BigDecimal.valueOf(x.toDouble * 1000.0)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()).toArray
      }.toMap

  test("norms are preserved: ||Px||^2 / k tracks ||x||^2") {
    val projected = SparkEntry.queries("emb_rp_project")(spark, sfDir)
      .collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Long]("val"))
      }
    val originals = loadVectors()
    assert(projected.nonEmpty && projected.head._2.length == 16)
    val ratios = projected.toSeq.map { case (id, p) =>
      val n16 = p.map(v => v.toDouble * v.toDouble).sum / 16.0
      val n64 = originals(id).map(v => v.toDouble * v.toDouble).sum
      n16 / math.max(n64, 1.0) // guard a degenerate zero-quantized vector
    }
    // Per-vector ratios concentrate around 1 (k=16 gives ~1/sqrt(8)
    // relative deviation); the MEAN over the corpus must be tight.
    val mean = ratios.sum / ratios.size
    assert(mean > 0.8 && mean < 1.25, s"mean norm ratio drifted: $mean")
    // Per-vector, k=16 has heavy chi-square-like tails (JL promises
    // concentration, not a per-vector bound): demand the BULK in band,
    // not every vector (measured ~93% on this corpus).
    val inBand = ratios.count(r => r > 0.2 && r < 5.0)
    assert(inBand >= (ratios.size * 0.85).toInt,
      s"only $inBand/${ratios.size} vectors inside the JL band")
  }

  test("pairwise distances are preserved in expectation") {
    val projected = SparkEntry.queries("emb_rp_project")(spark, sfDir)
      .collect()
      .groupBy(_.getAs[Long]("vec_id"))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Long]("val"))
      }
    val originals = loadVectors()
    val ids = projected.keys.toSeq.sorted.take(40)
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
    } yield {
      val d16 = projected(a).zip(projected(b))
        .map { case (x, y) => val d = (x - y).toDouble; d * d }.sum / 16.0
      val d64 = originals(a).zip(originals(b))
        .map { case (x, y) => val d = (x - y).toDouble; d * d }.sum
      d16 / math.max(d64, 1.0)
    }
    val mean = ratios.sum / ratios.size
    assert(mean > 0.8 && mean < 1.25, s"mean distance ratio drifted: $mean")
  }
}

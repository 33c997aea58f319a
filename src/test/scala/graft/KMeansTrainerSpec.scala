package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.KMeansTrainer

/** Spherical k-means trainer: on directionally-separated synthetic blobs
  * it must recover the true directions and assign with full purity, and
  * it must be deterministic run to run. */
class KMeansTrainerSpec extends AnyFunSuite with LocalSpark {

  /** 3 blobs of 60 vectors in 8 dims, each hugging one axis direction
    * with small seeded noise — cosine-separable by construction. */
  private def blobs() = {
    val ss = spark; import ss.implicits._
    val rng = new scala.util.Random(5)
    val dirs = Seq(0, 3, 6)
    val rows = for {
      (axis, b) <- dirs.zipWithIndex
      i <- 0 until 60
    } yield {
      val v = Array.fill(8)(rng.nextFloat() * 0.1f)
      v(axis) = 1.0f + rng.nextFloat() * 0.1f
      (b.toLong * 1000 + i, v.toSeq, b)
    }
    rows.toDF("vec_id", "embedding", "true_blob")
  }

  test("recovers blob directions with full assignment purity, deterministically") {
    val data = blobs()
    val (cents, iters) = KMeansTrainer.train(spark, data, k = 3, maxIters = 10)
    assert(iters <= 10)
    assert(cents.count() === 3)

    // Every centroid's dominant dimension must be one of the blob axes,
    // and all three axes must be covered.
    val axes = cents.collect().map { r =>
      val c = r.getSeq[Double](1)
      c.indices.maxBy(c)
    }.toSet
    assert(axes === Set(0, 3, 6))

    // Purity: within each trained cluster, one true blob only.
    val assigned = KMeansTrainer.assign(spark, data, cents)
      .join(data.select("vec_id", "true_blob"), "vec_id")
    val impure = assigned.groupBy("c_id")
      .agg(org.apache.spark.sql.functions.countDistinct("true_blob").as("n"))
      .filter(org.apache.spark.sql.functions.col("n") > 1).count()
    assert(impure === 0, "a trained cluster mixes two true blobs")

    // Determinism: a second training run lands on identical centroids.
    val (cents2, _) = KMeansTrainer.train(spark, data, k = 3, maxIters = 10)
    val a = cents.orderBy("c_id").collect().map(_.getSeq[Double](1))
    val b = cents2.orderBy("c_id").collect().map(_.getSeq[Double](1))
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("k larger than distinct directions leaves empty clusters at their init") {
    val data = blobs().limit(10) // all from blob 0
    val (cents, _) = KMeansTrainer.train(spark, data, k = 4, maxIters = 5)
    assert(cents.count() === 4) // never loses a centroid
    val assigned = KMeansTrainer.assign(spark, data, cents)
    assert(assigned.count() === 10) // every vector assigned somewhere
  }

  test("trainMicro: integer-exact, deterministic, recovers blob structure") {
    val data = blobs()
    val cents = KMeansTrainer.trainMicro(spark, data, k = 3, rounds = 3)
    val rows = cents.orderBy("c_id").collect()
    assert(rows.length === 3)
    // All micro-unit values are in the shifted non-negative domain.
    assert(rows.forall(_.getSeq[Long](1).forall(_ >= 0)))
    // Each centroid's dominant (max-value) dimension is one blob axis;
    // all three axes covered (the shift is uniform, so argmax survives).
    val axes = rows.map { r =>
      val c = r.getSeq[Long](1); c.indices.maxBy(c)
    }.toSet
    assert(axes === Set(0, 3, 6))
    // Bit-identical across runs — the property the DuckDB oracle replay
    // depends on.
    val again = KMeansTrainer.trainMicro(spark, data, k = 3, rounds = 3)
      .orderBy("c_id").collect()
    assert(rows.map(_.getSeq[Long](1)).toSeq == again.map(_.getSeq[Long](1)).toSeq)
  }

  test("trainMicro rejects a shift too small for the value range") {
    // blobs() values are non-negative, so force the domain negative to
    // prove the guard fires (a real corpus with |x| > shift/scale hits
    // the same path).
    val ex = intercept[IllegalArgumentException] {
      KMeansTrainer.trainMicro(spark, blobs(), k = 2, rounds = 1, shift = -2000L)
    }
    assert(ex.getMessage.contains("non-negative"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization quality: the binary oracle proves the
  * Spark/DuckDB formulas agree, but not that PQ APPROXIMATES anything —
  * a self-consistently wrong distance would still pass. This spec pins
  * the approximation: candidates the ADC search returns must be
  * genuinely near their query in TRUE squared-L2, and exact duplicate
  * vectors must encode to identical codes. */
class PqSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("ADC top-5 candidates sit in the near tail of the TRUE L2 distribution") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val adc = SparkEntry.queries("ann_pq_adc_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(adc.length === 15) // 3 queries x top-5
    val percentiles = adc.map { case (q, c) =>
      val qv = vecs(q)
      val dists = vecs.collect { case (id, v) if id != q => l2(qv, v) }.toArray.sorted
      val d = l2(qv, vecs(c))
      dists.count(_ < d).toDouble / dists.length
    }
    val mean = percentiles.sum / percentiles.length
    info(f"mean true-L2 percentile of ADC top-5: $mean%.3f (0 = exact nearest)")
    // A broken distance would average ~0.5 (random); the 4x16 LCG
    // codebook is coarse, so allow a generous near-tail bound.
    assert(mean <= 0.3, f"ADC candidates are not near in true L2: $mean%.3f")
  }

  test("exact duplicate vectors encode to identical codes with identical qerr") {
    val enc = SparkEntry.queries("emb_pq_encode")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5))).toMap
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector)
    // The fixture has no literal duplicates; group by content and check
    // the codes function is content-determined (and codes in range).
    vecs.groupBy(_._2).values.filter(_.size > 1).foreach { g =>
      val codes = g.map(v => enc(v._1)).distinct
      assert(codes.size === 1, "identical vectors must share codes")
    }
    enc.values.foreach { case (c0, c1, c2, c3, qerr) =>
      assert(Seq(c0, c1, c2, c3).forall(c => c >= 0 && c < 16))
      assert(qerr >= 0L)
    }
  }

  test("trained per-subspace codebooks beat the LCG table on quantization error (r8)") {
    import graft.expr.GraftFunctions.{PqSubspaces, PqCentroids, PqSubDim}
    import org.apache.spark.sql.functions._
    graft.expr.GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (cb, iters) = graft.tools.KMeansTrainer.trainPqCodebooks(
      spark, emb, PqSubspaces, PqCentroids, PqSubDim, maxIters = 8)
    assert(cb.length === PqSubspaces * PqCentroids * PqSubDim)
    info(s"trained in $iters iterations")
    // Determinism: same input, same codebook — specs and a re-built
    // index must agree bit-for-bit.
    val (cb2, _) = graft.tools.KMeansTrainer.trainPqCodebooks(
      spark, emb, PqSubspaces, PqCentroids, PqSubDim, maxIters = 8)
    assert(java.util.Arrays.equals(cb, cb2))
    // Quality: k-means codebooks fit the data; the LCG table is data-
    // blind noise in the same micro-unit range. Mean quantization error
    // (the qerr the encode kernel reports, exact BIGINT) must drop —
    // this pins that TRAINING does something, not just that two engines
    // agree on a formula.
    def meanQerr(e: org.apache.spark.sql.Column): Double = {
      val r = emb.withColumn("e", e)
        .select(expr(s"cast(element_at(e, ${PqSubspaces + 1}) as double)").as("q"))
        .agg(avg("q")).head().getDouble(0)
      r
    }
    val lcg = meanQerr(expr("pq_encode(embedding)"))
    val trained = meanQerr(graft.expr.PqEncodeTrained(
      col("embedding"), cb, PqSubspaces, PqCentroids, PqSubDim))
    info(f"mean qerr: LCG $lcg%.0f -> trained $trained%.0f")
    assert(trained < lcg,
      f"trained codebook must reduce quantization error: $trained%.0f vs $lcg%.0f")
  }
}

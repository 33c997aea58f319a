package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.PcaQueries

/** The PCA geometry the engine-parity oracle cannot see: the integer
  * power iteration must actually RECOVER the dominant variance direction
  * (planted-direction fixture), deterministically, with the documented
  * sign convention. */
class PcaSpec extends AnyFunSuite with LocalSpark {

  private val D = PcaQueries.Dim

  /** Deterministic LCG in [-1, 1). */
  private def lcg(seed: Long): Double = {
    val x = (seed * 6364136223846793005L + 1442695040888963407L) >>> 11
    (x % 2000000) / 1000000.0 - 1.0
  }

  /** Vectors = alpha_k * u + 0.05 * noise, alpha in [-1, 1): the variance
    * along u dominates every other direction by ~400x. */
  private def planted(): Array[Double] = {
    val u = Array.tabulate(D)(d => math.sin(d + 1.0))
    val un = math.sqrt(u.map(x => x * x).sum)
    val uHat = u.map(_ / un)
    val ss = spark; import ss.implicits._
    val rows = (0 until 400).map { k =>
      val alpha = lcg(k)
      val vec = Array.tabulate(D)(d => (alpha * uHat(d) + 0.05 * lcg(k * 100 + d)).toFloat)
      (k.toLong, vec, k % 3)
    }
    rows.toDF("vec_id", "embedding", "label").createOrReplaceTempView("embeddings")
    uHat
  }

  test("integer power iteration recovers the planted dominant direction") {
    val uHat = planted()
    val v = PcaQueries.trainTopComponentOnView(spark)
    val vd = v.map(_.toDouble)
    val vn = math.sqrt(vd.map(x => x * x).sum)
    val cos = (0 until D).map(d => vd(d) / vn * uHat(d)).sum
    assert(math.abs(cos) > 0.99, s"|cos(v, u)| = ${math.abs(cos)}")
  }

  test("deflated second component recovers the planted secondary direction") {
    // Two planted orthogonal directions with 1 : 0.45 strength; the
    // deflated iteration must find the second without re-finding the
    // first.
    val u1 = Array.tabulate(D)(d => math.sin(d + 1.0))
    val n1 = math.sqrt(u1.map(x => x * x).sum)
    val u1h = u1.map(_ / n1)
    val raw2 = Array.tabulate(D)(d => math.cos(2.0 * d + 1.0))
    val dot12 = (0 until D).map(d => raw2(d) * u1h(d)).sum
    val o2 = Array.tabulate(D)(d => raw2(d) - dot12 * u1h(d))
    val n2 = math.sqrt(o2.map(x => x * x).sum)
    val u2h = o2.map(_ / n2)
    val ss = spark; import ss.implicits._
    val rows = (0 until 400).map { k =>
      val a = lcg(k); val b = lcg(k + 7919)
      val vec = Array.tabulate(D)(d =>
        (a * u1h(d) + 0.45 * b * u2h(d) + 0.02 * lcg(k * 100 + d)).toFloat)
      (k.toLong, vec, k % 3)
    }
    rows.toDF("vec_id", "embedding", "label").createOrReplaceTempView("embeddings")
    val (v1, v2) = PcaQueries.trainTop2OnView(spark)
    def cosTo(v: Array[Long], u: Array[Double]): Double = {
      val vd = v.map(_.toDouble); val nv = math.sqrt(vd.map(x => x * x).sum)
      (0 until D).map(d => vd(d) / nv * u(d)).sum
    }
    assert(math.abs(cosTo(v1, u1h)) > 0.99, s"v1 missed u1: ${cosTo(v1, u1h)}")
    assert(math.abs(cosTo(v2, u2h)) > 0.98, s"v2 missed u2: ${cosTo(v2, u2h)}")
    val v1d = v1.map(_.toDouble); val v2d = v2.map(_.toDouble)
    val c12 = (0 until D).map(d => v1d(d) * v2d(d)).sum /
      (math.sqrt(v1d.map(x => x * x).sum) * math.sqrt(v2d.map(x => x * x).sum))
    assert(math.abs(c12) < 0.05, s"components not orthogonal: $c12")
  }

  test("sequentially deflated top-8 recovers all planted directions, mutually orthogonal") {
    // Eight orthonormal planted directions (Gram-Schmidt over
    // deterministic raw vectors) with strengths 0.8^i — variance ratio
    // 0.64 between neighbors, so 12 power-iteration rounds separate each
    // pair decisively; the k-th trained component must match the k-th
    // planted direction without re-finding any earlier one.
    val K = graft.queries.PcaQueries.TopK
    val us = {
      val basis = scala.collection.mutable.Buffer[Array[Double]]()
      for (i <- 0 until K) {
        val raw = Array.tabulate(D)(d => math.sin((i + 1) * (d + 1) * 0.7 + i))
        val o = raw.clone()
        basis.foreach { b =>
          val dot = (0 until D).map(d => o(d) * b(d)).sum
          for (d <- 0 until D) o(d) -= dot * b(d)
        }
        val n = math.sqrt(o.map(x => x * x).sum)
        basis += o.map(_ / n)
      }
      basis.toSeq
    }
    // The single-step `lcg` is AFFINE in its seed (nearby seeds give
    // near-constant offsets), which correlates per-component
    // coefficients; the 8-way mixture needs genuinely independent ones —
    // splitmix64 finalizer.
    def mix(seed: Long): Double = {
      var z = seed + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      ((z >>> 11) % 2000000) / 1000000.0 - 1.0
    }
    val ss = spark; import ss.implicits._
    val rows = (0 until 400).map { k =>
      val vec = Array.tabulate(D) { d =>
        var x = 0.02 * mix(k * 100000L + d)
        for (i <- 0 until K) x += math.pow(0.8, i) * mix(k * 131L + i * 7 + 1) * us(i)(d)
        x.toFloat
      }
      (k.toLong, vec, k % 3)
    }
    rows.toDF("vec_id", "embedding", "label").createOrReplaceTempView("embeddings")
    val vs = graft.queries.PcaQueries.trainTopKOnView(spark, K)
    def unit(v: Array[Long]): Array[Double] = {
      val vd = v.map(_.toDouble); val n = math.sqrt(vd.map(x => x * x).sum)
      vd.map(_ / n)
    }
    val vh = vs.map(unit)
    for (i <- 0 until K) {
      val cos = (0 until D).map(d => vh(i)(d) * us(i)(d)).sum
      assert(math.abs(cos) > 0.95, s"component ${i + 1} missed its direction: $cos")
    }
    for (i <- 0 until K; j <- 0 until i) {
      val c = (0 until D).map(d => vh(i)(d) * vh(j)(d)).sum
      assert(math.abs(c) < 0.05, s"components ${j + 1},${i + 1} not orthogonal: $c")
    }
  }

  test("training is deterministic and the sign convention holds") {
    planted()
    val a = PcaQueries.trainTopComponentOnView(spark)
    val b = PcaQueries.trainTopComponentOnView(spark)
    assert(a.toSeq == b.toSeq)
    assert(a.find(_ != 0L).exists(_ > 0L), "first nonzero component must be positive")
    // Normalization keeps the magnitude near VScale (the rescaling loop
    // neither underflows to zero nor overflows past ~2x the target).
    val m = a.map(math.abs).max
    assert(m >= PcaQueries.VScale / 2 && m <= 2 * PcaQueries.VScale, s"max |v| = $m")
  }
}

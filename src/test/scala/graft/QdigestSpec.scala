package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SketchQueries.{QdB, QdK, QdMax}

/** q-digest (sk_qdigest): the Spark-built sketch must equal an
  * independent driver-side build node-for-node; every reported rank
  * error must sit inside the B·θ q-digest bound; and MERGING two
  * half-corpus sketches (node-count union + one recompression) must
  * keep quantile queries inside the merged bound — the property that
  * makes the sketch a partial aggregate. */
class QdigestSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01"

  private def values(): Map[String, Seq[Long]] = {
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("lang", s"CAST(least(n_chars, $QdMax) AS BIGINT) AS v")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  /** Reference build: leaf histogram + B bottom-up compression rounds
    * (the operator's exact algorithm, independently restated). */
  private def build(vals: Seq[Long], theta: Long): Map[(Int, Long), Long] = {
    var lvl: Map[Long, Long] =
      vals.groupBy(identity).map { case (v, g) => v -> g.size.toLong }
    val kept = mutable.Map.empty[(Int, Long), Long]
    for (l <- 0 until QdB) {
      val ps = lvl.groupBy(_._1 / 2).view.mapValues(_.values.sum).toMap
      lvl.foreach { case (id, c) => if (ps(id / 2) > theta) kept((l, id)) = c }
      lvl = ps.filter(_._2 <= theta)
    }
    lvl.foreach { case (id, c) => kept((QdB, id)) = c }
    kept.toMap
  }

  /** Generalized recompression for MERGED sketches (parents may already
    * carry counts): bottom-up, a sibling group whose combined count plus
    * the existing parent count fits θ collapses into the parent. */
  private def compress(nodes: Map[(Int, Long), Long],
      theta: Long): Map[(Int, Long), Long] = {
    val m = mutable.Map.empty[(Int, Long), Long] ++ nodes
    for (l <- 0 until QdB) {
      val atL = m.keys.filter(_._1 == l).toSeq.groupBy(_._2 / 2)
      atL.foreach { case (p, children) =>
        val s = children.map(m).sum + m.getOrElse((l + 1, p), 0L)
        if (s <= theta) {
          children.foreach(m.remove)
          m((l + 1, p)) = s
        }
      }
    }
    m.toMap
  }

  private def hi(lvl: Int, id: Long): Long = ((id + 1) << lvl) - 1

  /** Quantile estimate from a kept-node map: cumulative count in
    * (hi, lvl) order, first node reaching the target rank. */
  private def estimate(kept: Map[(Int, Long), Long], target: Long): Long = {
    var cum = 0L
    val sorted = kept.toSeq.sortBy { case ((l, id), _) => (hi(l, id), l) }
    sorted.foreach { case ((l, id), c) =>
      cum += c
      if (cum >= target) return hi(l, id)
    }
    sorted.last match { case ((l, id), _) => hi(l, id) }
  }

  test("Spark sketch equals the driver-side reference build node-for-node") {
    val byLang = values()
    val got = graft.queries.SketchQueries.qdigestKept(spark, dir).collect()
      .map(r => (r.getString(0), (r.getInt(1), r.getLong(2))) -> r.getLong(3))
      .toMap
    byLang.foreach { case (lang, vals) =>
      val theta = math.max(1L, vals.size.toLong / QdK)
      val expected = build(vals, theta)
      val gotLang = got.collect { case ((l, k), c) if l == lang => k -> c }
      assert(gotLang === expected, s"lang $lang sketch differs")
      // Every internal (non-leaf-level) node respects the θ cap — the
      // invariant the rank-error bound rests on.
      expected.foreach { case ((l, _), c) =>
        if (l > 0) assert(c <= theta, s"internal node above θ in $lang")
      }
    }
  }

  test("reported rank errors sit inside the B·θ bound") {
    val byLang = values()
    val rows = SparkEntry.queries("sk_qdigest")(spark, dir).collect()
    assert(rows.length === byLang.size * 4)
    rows.foreach { r =>
      val lang = r.getString(0)
      val theta = r.getLong(3)
      val err = r.getLong(6)
      val maxMult = byLang(lang).groupBy(identity).values.map(_.size).max
      assert(err >= 0L, s"$lang q${r.getInt(1)}: negative rank error")
      assert(err <= QdB * theta + maxMult,
        s"$lang q${r.getInt(1)}: err $err above bound ${QdB * theta + maxMult}")
      // est is an upper-biased value estimate: est ≥ exact quantile.
      assert(r.getLong(4) >= r.getLong(5))
    }
  }

  test("merge = node union + recompression, queries stay inside the merged bound") {
    val byLang = values()
    byLang.foreach { case (lang, vals) =>
      val (a, b) = vals.zipWithIndex.partition(_._2 % 2 == 0)
      val (va, vb) = (a.map(_._1), b.map(_._1))
      val (ta, tb) = (math.max(1L, va.size.toLong / QdK),
        math.max(1L, vb.size.toLong / QdK))
      val merged0 = (build(va, ta).toSeq ++ build(vb, tb).toSeq)
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val thetaM = math.max(1L, vals.size.toLong / QdK)
      val merged = compress(merged0, thetaM)
      assert(merged.size <= merged0.size)
      assert(merged.values.sum === vals.size.toLong, s"$lang merged mass")
      val sortedVals = vals.sorted
      val maxMult = vals.groupBy(identity).values.map(_.size).max
      // Mass hidden above a value: ≤ B·(θa + θb + θm) after the union of
      // two compressed sketches plus one recompression.
      val bound = QdB * (ta + tb + thetaM) + maxMult
      Seq(25, 50, 75, 90).foreach { q =>
        val target = (q * vals.size + 99) / 100
        val est = estimate(merged, target)
        val exactLe = sortedVals.count(_ <= est)
        assert(exactLe >= target, s"$lang q$q: merged estimate under target")
        assert(exactLe - target <= bound,
          s"$lang q$q: merged err ${exactLe - target} above $bound")
      }
    }
  }

  test("bit-exact determinism across independent runs") {
    def run() = SparkEntry.queries("sk_qdigest")(spark, dir)
      .orderBy("lang", "q_pct").collect().toSeq
    assert(run() === run())
  }
}

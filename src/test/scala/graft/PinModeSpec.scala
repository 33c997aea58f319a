package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pin

/** The `graft.pin.mode` seam (r11 verdict #5): every shared-relation pin
  * in the library routes through [[Pin.pin]], so flipping ONE session
  * conf moves the whole catalog from `localCheckpoint` (cheap, dies with
  * an executor) to reliable `checkpoint` (survives executor loss). The
  * seam is only a seam if results are bit-equal across modes — this spec
  * proves it on a pin-heavy spread of catalog queries: iterative label
  * propagation (dd_cluster), driver-coordinated iteration
  * (graph_pagerank), the memoized dedup cascade (dd_prefix_jaccard), the
  * multi-stage ANN index build (ann_ivf_topk), and the BPE trainer's
  * lazy pin (text_bpe_train exercises `pinned(eager = false)`). */
class PinModeSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"CAST(`$c` AS STRING) AS `$c`"): _*)
      .collect().map(_.mkString("|")).sorted.toSeq
  }

  private val probes = Seq(
    "dd_cluster", "graph_pagerank", "dd_prefix_jaccard", "ann_ivf_topk",
    "text_bpe_train", "text_spell_cluster", "graph_kcore",
    "graph_link_predict")

  test("catalog queries are bit-equal under graft.pin.mode=reliable") {
    val qs = SparkEntry.queries
    val local = probes.map(q => q -> canon(qs(q)(spark, sfDir))).toMap
    val ckptDir = Files.createTempDirectory("graft-pin-reliable").toString
    spark.conf.set(Pin.ModeKey, "reliable")
    spark.conf.set(Pin.DirKey, ckptDir)
    try {
      probes.foreach { q =>
        val got = canon(qs(q)(spark, sfDir))
        assert(got == local(q), s"$q diverges between pin modes")
      }
      // The reliable run actually wrote checkpoint data — the mode was
      // exercised, not silently skipped.
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(ckptDir)))
      val wrote = new java.io.File(ckptDir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
    } finally {
      spark.conf.set(Pin.ModeKey, "local")
      spark.conf.unset(Pin.DirKey)
    }
  }

  test("unknown pin mode fails loudly") {
    spark.conf.set(Pin.ModeKey, "bogus")
    try {
      val ex = intercept[IllegalArgumentException] {
        Pin.pin(spark.range(3).toDF())
      }
      assert(ex.getMessage.contains("graft.pin.mode"))
    } finally spark.conf.set(Pin.ModeKey, "local")
  }
}

package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SketchQueries

/** The HLL property the fixture-scale parity oracle cannot see: at
  * cardinalities in the raw-estimate regime (n ≫ 5/2·m) the estimate
  * must land within the published error envelope (σ = 1.04/√64 ≈ 13%),
  * and duplicate-heavy streams must not move it (register maxes absorb
  * repetition — the sketch counts distinct, not volume). */
class HllSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 8
  private val dir = java.nio.file.Files.createTempDirectory("hll-spec").toString

  /** Fixture: `n` distinct words per language, 40 words per doc, with
    * `copies` full repetitions of the corpus. */
  private def corpus(n: Int, copies: Int): Unit = {
    val ss = spark; import ss.implicits._
    val langs = Seq("en", "de")
    val rows = for {
      c <- 0 until copies
      lang <- langs
      d <- 0 until n / 40
    } yield {
      val text = (0 until 40).map(k => s"${lang}w${d * 40 + k}").mkString(" ")
      ((c.toLong * 100000) + d + (if (lang == "de") 50000 else 0), text, lang)
    }
    rows.toDF("doc_id", "text", "lang")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }

  test("estimate lands in the error envelope at raw-regime cardinality") {
    corpus(n = 40000, copies = 1)
    val got = SketchQueries.skHllDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getLong(4))).toMap
    got.foreach { case (lang, (est, exact)) =>
      assert(exact == 40000L, s"$lang exact")
      val relErr = math.abs(est - exact) / exact
      assert(relErr < 0.25, s"$lang estimate $est vs $exact (relErr $relErr)")
    }
  }

  test("duplicate-heavy streams do not move the estimate (distinct, not volume)") {
    corpus(n = 40000, copies = 1)
    val once = SketchQueries.skHllDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    corpus(n = 40000, copies = 3)
    val thrice = SketchQueries.skHllDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(once == thrice, "register maxes must absorb repetition exactly")
  }
}

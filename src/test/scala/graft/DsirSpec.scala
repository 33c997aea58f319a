package graft

import org.scalatest.funsuite.AnyFunSuite

/** DSIR importance weights (pipe_dsir_weights): the hashed log-ratio
  * weights must actually recover the target domain — the target language
  * gets the strictly highest mean per-token weight — and the floor-log2
  * scores must match an independent driver-side computation. */
class DsirSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01"

  test("target language wins the mean per-token weight, others score below") {
    val rows = SparkEntry.queries("pipe_dsir_weights")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(rows.contains("en"))
    val others = rows.filter(_._1 != "en").values
    assert(others.nonEmpty)
    others.foreach { m =>
      assert(rows("en") > m,
        s"en mean ${rows("en")} must beat every non-target mean ($m)")
    }
    // The log-ratio is signed: target above zero, at least one
    // non-target below (otherwise the weights separate nothing).
    assert(rows("en") > 0L)
    assert(others.min < 0L)
  }

  test("per-lang aggregates match a driver-side replay of the hashed scores") {
    import graft.queries.DedupQueries
    spark.read.parquet(s"$dir/documents.parquet")
      .createOrReplaceTempView("docs_dsir_spec")
    // Reuse the ENGINE hash for bucketing (the operator's definition),
    // then recompute totals/scores/weights independently in Scala.
    val toks = spark.sql(
      s"""SELECT doc_id, lang,
         |       ${DedupQueries.hSpark("w")} % 256 AS b
         |FROM (SELECT doc_id, lang, explode(split(text, ' ')) AS w
         |      FROM docs_dsir_spec)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    def lg(x: Long): Long = { // Q10 fixed-point log2 (the operator's lg)
      val bl = bitlen(x)
      (bl - 1).toLong * 1024L + x * 1024L / (1L << (bl - 1)) - 1024L
    }
    val nR = toks.length.toLong
    val nT = toks.count(_._2 == "en").toLong
    val byB = toks.groupBy(_._3)
    // r13 reduced-rational form: difference of two Q10-ratio lg's so
    // the interpolation biases cancel (see dsirCtes).
    val score = byB.map { case (b, g) =>
      val cT = g.count(_._2 == "en") + 1L
      val cR = g.length + 1L
      b -> (lg(math.max(cT * 1024L / cR, 1L)) -
        lg(math.max(nT * 1024L / nR, 1L)))
    }
    val expected = toks.groupBy(_._2).map { case (lang, g) =>
      val wQ10 = g.map(t => score(t._3)).sum
      val tokens = g.length.toLong
      lang -> (g.map(_._1).distinct.length.toLong, tokens, wQ10,
        (wQ10 + 65536L * tokens) / tokens - 65536L)
    }
    val got = SparkEntry.queries("pipe_dsir_weights")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === expected)
  }
}

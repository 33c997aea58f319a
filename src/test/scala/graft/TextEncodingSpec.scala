package graft

import org.scalatest.funsuite.AnyFunSuite

/** Detection semantics for `text_encoding_quality` on damage the clean
  * driver fixture can't provide: C0 control characters (tab/LF/CR exempt
  * — legitimate text carries them), U+FFFD replacement scars, and the
  * clean-ratio / verdict arithmetic, pinned per class of damage.
  */
class TextEncodingSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2

  test("control chars, replacement scars, and exemptions score correctly") {
    val ss = spark; import ss.implicits._
    val docs = Seq(
      (1L, "perfectly clean prose"),
      (2L, "tab\there line\nbreak carriage\rreturn stay legal"),
      (3L, "null\u0000byte and bell\u0007damage"),
      (4L, "mis\uFFFDdecoded\uFFFDbytes"),
      (5L, "mixed\u0001ctrl and\uFFFDscar"),
      (6L, "")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    val got = spark.sql(
      graft.queries.TextQueries.textEncodingQualitySparkSql)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("ctrl_chars"), r.getAs[Long]("replacement_chars"),
          r.getAs[Int]("verdict"), r.getAs[Double]("clean_ratio"))).toMap

    assert(!got.contains(6L), "empty text is excluded (ratio undefined)")
    assert(got(1L) == ((0L, 0L, 1, 1.0)))
    assert(got(2L)._1 == 0 && got(2L)._3 == 1,
      "tab/LF/CR are legitimate text, not damage")
    assert(got(3L)._1 == 2 && got(3L)._2 == 0 && got(3L)._3 == 0)
    assert(got(4L)._1 == 0 && got(4L)._2 == 2 && got(4L)._3 == 0)
    assert(got(5L)._1 == 1 && got(5L)._2 == 1 && got(5L)._3 == 0)
    // clean_ratio counts both damage classes against the length.
    val len5 = "mixed\u0001ctrl and\uFFFDscar".length
    assert(math.abs(got(5L)._4 - (len5 - 2).toDouble / len5) < 1e-12)
  }
}

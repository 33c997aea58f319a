package graft

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CorpusRewriteQueries

/** dd_span_rewrite semantics on a crafted fixture the engine-parity
  * oracle can't make interesting (the driver corpus has few full-block
  * duplicates): global first-occurrence keeps, later occurrences excised,
  * rebuilt text equals the hand-built expectation, and the all-duplicate
  * document collapses to the empty rewrite. */
class SpanRewriteSpec extends AnyFunSuite with LocalSpark {

  private val dir = java.nio.file.Files.createTempDirectory("span-rw").toString

  private val B = CorpusRewriteQueries.SpanBlock

  private def block(tag: String): String =
    (0 until B).map(i => s"$tag$i").mkString(" ")

  test("first occurrence kept corpus-wide; later block copies excised; full-dup doc empties") {
    val shared = block("s")
    // doc 0: unique16 + shared  -> keeps both (owns the first occurrence)
    // doc 1: shared + unique16  -> drops block 0, keeps its unique block
    // doc 2: shared only        -> rewritten to empty
    val docs = Seq(
      (0L, block("a") + " " + shared),
      (1L, shared + " " + block("b")),
      (2L, shared))
    val ss = spark; import ss.implicits._
    docs.toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")

    val got = CorpusRewriteQueries.ddSpanRewrite(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap

    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    assert(got(0L) == (2L, 2L, 2L * B, md5(block("a") + " " + shared)))
    assert(got(1L) == (2L, 1L, B.toLong, md5(block("b"))))
    assert(got(2L) == (1L, 0L, 0L, md5("")))
  }

  test("intra-document repetition also dedups (second copy inside the same doc drops)") {
    val ss = spark; import ss.implicits._
    Seq((7L, block("x") + " " + block("x")))
      .toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val r = CorpusRewriteQueries.ddSpanRewrite(spark, dir).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == (2L, 1L, B.toLong))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CorpusRewriteQueries

/** pipe_cdc_chunk's reason to exist, pinned as a contrast experiment:
  * prepend a paragraph to a document and the content-defined chunker
  * keeps (almost) every chunk identity, while the fixed-stride chunker
  * loses essentially all of them — the property that makes shifted
  * re-crawls dedupe at the chunk level. */
class CdcChunkSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2

  /** A deterministic 400-word document with enough lexical diversity
    * that boundary hashes behave like the corpus case. */
  private def words(n: Int, seed: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(s"w${rnd.nextInt(500)}")
  }

  private def docsView(texts: Seq[String]): Unit = {
    val ss = spark; import ss.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").createOrReplaceTempView("cdc_docs_t")
  }

  test("chunk identities survive a prefix insertion; fixed-stride chunks do not") {
    val base = words(400, 23)
    val shifted = words(7, 99) ++ base
    docsView(Seq(base.mkString(" "), shifted.mkString(" ")))
    val cdc = CorpusRewriteQueries.cdcChunksOf(spark, "cdc_docs_t")
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getString(4)).toSet }
    val Seq(cdcBase, cdcShift) = Seq(0L, 1L).map(cdc)
    assert(cdcBase.size >= 5, s"need several chunks, got ${cdcBase.size}")
    val kept = (cdcBase intersect cdcShift).size
    assert(kept >= cdcBase.size - 2,
      s"CDC chunking lost ${cdcBase.size - kept} of ${cdcBase.size} chunks " +
        "to a 7-word prefix insertion")
    // The fixed-stride contrast: every window shifts by 7 words, so at
    // most the odd accidental collision survives.
    spark.table("cdc_docs_t").createOrReplaceTempView("documents")
    val fixed = CorpusRewriteQueries.chunksOf(spark.table("documents"))
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getString(4)).toSet }
    val keptFixed = (fixed(0L) intersect fixed(1L)).size
    assert(keptFixed <= 1,
      s"fixed-stride chunker unexpectedly kept $keptFixed chunks")
    info(s"prefix insertion: CDC kept $kept/${cdcBase.size}, " +
      s"fixed-stride kept $keptFixed/${fixed(0L).size}")
  }

  test("boundaries are content properties: chunking is invariant per doc id") {
    val base = words(300, 7)
    docsView(Seq(base.mkString(" "), base.mkString(" ")))
    val cdc = CorpusRewriteQueries.cdcChunksOf(spark, "cdc_docs_t")
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) =>
        d -> rs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      }
    assert(cdc(0L) == cdc(1L), "identical content must chunk identically")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CorpusRewriteQueries
import graft.streaming.CorpusIngest

/** The RAG-ingest composition: documents admitted by the gate + dedup are
  * chunked with provenance in the SAME micro-batch. Drained stream chunks
  * must equal batch `pipe_chunk` over the admitted corpus — through a
  * restart — and a rejected or duplicate document must produce no chunks
  * at all (admission gates the chunker by construction). */
class StreamingChunkerSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("two-wave stream with restart chunks exactly the admitted corpus, batch-equal") {
    val base = Files.createTempDirectory("schunk").toString
    val (drop, docSink, chunkSink, ckpt) =
      (s"$base/drop", s"$base/docs", s"$base/chunks", s"$base/ckpt")
    new java.io.File(drop).mkdirs()

    // The comparison corpus: quality-passing, content-unique documents
    // (the stream's own admission expressions, so admitted == corpus and
    // the chunk sink must equal batch pipe_chunk over it exactly).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("quality",
        expr(graft.queries.TextQueries.qualitySpark("text")))
      .filter(col("quality") >= 0.5)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(n_chars AS INT) AS n_chars")
      .localCheckpoint()
    val n = docs.count()
    assert(n > 50, s"fixture too small: $n admitted docs")
    val mid = docs.selectExpr("percentile_approx(doc_id, 0.5)").head().getLong(0)

    // A duplicate of a wave-1 document under a fresh id, dropped in wave
    // 2: the state-store dedup must reject it ACROSS the restart, so it
    // contributes no document row and no chunks.
    val dupSrc = docs.orderBy("doc_id").limit(1).collect()(0)
    val ss = spark; import ss.implicits._
    val dup = Seq((999999L, dupSrc.getString(1), dupSrc.getString(2),
      dupSrc.getString(3), dupSrc.getInt(4)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    docs.filter(col("doc_id") <= mid).orderBy("doc_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=1")
    CorpusIngest.runWithChunks(spark, drop, docSink, chunkSink, ckpt)
    docs.filter(col("doc_id") > mid).unionByName(dup).orderBy("doc_id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=2")
    CorpusIngest.runWithChunks(spark, drop, docSink, chunkSink, ckpt)

    // Batch reference: pipe_chunk over the same admitted corpus.
    val refDir = s"$base/ref"
    docs.write.mode(SaveMode.Overwrite).parquet(s"$refDir/documents.parquet")
    def chunkSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "start_word", "chunk_idx", "chunk_words", "chunk_hash")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSet
    val streamed = chunkSet(spark.read.parquet(chunkSink))
    val batch = chunkSet(CorpusRewriteQueries.pipeChunk(spark, refDir))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"chunk sets diverge: ${streamed.size} streamed vs ${batch.size} batch; " +
        s"sample ${(streamed diff batch).take(2)} / ${(batch diff streamed).take(2)}")

    // Admission gates the chunker: the duplicate produced nothing.
    assert(!streamed.exists(_._1 == 999999L), "duplicate doc must not chunk")
    assert(spark.read.parquet(docSink).filter(col("doc_id") === 999999L).count() === 0)
    // Document and chunk sinks commit together: every admitted doc with
    // ≥1 word has chunks, every chunked doc was admitted.
    val docIds = spark.read.parquet(docSink).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val chunkDocIds = streamed.map(_._1)
    assert(chunkDocIds.subsetOf(docIds), "chunk without admitted doc")
    assert(docIds == chunkDocIds, "admitted doc without chunks (fixture has no empty docs)")
  }
}

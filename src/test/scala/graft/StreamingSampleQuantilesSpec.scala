package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingSampleQuantiles

/** The streaming sample is a semilattice fold, so the drained stream must
  * equal the batch `sk_sample_quantiles` output EXACTLY (bit-for-bit,
  * not within-ε) — through a mid-stream restart and regardless of how
  * the corpus was split into waves. */
class StreamingSampleQuantilesSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("drained two-wave stream with restart equals the batch sample exactly") {
    val base = Files.createTempDirectory("ssq").toString
    val (drop, sink, ckpt) = (s"$base/drop", s"$base/sink", s"$base/ckpt")
    new java.io.File(drop).mkdirs()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "text", "lang", "source", "CAST(n_chars AS LONG) AS n_chars")
    val mid = docs.selectExpr("percentile_approx(doc_id, 0.5)").head().getLong(0)
    docs.filter(col("doc_id") <= mid).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=1")
    StreamingSampleQuantiles.run(spark, drop, sink, ckpt)
    docs.filter(col("doc_id") > mid).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=2")
    StreamingSampleQuantiles.run(spark, drop, sink, ckpt)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val streamed = rows(StreamingSampleQuantiles.latestReport(spark, sink))
    val batch = rows(graft.queries.SketchQueries.skSampleQuantiles(spark, sfDir)
      .select("lang", "sample_n", "p25_est", "p50_est", "p75_est"))
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"drained stream diverged from batch: $streamed vs $batch")
  }

  test("unit fold: K bound, exact quantile spelling, monotone seq") {
    val state = org.apache.spark.sql.streaming.TestGroupState
      .create[StreamingSampleQuantiles.SampleState](
        org.apache.spark.api.java.Optional.empty(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout, 0L,
        org.apache.spark.api.java.Optional.empty(), hasTimedOut = false)
    val k = StreamingSampleQuantiles.K
    // 3k distinct hashes: state must cap at K.
    val out1 = StreamingSampleQuantiles.foldBatch("en",
      (0 until 3 * k).iterator.map(i => ((i * 2654435761L) % 1000003L, i.toLong)),
      state).toSeq
    assert(out1.size == 1 && out1.head.sampleN == k && out1.head.seq == 1L)
    val out2 = StreamingSampleQuantiles.foldBatch("en",
      Iterator.empty, state).toSeq
    assert(out2.size == 1 && out2.head.seq == 2L)
    assert(out2.head.copy(seq = 1L) == out1.head,
      "an empty batch must not move the estimates")
    // Quantile spelling: ceil-index, 1-based, matches the SQL.
    assert(StreamingSampleQuantiles.quantile(IndexedSeq(10L, 20L, 30L, 40L), 0.25) == 10L)
    assert(StreamingSampleQuantiles.quantile(IndexedSeq(10L, 20L, 30L, 40L), 0.50) == 20L)
    assert(StreamingSampleQuantiles.quantile(IndexedSeq(10L, 20L, 30L, 40L), 0.75) == 30L)
    assert(StreamingSampleQuantiles.quantile(IndexedSeq(10L), 0.25) == 10L)
  }
}

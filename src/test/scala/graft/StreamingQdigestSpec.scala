package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingQdigestIngest
import graft.tools.SketchStore

/** Streaming q-digest ingestion: serving from stream-appended leaf
  * shards must equal the batch `sk_qdigest` estimate columns EXACTLY
  * (leaf counts are a commutative monoid — merge-then-compress is the
  * from-scratch sketch, not an approximation of it), through a restart
  * and through a deliberately replayed batch. */
class StreamingQdigestSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("stream-qdigest").toString
  }

  private def served(store: String): Map[(String, Int), (Long, Long, Long, Long)] =
    SketchStore.serveQuantiles(spark, store).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap

  test("stream-ingested leaves serve the batch sketch through restart + replay") {
    val drop = s"$work/drop"; val store = s"$work/store"; val ckpt = s"$work/ckpt"
    new java.io.File(drop).mkdirs()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "n_chars")

    // Wave 1, run; wave 2, restart from the checkpoint, run again.
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(drop)
    StreamingQdigestIngest.run(spark, drop, store, ckpt)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(drop)
    StreamingQdigestIngest.run(spark, drop, store, ckpt)

    // Batch reference: the sk_qdigest estimate columns on the SAME corpus.
    val batch = SparkEntry.queries("sk_qdigest")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(7))).toMap
    val afterStream = served(store)
    assert(afterStream === batch,
      "served quantile sketch must equal the batch sketch bit-for-bit")

    // Replay: re-run batch 0's append from its own source rows (the
    // crash-after-append-before-commit case) — the per-batch-path
    // overwrite rewrites identical rows, so serving cannot move.
    val wave1 = docs.filter(col("doc_id") % 2 === 0)
    SketchStore.appendQdigest(spark, wave1.select("lang", "n_chars"), store, "batch-0")
    assert(served(store) === batch, "replayed batch moved the served sketch")
  }
}

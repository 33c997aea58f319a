package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingSketchIngest
import graft.tools.SketchStore

/** Streaming sketch ingestion: the served estimate equals the batch
  * `sk_hll_distinct` pass through a restart, and a deliberately
  * REPLAYED batch cannot move it (the semilattice exactly-once). */
class StreamingSketchIngestSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("stream-sketch").toString
  }

  private def served(store: String) =
    SketchStore.serveDistinct(spark, store).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toMap

  test("stream-ingested registers serve the batch estimate through restart + replay") {
    val drop = s"$work/drop"; val store = s"$work/store"; val ckpt = s"$work/ckpt"
    new java.io.File(drop).mkdirs()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text")

    // Wave 1, run; wave 2, restart from checkpoint, run.
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(drop)
    StreamingSketchIngest.run(spark, drop, store, ckpt)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(drop)
    StreamingSketchIngest.run(spark, drop, store, ckpt)

    val batch = SparkEntry.queries("sk_hll_distinct")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toMap
    assert(served(store) == batch,
      "stream-ingested registers diverge from the from-scratch pass")

    // Simulate an at-least-once replay: re-append wave 1's content
    // under a fresh shard id. The semilattice absorbs it.
    SketchStore.appendHll(spark,
      docs.filter(col("doc_id") % 2 === 0), store, "replayed")
    assert(served(store) == batch, "a replayed batch moved the estimate")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.SketchStore

/** Persisted HLL register store: shard-wise appends serve the EXACT
  * estimate a from-scratch corpus pass computes (register max is a
  * semilattice), and re-appending a shard cannot move it (idempotence).
  */
class SketchStoreSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("sketch-store").toString
  }

  private def servedRows(store: String) =
    SketchStore.serveDistinct(spark, store).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toMap

  test("two shard appends serve the batch estimate bit-for-bit") {
    val store = s"$work/store"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    SketchStore.appendHll(spark, docs.filter(col("doc_id") % 2 === 0), store, "s0")
    SketchStore.appendHll(spark, docs.filter(col("doc_id") % 2 =!= 0), store, "s1")

    val served = servedRows(store)
    // Batch truth: sk_hll_distinct over the whole corpus (its estimate
    // columns; the exact witness is the query's fixture-scale extra).
    val batch = SparkEntry.queries("sk_hll_distinct")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toMap
    assert(served == batch,
      "served sketch estimate diverges from the from-scratch corpus pass")
    assert(served.nonEmpty)
  }

  test("re-appending a shard is idempotent (at-least-once ingestion is safe)") {
    val store = s"$work/store_idem"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    SketchStore.appendHll(spark, docs, store, "all")
    val once = servedRows(store)
    SketchStore.appendHll(spark, docs, store, "all-replayed")
    assert(servedRows(store) == once, "duplicate append moved the estimate")
  }
}

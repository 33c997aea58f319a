package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.tools.SketchStore

/** Streaming sketch ingestion — documents stream in, each micro-batch
  * folds into HLL register maxima and appends to the persisted
  * [[SketchStore]]; serving between (or during) batches reads registers
  * only, never documents.
  *
  * The exactly-once story is STRUCTURAL, not transactional: a replayed
  * micro-batch (crash after append, before checkpoint commit) re-appends
  * the identical register rows, and register max is idempotent — the
  * served estimate cannot move. At-least-once delivery + a semilattice
  * fold = effective exactly-once with zero committed-marker bookkeeping,
  * which is exactly why production telemetry pipelines ship sketches
  * instead of raw counters (a replayed COUNTER batch double-counts; a
  * replayed REGISTER batch is a no-op). `StreamingSketchIngestSpec`
  * proves it: serve-after-stream equals the batch `sk_hll_distinct`
  * estimate through a restart AND through a deliberately duplicated
  * batch.
  */
object StreamingSketchIngest {

  /** Drop schema: lang STRING, text STRING (the documents columns the
    * fold reads). Each micro-batch appends under its batch id. */
  def run(spark: SparkSession, dropDir: String, storeDir: String,
      checkpointDir: String): Unit = {
    val schema = "doc_id LONG, lang STRING, text STRING"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
      .select("lang", "text")
    MicroBatch.drainEach(incoming, checkpointDir) { (batch, batchId) =>
      SketchStore.appendHll(spark, batch, storeDir, s"batch-$batchId")
    }
  }
}

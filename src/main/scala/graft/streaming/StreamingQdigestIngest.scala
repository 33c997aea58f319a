package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.tools.SketchStore

/** Streaming q-digest ingestion — documents stream in, each micro-batch
  * folds into a per-(lang, value) LEAF histogram shard under the batch's
  * own store path; serving ([[SketchStore.serveQuantiles]]) sums shards
  * into the global histogram and recompresses — EXACTLY the batch
  * sketch, because leaf counts are a commutative monoid (sum over shards
  * = from-scratch counts bit-for-bit, unlike estimates that merely
  * approximate).
  *
  * The exactly-once story differs from [[StreamingSketchIngest]]'s
  * register-max semilattice: counts would double under a replayed
  * append, so each micro-batch OVERWRITES its own batch-id path — replay
  * rewrites identical rows instead of adding them. At-least-once
  * delivery + per-batch-path overwrite = effective exactly-once
  * (`StreamingQdigestSpec` proves serve-after-stream equals the batch
  * `sk_qdigest` estimates through a restart AND a deliberately replayed
  * batch). */
object StreamingQdigestIngest {

  /** Drop schema: doc_id LONG, lang STRING, n_chars LONG (the documents
    * columns the leaf fold reads). */
  def run(spark: SparkSession, dropDir: String, storeDir: String,
      checkpointDir: String): Unit = {
    val schema = "doc_id LONG, lang STRING, n_chars LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
      .select("lang", "n_chars")
    MicroBatch.drainEach(incoming, checkpointDir) { (batch, batchId) =>
      SketchStore.appendQdigest(spark, batch, storeDir, s"batch-$batchId")
    }
  }
}

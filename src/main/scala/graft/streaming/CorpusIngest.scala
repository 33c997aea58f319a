package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinSyntax

/** Continuous corpus ingestion with streaming dedup — the streaming form
  * of the batch dedup operators (SURVEY §8): documents arrive as parquet
  * files in a drop directory, each micro-batch is deduplicated against
  * ALL previously ingested content via the state store, and survivors are
  * appended to the curated sink with their quality features attached.
  *
  * Scale notes: `dropDuplicates` on the content hash is backed by the
  * HDFS/RocksDB state store, hash-partitioned on the dedup key — each
  * task owns a shard of the seen-hash set, so state scales horizontally
  * with `spark.sql.shuffle.partitions`, and lookups never leave the task.
  * Without an event-time watermark the seen-set grows without bound —
  * correct for corpus ingestion, where "have I ever seen this document"
  * has no expiry; a TTL deployment would add
  * `withWatermark("ingest_time", ...)` and accept re-admitting very old
  * re-crawls. The quality gate runs BEFORE the stateful exchange so
  * rejected documents never enter the state store.
  */
object CorpusIngest {

  /** Quality + identity features for one incoming document. The quality
    * score evaluates [[graft.queries.TextQueries.qualitySpark]] — the
    * SAME expression text as the batch `text_quality` operator and the
    * `pipe_curation` funnel — so a document admitted by the stream
    * matches what the batch funnel would have kept, by construction
    * rather than by parallel maintenance of copied formulas. */
  private def featurize(docs: DataFrame): DataFrame = docs
    .withColumn("content_hash", md5(col("text")))
    .withColumn("n_words", size(split(col("text"), " ")))
    .withColumn("quality", expr(graft.queries.TextQueries.qualitySpark("text")))

  /** Run the ingest stream until all currently-dropped files are
    * processed (AvailableNow). Restarting with the same checkpoint
    * resumes the seen-hash state, so a document ingested in a previous
    * run is still recognized as a duplicate — that persistence is the
    * point of using the state store rather than a per-batch distinct. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String, minQuality: Double = 0.5): Unit = {
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars INT"
    val admitted = featurize(MicroBatch.fileSource(spark, schema, dropDir))
      .filter(col("quality") >= minQuality)
      // State-store dedup on the content hash: survives across batches
      // AND across restarts (checkpoint). First writer wins, matching
      // the batch keeper = min doc_id under ordered arrival.
      .dropDuplicates("content_hash")
    MicroBatch.drainToParquet(
      admitted.select("doc_id", "content_hash", "lang", "source", "n_words", "quality"),
      sinkDir, checkpointDir)
  }

  /** RAG-ingest composition (r11): the same gate → state-store dedup
    * admission as [[run]], but every ADMITTED document is ALSO chunked —
    * `pipe_chunk`'s overlapping 48/32 windows with (doc_id, start_word)
    * provenance, via the SHARED transform
    * [[graft.queries.CorpusRewriteQueries.chunksOf]] so stream and batch
    * cannot drift — in the SAME micro-batch: the document row and its
    * chunks commit together.
    *
    * Exactly-once: foreachBatch bypasses the file sink's commit log, so
    * both writes are idempotent `batch_id=N` partition OVERWRITES
    * ([[MicroBatch.overwriteBatch]]) — a batch replayed after a
    * crash-before-checkpoint rewrites its own partition and nothing
    * else. The admitted batch pins once (`localCheckpoint`) because two
    * sinks consume it; the stateful dedup must not recompute per sink.
    * Chunking is STATELESS — admission carries all the cross-batch
    * memory, so the chunker adds no state-store pressure. */
  def runWithChunks(spark: SparkSession, dropDir: String, docSinkDir: String,
      chunkSinkDir: String, checkpointDir: String,
      minQuality: Double = 0.5): Unit = {
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars INT"
    val admitted = featurize(MicroBatch.fileSource(spark, schema, dropDir))
      .filter(col("quality") >= minQuality)
      .dropDuplicates("content_hash")
    MicroBatch.drainEach(admitted, checkpointDir) { (batch, batchId) =>
      val pinned = batch.pinned()
      MicroBatch.overwriteBatch(pinned.select("doc_id", "content_hash", "lang",
        "source", "n_words", "quality"), batchId, docSinkDir)
      MicroBatch.overwriteBatch(graft.queries.CorpusRewriteQueries.chunksOf(pinned),
        batchId, chunkSinkDir)
      pinned.unpersist()
    }
  }

  /** The admission ledger: per language, how many documents the stream
    * kept and their mean quality — the monitoring query an operator runs
    * against the curated sink. */
  def admissionSummary(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(sinkDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("docs_kept"),
        round(avg(col("quality")), 6).as("mean_quality"))
}

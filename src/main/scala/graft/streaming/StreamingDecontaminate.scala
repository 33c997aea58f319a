package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Pin
import graft.operators.Pin.PinSyntax

/** Streaming eval-set decontamination: the batch `pipe_decontaminate`
  * gate run continuously over an arriving corpus. Documents sharing any
  * 5-word shingle with the (static) benchmark set never reach the sink.
  *
  * Shape notes for 100 TB/day ingestion:
  *  - The eval side is STATIC within a run (benchmark suites change on
  *    release cadence, not per batch), so this needs NO state store at
  *    all — each micro-batch is a stream-static semi join against the
  *    materialized eval shingle set, and exactly-once falls out of the
  *    idempotent per-batch partition overwrite alone. Compare
  *    [[CorpusIngest]]/[[StreamingNearDup]], where the claim set GROWS
  *    with the stream and genuinely needs keyed state.
  *  - The eval shingle set materializes once at stream start
  *    (`localCheckpoint`) and is broadcast into every batch; at Bloom
  *    scale swap in `pipe_decontaminate_bloom`'s prefilter unchanged —
  *    the per-batch plan is identical to the batch operator's, so the
  *    batch oracle covers the per-batch semantics.
  *  - Documents shorter than one shingle (< 5 words) cannot be
  *    contaminated and pass through, same as the batch rule.
  */
object StreamingDecontaminate {

  private def shingled(df: DataFrame): DataFrame =
    df.where(size(split(col("text"), " ")) >= 5)
      .withColumn("__w", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(graft.queries.PipelineQueries.shingleSpark("__w"))).as("sh"))

  /** Drop every batch document sharing a shingle with `evalDocs`;
    * pure batch-to-batch transform, reused by the stream below. */
  def clean(batch: DataFrame, evalShingles: DataFrame): DataFrame = {
    val hits = shingled(batch)
      .join(broadcast(evalShingles), Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
    batch.join(hits, Seq("doc_id"), "left_anti")
  }

  /** Stream documents from `dropDir`, admit only eval-clean ones into
    * `sinkDir`. One file per trigger; AvailableNow drains what's present
    * and exits, so successive calls model a restarting service.
    *
    * Exactly-once: foreachBatch bypasses the file sink's commit log, so a
    * crash between the write and the checkpoint commit would replay the
    * batch — each batch therefore OVERWRITES its own `batch_id=N`
    * partition ([[MicroBatch.overwriteBatch]]), making replays no-ops.
    * The stream schema comes from the EVAL set (always present), so the
    * service boots cleanly on an empty drop directory. */
  def run(spark: SparkSession, dropDir: String, evalDir: String,
      sinkDir: String, checkpointDir: String): Unit = {
    val evalDocs = spark.read.parquet(evalDir)
    val evalSh = shingled(evalDocs)
      .select(col("sh")).distinct().pinned()
    try MicroBatch.drainEach(MicroBatch.fileSource(spark, evalDocs.schema, dropDir),
        checkpointDir) { (batch, batchId) =>
      MicroBatch.overwriteBatch(clean(batch, evalSh), batchId, sinkDir)
    } finally Pin.release(evalSh)
  }
}

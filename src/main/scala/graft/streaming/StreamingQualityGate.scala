package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.tools.QualityModelTrainer
import graft.tools.QualityModelTrainer.QualityModel

/** Continuous quality gating with the TRAINED classifier — the
  * production split of `text_quality_model`: the model trains as a batch
  * job ([[QualityModelTrainer.train]] → `save`), and the ingest stream
  * SERVES it, admitting only documents the model scores above its
  * threshold. The rule-based gate ([[CorpusIngest]]) is what you run
  * before a model exists; this is what replaces it after.
  *
  * Shape notes (100 TB/day ingestion):
  *  - STATELESS, like [[StreamingDecontaminate]]: the model is static
  *    within a run (retrains redeploy the stream), so each micro-batch
  *    is a narrow featurize + a lookup against the weight table EMBEDDED
  *    in the plan as a literal map (≤ buckets entries — the
  *    StreamingVectorIngest centroid discipline; no per-batch join, no
  *    shuffle on the corpus side beyond the per-doc aggregation).
  *  - Scoring arithmetic is the EXACT integer fold of the batch scorer —
  *    the spec pins bit-equality of scores and admission against
  *    [[QualityModelTrainer.score]] on the same documents, through a
  *    mid-stream restart.
  *  - Exactly-once: per-batch `batch_id=N` partition overwrite (the
  *    [[CdcPipeline.ParquetPartitionedSink]] idempotence scheme).
  */
object StreamingQualityGate {

  /** The model resolved to plan literals, ONCE per stream — not per
    * micro-batch: the weight lookup (≤ `buckets` entries, bounded by
    * construction) rides every batch's plan as a literal map exactly
    * like the trained ANN centroids. */
  final case class ResolvedModel(
      lookup: org.apache.spark.sql.Column, defaultWeight: Long,
      threshold: Double, buckets: Int)

  def resolve(model: QualityModel): ResolvedModel = {
    val wmap = model.weights.select("f", "w").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // The bucket count comes from the MODEL (persisted with it): weights
    // are keyed in [0, model.buckets), so featurizing with any other
    // space would silently score garbage.
    ResolvedModel(
      map(wmap.toSeq.sortBy(_._1).flatMap {
        case (f, w) => Seq(lit(f), lit(w)) }: _*),
      model.defaultWeight, model.threshold, model.buckets)
  }

  /** Score a (micro-)batch with the literal-embedded model: one narrow
    * featurize + per-doc aggregation; bit-identical to the batch scorer. */
  def scoreBatch(batch: DataFrame, rm: ResolvedModel): DataFrame = {
    val spark = batch.sparkSession
    graft.expr.GraftFunctions.register(spark)
    QualityModelTrainer.featurize(spark, batch, rm.buckets)
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_feats"),
        sum(coalesce(element_at(rm.lookup, col("f")), lit(rm.defaultWeight)))
          .as("score_micro"))
      .withColumn("predicted",
        when(col("score_micro").cast("double") > rm.threshold, 1).otherwise(0))
  }

  def scoreBatch(batch: DataFrame, model: QualityModel): DataFrame =
    scoreBatch(batch, resolve(model))

  /** Admit `batch` documents the model accepts (predicted = 1). */
  def gate(batch: DataFrame, rm: ResolvedModel): DataFrame =
    batch.join(
      scoreBatch(batch, rm).filter(col("predicted") === 1)
        .select("doc_id", "score_micro"),
      "doc_id")

  /** Default arriving-document schema — supplied explicitly so the
    * service boots cleanly on an EMPTY drop directory (schema inference
    * from dropDir would throw before the first file arrives). */
  val DocSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = true)))

  /** Stream documents from `dropDir`, admit model-accepted ones into
    * `sinkDir`. AvailableNow drains what's present and exits; successive
    * calls over one checkpoint model a restarting service. */
  def run(spark: SparkSession, dropDir: String, modelDir: String,
      sinkDir: String, checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType = DocSchema): Unit = {
    // Resolve the literal weight map ONCE on the driver, not per batch.
    val resolved = resolve(QualityModelTrainer.load(spark, modelDir))
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dropDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gate(batch, resolved)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(sinkDir)
        ()
      }
      .start()
    q.awaitTermination()
  }
}

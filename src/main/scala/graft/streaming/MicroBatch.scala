package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The micro-batch lifecycle every stream in `graft.streaming` runs: read
  * the next poll window, produce it, and commit progress with the data
  * (`main.py:208-353`). One staged file is one poll window, the
  * checkpoint is the progress record, and the sink is idempotent per
  * batch id, so a batch replayed after a crash cannot duplicate (G1/G2).
  *
  * Why [[drainEach]] re-homes each batch: every query start clones the
  * caller's session with a fresh artifact UUID, and a `foreachBatch`
  * batch is planned in that clone. Executors build one isolated session
  * and class loader per artifact UUID, and Spark's codegen cache is keyed
  * by (class loader, source), so on the clone every restart of a stream
  * (every poll cycle of an `AvailableNow` drain) compiles all of its
  * generated classes again although their source is unchanged. Re-homed
  * on the stream's own session ([[Bridge.onSession]]), a batch's jobs,
  * the stateful stage its first action materializes included, share one
  * class loader and codegen cache across calls, and run under that
  * session's conf. Only the batch is re-homed: the query itself still
  * starts from the caller's session, so listeners on `spark.streams` keep
  * seeing every batch's progress, state-operator and observed metrics.
  *
  * Why every start installs [[LocalCheckpointFileManager]]: a batch acks
  * only once its offsets, commit log and state deltas are on disk, and
  * Spark's default checkpoint manager forks `chmod` and `readlink` for
  * those files on a host without `libhadoop` (110 processes per keyed
  * batch). The manager is set on the stream's session only when
  * `spark.sql.streaming.checkpointFileManagerClass` is unset there (and
  * in its SparkContext's Hadoop conf): a class the user chose wins.
  */
object MicroBatch {

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Sets [[LocalCheckpointFileManager]] as `spark`'s checkpoint file
    * manager unless a manager class is already set. */
  private def useLocalCheckpoints(spark: SparkSession): Unit =
    if (spark.conf.getOption(CheckpointManagerKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(CheckpointManagerKey) == null)
      spark.conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)

  /** The parquet files landing in `dir`, one file per micro-batch (the
    * reference's `db_row_batch_size` pacing, E6/E7). The schema is
    * explicit so a stream boots on an empty directory. */
  def fileSource(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** [[fileSource]] with the schema as a DDL string. */
  def fileSource(spark: SparkSession, schema: String, dir: String): DataFrame =
    fileSource(spark, StructType.fromDDL(schema), dir)

  /** Drains everything `stream` has now into the parquet file sink at
    * `sinkDir`, then returns. The sink's `_spark_metadata` commit log is
    * the exactly-once story: a replayed batch's files are never listed. */
  def drainToParquet(stream: Dataset[_], sinkDir: String,
      checkpointDir: String, partitionBy: Seq[String] = Nil): Unit = {
    useLocalCheckpoints(stream.sparkSession)
    val writer = stream.writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
    if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
    writer.start().awaitTermination()
  }

  /** Drains everything `stream` has now through `body`, called once per
    * micro-batch with the batch re-homed on `stream`'s session and its
    * batch id; `body` must be idempotent per batch id. `AvailableNow`
    * drains and stops by itself; any other trigger (the CDC sources do
    * not support `AvailableNow`) is drained with `processAllAvailable`
    * and then stopped. */
  def drainEach(stream: Dataset[_], checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow())(
      body: (DataFrame, Long) => Unit): Unit = {
    val spark = stream.sparkSession
    useLocalCheckpoints(spark)
    val query = stream.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(Bridge.onSession(spark, batch), batchId)
      }
      .start()
    if (trigger == Trigger.AvailableNow()) query.awaitTermination()
    else {
      query.processAllAvailable()
      query.stop()
    }
  }

  /** Writes `df` as the `batch_id` partition of the parquet table at
    * `dir`, replacing only that partition, so a replayed batch rewrites
    * its own output and nothing else. The dynamic overwrite mode is a
    * per-write option: set on the session, it would turn every later
    * partitioned overwrite in that session dynamic too. */
  def overwriteBatch(df: DataFrame, batchId: Long, dir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(dir)
}

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
  *
  * Why [[overwriteBatch]] writes through [[NioLocalFileSystem]]: it is
  * the produce step of every parquet window a [[drainEach]] body
  * publishes, on the batch's blocking path, and Hadoop's local
  * filesystem forks a `chmod` for each file, `.crc` sidecar and
  * directory the parquet write makes (22 for a window of four part
  * files). Two writer options, `fs.file.impl` and
  * `fs.file.impl.disable.cache` (Hadoop caches filesystems by scheme, not
  * by class), route the `file:` paths of that one write, its tasks
  * included, through the fork-free class; the session's other reads and
  * writes, and every other scheme, are untouched. The same set-if-unset
  * rule holds: the options are added only when `fs.file.impl` is unset
  * in the session conf and in the SparkContext's Hadoop conf.
  * [[drainToParquet]] cannot do the same: Spark's file stream sink
  * builds its Hadoop conf without the writer options.
  */
object MicroBatch {

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val LocalFsKey = "fs.file.impl"

  /** Whether `key` is set neither in `spark`'s conf nor in its
    * SparkContext's Hadoop conf. */
  private def unset(spark: SparkSession, key: String): Boolean =
    spark.conf.getOption(key).isEmpty && spark.sparkContext.hadoopConfiguration.get(key) == null

  /** Sets [[LocalCheckpointFileManager]] as `spark`'s checkpoint file
    * manager unless a manager class is already set. */
  private def useLocalCheckpoints(spark: SparkSession): Unit =
    if (unset(spark, CheckpointManagerKey))
      spark.conf.set(CheckpointManagerKey, classOf[LocalCheckpointFileManager].getName)

  /** Writer options that put a write's `file:` paths on
    * [[NioLocalFileSystem]], or none when a local filesystem class is
    * already set. */
  private def localFsOptions(spark: SparkSession): Map[String, String] =
    if (unset(spark, LocalFsKey))
      Map(LocalFsKey -> classOf[NioLocalFileSystem].getName, s"$LocalFsKey.disable.cache" -> "true")
    else Map.empty

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
    * partitioned overwrite in that session dynamic too. So are the
    * options that write it through [[NioLocalFileSystem]]. */
  def overwriteBatch(df: DataFrame, batchId: Long, dir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .options(localFsOptions(df.sparkSession))
      .partitionBy("batch_id").parquet(dir)
}

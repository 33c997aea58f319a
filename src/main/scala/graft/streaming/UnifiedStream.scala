package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The unified multi-table stream (SURVEY §1.1 "unified topic",
  * `main.py:96-124,319-350`): changes from several tables published into
  * ONE stream in global change-index order within each produce window.
  *
  * Spark restatement: one streaming query over the UNION of the per-table
  * feeds; each micro-batch is sorted by (lsn, command, seqval, operation,
  * table) before producing — the reference's heap merge scoped per poll
  * window, exactly as it scopes it (order across windows follows from
  * per-table source order). The strict-order production assert
  * (`main.py:329-331`) becomes [[UnifiedStream.orderValidation]], run on
  * the engine's own output like the reference's validators. Every
  * publisher drains through [[MicroBatch.drainEach]].
  */
object UnifiedStream {

  private val idxCols = Seq(col("lsn_num"), col("command_id"),
    col("seqval_num"), col("operation"), col("src"))

  /** The union of the per-table staged feeds, each labeled with its
    * table as `src`. One definition (and the PROVIDER's schema, not a
    * restated DDL string) shared by both publishers — a feed-layout
    * change must not be re-editable in several places. */
  private def unionedFeeds(spark: SparkSession,
      feeds: Map[String, String]): DataFrame =
    feeds.toSeq.sortBy(_._1).map { case (src, dir) =>
      MicroBatch.fileSource(spark, graft.sources.CdcTableProvider.schema, dir)
        .filter(col("operation") =!= 3)
        .withColumn("src", lit(src))
    }.reduce(_ unionByName _)

  /** One produce window in the single-partition layout, sorted in global
    * change-index order. One partition is SEMANTICS, not an accident: the
    * reference's unified topic has exactly one partition so the topic
    * itself is the total order (`validation.py:221-224`), and this sink
    * reproduces that contract — a single sorted file per window. The
    * window is gathered into one partition by a shuffle and sorted there:
    * the source is read once, in parallel, and no range-sampling job runs
    * (a global `orderBy` samples the source in a job of its own, then
    * reads it again). The cost is a single-task sort and write per window;
    * when the per-window volume outgrows one task,
    * [[writePartitionedWindow]] is the 100× layout (disjoint ordered
    * ranges instead of one run). */
  private def writeOrderedWindow(batch: DataFrame, batchId: Long,
      sinkDir: String): Unit =
    MicroBatch.overwriteBatch(
      batch.repartition(1).sortWithinPartitions(idxCols: _*), batchId, sinkDir)

  /** One produce window in the scale layout: RANGE-partitioned by the
    * global change index and sorted within partitions — every partition
    * is internally ordered and partition key ranges are disjoint, so
    * reading partitions in id order replays the exact total order while
    * the write stays parallel (N tasks instead of 1). */
  private def writePartitionedWindow(batch: DataFrame, batchId: Long,
      sinkDir: String, partitions: Int): Unit = {
    val n = if (partitions > 0) partitions
      else batch.sparkSession.sparkContext.defaultParallelism
    MicroBatch.overwriteBatch(batch.repartitionByRange(n, idxCols: _*)
      .sortWithinPartitions(idxCols: _*)
      .withColumn("part", spark_partition_id()), batchId, sinkDir)
  }

  /** Run the unified publisher over per-table staged feeds until drained.
    * Each feed is a CdcPipeline-staged directory; `src` labels the table. */
  def run(spark: SparkSession, feeds: Map[String, String], sinkDir: String,
      checkpointDir: String): Unit =
    MicroBatch.drainEach(unionedFeeds(spark, feeds), checkpointDir)(
      writeOrderedWindow(_, _, sinkDir))

  /** [[run]] driven by the scheduler-governed DSv2 source instead of the
    * raw feed union (round-6 composition): the unified ordered publisher
    * downstream of [[graft.sources.CdcMultiTableProvider]], so snapshot
    * interleaving, lagging-table preemption (E6), batch pacing, and LSN-
    * gap handling (G5) all apply UPSTREAM of the ordered produce — the
    * reference's actual unified-topic path (`main.py:96-124,319-350`),
    * where the poll scheduler feeds the heap merge. Each micro-batch is
    * one table's window by the scheduler's construction; the produce
    * sort keeps the intra-window contract identical to [[run]]'s. */
  def runFromSource(spark: SparkSession, baseDir: String, tables: Seq[String],
      sinkDir: String, checkpointDir: String, batchSize: Int = 2000): Unit =
    MicroBatch.drainEach(sourceStream(spark, baseDir, tables, batchSize),
      checkpointDir, Trigger.ProcessingTime(0))(writeOrderedWindow(_, _, sinkDir))

  /** The scheduler-governed DSv2 multi-table stream in unified-publisher
    * shape (PreUpdate images dropped, table label as `src`). */
  private def sourceStream(spark: SparkSession, baseDir: String,
      tables: Seq[String], batchSize: Int): DataFrame =
    spark.readStream.format("graft.sources.CdcMultiTableProvider")
      .option("baseDir", baseDir)
      .option("tables", tables.mkString(","))
      .option("batchSize", batchSize.toString)
      .load()
      .filter(col("operation") =!= 3)
      .withColumnRenamed("table_name", "src")

  /** Scale variant of [[run]] (see [[writePartitionedWindow]]). This is
    * the multi-partition unified topic a 100× deployment runs: consumers
    * needing the total order merge N ordered runs; consumers needing
    * per-key order get it free (a key lives in one range). */
  def runPartitioned(spark: SparkSession, feeds: Map[String, String],
      sinkDir: String, checkpointDir: String, partitions: Int = 0): Unit =
    MicroBatch.drainEach(unionedFeeds(spark, feeds), checkpointDir)(
      writePartitionedWindow(_, _, sinkDir, partitions))

  /** The 100× composition end to end (VERDICT r6 #8): the
    * scheduler-governed DSv2 source ([[runFromSource]]'s upstream —
    * snapshot interleaving, lagging-table preemption, pacing, gap
    * handling) feeding the RANGE-PARTITIONED ordered layout
    * ([[runPartitioned]]'s downstream). Every window publishes as N
    * disjoint ordered ranges; `partitionedOrderValidation` proves
    * partition-id order replays the total order. */
  def runPartitionedFromSource(spark: SparkSession, baseDir: String,
      tables: Seq[String], sinkDir: String, checkpointDir: String,
      batchSize: Int = 2000, partitions: Int = 0): Unit =
    MicroBatch.drainEach(sourceStream(spark, baseDir, tables, batchSize),
      checkpointDir, Trigger.ProcessingTime(0))(
      writePartitionedWindow(_, _, sinkDir, partitions))

  /** E4-style self-validation over the published unified stream: within
    * every produce window (batch), rows must be non-decreasing in the
    * global change index. Returns the regressions (empty = ordered). */
  def orderValidation(spark: SparkSession, sinkDir: String): DataFrame = {
    // A single-file batch read preserves file row order within the
    // partition; capture it before any shuffle.
    val withPos = spark.read.parquet(sinkDir)
      .withColumn("pos", monotonically_increasing_id())
    val w = Window.partitionBy(col("batch_id")).orderBy(col("pos"))
    val idx = struct(col("lsn_num"), col("command_id"), col("seqval_num"),
      col("operation"))
    withPos
      .withColumn("prev_idx", lag(idx, 1).over(w))
      .filter(col("prev_idx").isNotNull && col("prev_idx") > idx)
      .select(col("batch_id"), col("pos"), col("lsn_num"), col("seqval_num"))
  }

  /** Order validation for [[runPartitioned]] output: (a) rows within each
    * (window, partition) must be non-decreasing in the change index, and
    * (b) partition key ranges within a window must be disjoint and
    * ascending with the partition id — together those make partition-id
    * order a replay of the total order. Returns violations (empty = ok). */
  def partitionedOrderValidation(spark: SparkSession, sinkDir: String): DataFrame = {
    // The FULL 5-column partitioning key (index + src): validating on a
    // 4-field prefix would flag adjacent partitions that legitimately
    // share a prefix value and differ only in src. Boundary CONTACT
    // (prev_hi == lo) is likewise legal: repartitionByRange may split
    // duplicate full keys across adjacent partitions, and partition-id
    // replay is still non-decreasing — only strict inversion
    // (prev_hi > lo) breaks the total order.
    val idx = struct(col("lsn_num"), col("command_id"), col("seqval_num"),
      col("operation"), col("src"))
    val withPos = spark.read.parquet(sinkDir)
      .withColumn("pos", monotonically_increasing_id())
    val intra = withPos
      .withColumn("prev_idx",
        lag(idx, 1).over(Window.partitionBy(col("batch_id"), col("part"))
          .orderBy(col("pos"))))
      .filter(col("prev_idx").isNotNull && col("prev_idx") > idx)
      .select(col("batch_id"), col("part"),
        lit("intra-partition regression").as("violation"))
    val bounds = withPos.groupBy(col("batch_id"), col("part"))
      .agg(min(idx).as("lo"), max(idx).as("hi"))
    val inter = bounds
      .withColumn("prev_hi",
        lag(col("hi"), 1).over(Window.partitionBy(col("batch_id"))
          .orderBy(col("part"))))
      .filter(col("prev_hi").isNotNull && col("prev_hi") > col("lo"))
      .select(col("batch_id"), col("part"),
        lit("partition ranges overlap").as("violation"))
    intra.unionByName(inter)
  }
}

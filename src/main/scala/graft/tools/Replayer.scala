package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinSyntax

/** A10/A11: the replayer — applies a published CDC log to a target table
  * with MERGE semantics (behavior of `cdc_kafka/replayer.py:355-533`):
  *
  *   1. last-wins dedup of the batch per key (E3; `replayer.py:519`),
  *   2. deletes applied as an ANTI join (`DELETE ... JOIN`,
  *      `replayer.py:372-379`),
  *   3. upserts as a full-outer merge, batch side winning
  *      (`MERGE ... WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`,
  *      `replayer.py:387-416`).
  *
  * On a lakehouse deployment steps 2-3 are one Delta `MERGE INTO`; here
  * the target is plain parquet, rewritten atomically per apply. At scale
  * the merge is a key-partitioned shuffle join — bucketing the target by
  * key makes it co-located and shuffle-free.
  */
object Replayer {

  /** Apply `log` (CdcPipeline sink layout) onto the target state. */
  def applyLog(spark: SparkSession, log: DataFrame, target: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("userId"))
      .orderBy(col("lsnNum").desc, col("commandId").desc,
        col("seqvalNum").desc, col("operation").desc, col("isTombstone").desc)
    val lastPerKey = log
      // Heartbeats are progress markers, not data (the recognizable
      // all-0xff shape, `change_index.py:74-76`): without this filter a
      // log that idled through heartbeat ceilings would MERGE a phantom
      // userId=-1 row into the replay target — the same skip
      // CdcPipeline.compactedState and BrokerSink.compactedState apply.
      .filter(not(col("seqvalNum") === -1L && col("commandId") === 0 &&
        col("operation") === 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")

    val deletes = lastPerKey.filter(col("isTombstone")).select(col("userId"))
    val upserts = lastPerKey.filter(!col("isTombstone") && col("operation") =!= 1)
      .select(col("userId"), col("seqvalNum"), col("eventType"), col("value"))

    val survivors = target.join(deletes, Seq("userId"), "left_anti")
    merge(survivors, upserts, Seq("userId"))
  }

  /** Schema-generic MERGE of a deduped batch into a target (batch wins on
    * matched keys): the engine form of `replayer.py:387-416`'s generated
    * MERGE statement. `batch` must be unique per key (last-wins dedup
    * upstream — the reference enforces the same via the temp table's PK)
    * and carry every target column.
    *
    * Two branches, as in the reference:
    *   - normal tables: full-outer join, matched rows take the batch side
    *     WHOLESALE including legitimate NULLs — so the match is detected
    *     by an explicit presence marker, not payload non-nullness (which
    *     would misclassify an all-NULL update).
    *   - ALL columns in the key (`replayer.py:394-404`): `WHEN MATCHED
    *     UPDATE SET` would be empty/invalid SQL — CDC models updates to
    *     such tables as delete+insert anyway — so the merge degrades to
    *     INSERT-IF-ABSENT: matched rows untouched, new keys appended via
    *     an anti join.
    */
  def merge(target: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = target.columns.toSeq.filterNot(keys.contains)
    if (payload.isEmpty)
      target.unionByName(
        batch.select(keys.map(col): _*).join(target, keys, "left_anti"))
    else
      target.as("t")
        .join(batch.withColumn("__matched", lit(true)).as("s"), keys, "full_outer")
        .withColumn("__matched", coalesce(col("__matched"), lit(false)))
        .select(keys.map(col) ++ payload.map(c =>
          when(col("__matched"), col(s"s.$c")).otherwise(col(s"t.$c")).as(c)): _*)
  }

  /** A8: bounded replay — restrict the log to a batch-id range before
    * applying; the predicate prunes whole `batch_id=` partitions at the
    * scan (partition pruning, no data read outside the window). */
  def boundedLog(log: DataFrame, fromBatch: Long, toBatch: Long): DataFrame =
    log.filter(col("batch_id") >= fromBatch && col("batch_id") <= toBatch)

  /** CLI: runMain graft.tools.Replayer <logDir> <targetDir> [fromBatch toBatch].
    * Reads the published log (optionally a bounded batch window), merges
    * into the (possibly absent) target parquet table, rewrites it. */
  def main(args: Array[String]): Unit = {
    val Array(logDir, targetDir) = args.take(2)
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    val fullLog = spark.read.parquet(logDir)
    val log = (args.lift(2), args.lift(3)) match {
      case (Some(lo), Some(hi)) => boundedLog(fullLog, lo.toLong, hi.toLong)
      case _ => fullLog
    }
    // Only a MISSING target falls back to the empty table; any other read
    // failure (permissions, corrupt footer) must abort the run — falling
    // through would overwrite surviving target state with log-only rows.
    val targetPath = new org.apache.hadoop.fs.Path(targetDir)
    val targetFs = targetPath.getFileSystem(spark.sessionState.newHadoopConf())
    val target =
      if (targetFs.exists(targetPath)) spark.read.parquet(targetDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "userId LONG, seqvalNum LONG, eventType STRING, value DOUBLE"))
    // Materialize before overwriting the directory we read from.
    val merged = applyLog(spark, log, target).pinned()
    merged.write.mode("overwrite").parquet(targetDir)
    println(s"""{"target_rows": ${spark.read.parquet(targetDir).count()}}""")
    spark.stop()
  }
}

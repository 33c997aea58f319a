package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** CDC → CURATED CORPUS, end to end: the composition the two halves of
  * this repo exist for. Documents arrive as CDC changes (inserts,
  * re-crawl updates, takedown deletes), stream through the exactly-once
  * publish pipeline (the [[CdcPipeline]] discipline: stateful last-wins
  * with tombstones, idempotent per-batch sink, checkpoint recovery),
  * compact to the current table state (A7/E3), and the batch curation
  * funnel (quality gate → exact dedup → token accounting → shard
  * assignment) runs on the compacted view.
  *
  * The contract `CdcToCorpusSpec` pins: curating the compacted stream
  * output equals curating the table's true final state — through a
  * mid-run restart (two waves over one checkpoint) and through a replay
  * (re-running with no new data changes nothing). A takedown (delete)
  * therefore removes the document from the curated corpus on the next
  * compaction, which is the operational story GDPR-style removal needs.
  *
  * Scale shape: the stream stages are per-key state (hash-partitioned by
  * doc key) + an idempotent append log; compaction is one window per key
  * over the log; the funnel is `pipe_curation`'s shape — one shuffle on
  * the content hash, everything else map-side.
  */
object CdcToCorpus {

  /** One document change event. `operation`: 2=Insert 4=Update 1=Delete. */
  final case class DocEvent(
      docId: Long, lsnNum: Long, seqvalNum: Long, operation: Int,
      text: String, lang: String, source: String)

  /** Per-key last-wins output; a delete emits a tombstone row. */
  final case class DocUpdate(
      docId: Long, lsnNum: Long, seqvalNum: Long, operation: Int,
      text: String, lang: String, source: String, isTombstone: Boolean)

  /** State: highest (lsnNum, seqvalNum) seen per key. */
  final case class DocKeyState(lsnNum: Long, seqvalNum: Long)

  // ── synthetic document change history ────────────────────────────────
  //
  // Derived purely from documents.parquet so the spec can compute the
  // true final state in batch from the same formulas:
  //   - every doc INSERTs at lsn = doc_id/8, seq = doc_id
  //   - every 7th doc re-crawls (UPDATE, revised text) at lsn = B + doc_id/8
  //   - every 13th doc is taken down (DELETE) at lsn = 2B + doc_id/8
  // where B (the wave base) sits above the insert range, so the change
  // order is inserts < updates < deletes for any given key.

  private def waveBase(spark: SparkSession, dir: String): Long = {
    val maxId = spark.read.parquet(s"$dir/documents.parquet")
      .agg(max(col("doc_id"))).head().getLong(0)
    maxId / 8 + 1
  }

  private val RevisedSuffix = " revised edition with expanded follow up coverage"

  /** The full change history as a batch DataFrame in DocEvent shape. */
  def changeHistory(spark: SparkSession, dir: String): DataFrame = {
    val b = waveBase(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    // `div`, not `/`: long `/` is DOUBLE division (the SyntheticCdc
    // hazard) and must match waveBase's integer maxId / 8.
    val inserts = docs.select(col("doc_id"),
      expr("doc_id div 8").as("lsn_num"),
      col("doc_id").as("seqval_num"), lit(2).as("operation"),
      col("text"), col("lang"), col("source"))
    val updates = docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"),
      (lit(b) + expr("doc_id div 8")).as("lsn_num"),
      col("doc_id").as("seqval_num"), lit(4).as("operation"),
      concat(col("text"), lit(RevisedSuffix)).as("text"), col("lang"), col("source"))
    val deletes = docs.filter(col("doc_id") % 13 === 0).select(col("doc_id"),
      (lit(2 * b) + expr("doc_id div 8")).as("lsn_num"),
      col("doc_id").as("seqval_num"), lit(1).as("operation"),
      lit("").as("text"), col("lang"), col("source"))
    inserts.unionByName(updates).unionByName(deletes)
  }

  /** The table's TRUE final state under that history — the batch truth
    * the spec curates for comparison: revised text for re-crawled docs,
    * minus takedowns. */
  def expectedFinalDocs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(RevisedSuffix)))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"))

  /** Stage the history as a directory of parquet files in change order —
    * one file per poll window ([[CdcPipeline.stageChangeFeed]] shape).
    * `chunkRange` stages a subset, for restart-mid-history tests. */
  def stageDocFeed(spark: SparkSession, dir: String, outDir: String,
      nChunks: Int, chunkRange: Option[Range] = None): Unit = {
    val rows = changeHistory(spark, dir)
    val bounds = rows.agg(min("lsn_num"), max("lsn_num")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val per = math.max(1L, (hi - lo + nChunks) / nChunks)
    val chunked = rows.withColumn("chunk",
      floor((col("lsn_num") - lo) / per).cast("int"))
    chunkRange.getOrElse(0 until nChunks).foreach { k =>
      chunked.filter(col("chunk") === k).drop("chunk")
        .coalesce(1)
        .write.mode(if (k == 0) "overwrite" else "append")
        .parquet(outDir)
    }
  }

  // ── the streaming pipeline ───────────────────────────────────────────

  def docStream(spark: SparkSession, feedDir: String): Dataset[DocEvent] = {
    import spark.implicits._
    spark.readStream
      .schema("doc_id LONG, lsn_num LONG, seqval_num LONG, operation INT, " +
        "text STRING, lang STRING, source STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(feedDir)
      .select(col("doc_id").as("docId"), col("lsn_num").as("lsnNum"),
        col("seqval_num").as("seqvalNum"), col("operation"),
        col("text"), col("lang"), col("source"))
      .as[DocEvent]
  }

  /** Stateful last-wins per document (the E3 fold, keyed on docId):
    * out-of-order arrivals below the stored index drop; a delete emits
    * the row then its tombstone ([[CdcPipeline.keyedUpdates]] semantics
    * on the document payload). */
  def keyedDocUpdates(events: Dataset[DocEvent]): Dataset[DocUpdate] = {
    import events.sparkSession.implicits._
    import scala.math.Ordering.Implicits._
    events.groupByKey(_.docId)
      .flatMapGroupsWithState[DocKeyState, DocUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (docId: Long, rows: Iterator[DocEvent], state: GroupState[DocKeyState]) =>
          val ordered = rows.toSeq.sortBy(e => (e.lsnNum, e.seqvalNum))
          val floor = state.getOption
          val fresh = ordered.filter(e =>
            floor.forall(f => (e.lsnNum, e.seqvalNum) > ((f.lsnNum, f.seqvalNum))))
          if (fresh.isEmpty) Iterator.empty
          else {
            val last = fresh.last
            state.update(DocKeyState(last.lsnNum, last.seqvalNum))
            val upd = DocUpdate(docId, last.lsnNum, last.seqvalNum,
              last.operation, last.text, last.lang, last.source,
              isTombstone = false)
            if (last.operation == 1) Iterator(upd, upd.copy(isTombstone = true))
            else Iterator(upd)
          }
      }
  }

  /** Run over the staged feed with exactly-once semantics: idempotent
    * per-batch partition overwrite + checkpoint ([[CdcPipeline]]'s G1/G2
    * shape). Returns when all currently-staged data is processed; calling
    * again after staging more files RESUMES from the checkpoint. */
  def run(spark: SparkSession, feedDir: String, checkpointDir: String,
      sinkDir: String): Unit = {
    val query = keyedDocUpdates(docStream(spark, feedDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[DocUpdate], batchId: Long) =>
        batch.toDF().withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(s"$sinkDir/log")
        ()
      }
      .start()
    query.awaitTermination()
  }

  /** Compact the published log to the current documents table (A7/E3):
    * latest row per doc, tombstoned keys dropped. */
  def compactedDocs(spark: SparkSession, sinkDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("docId"))
      .orderBy(col("lsnNum").desc, col("seqvalNum").desc,
        col("isTombstone").desc)
    spark.read.parquet(s"$sinkDir/log")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("isTombstone"))
      .select(col("docId").as("doc_id"), col("text"), col("lang"), col("source"))
  }

  // ── the batch curation funnel over the compacted view ────────────────

  /** gate → exact dedup → token accounting → shard assignment, all
    * deterministic (the `pipe_curation` + `pipe_shard` composition).
    * Input: (doc_id, text, lang, source). Output: one row per KEPT doc
    * (doc_id, lang, source, est_tokens, shard). */
  def curate(spark: SparkSession, docs: DataFrame): DataFrame = {
    docs.createOrReplaceTempView("ctc_docs")
    spark.sql(
      s"""WITH feats AS (
         |  SELECT doc_id, lang, source, md5(text) AS h,
         |         cast(ceil(length(text) / 4.0) as bigint) AS est_tokens,
         |         ${graft.queries.TextQueries.qualitySpark("text")} AS quality
         |  FROM ctc_docs),
         |keepers AS (SELECT h, min(doc_id) AS keeper FROM feats GROUP BY h)
         |SELECT f.doc_id, f.lang, f.source, f.est_tokens,
         |       cast(conv(substr(md5(cast(f.doc_id as string)), 1, 15), 16, 10) as bigint) % 16
         |         AS shard
         |FROM feats f JOIN keepers k ON f.h = k.h AND f.doc_id = k.keeper
         |WHERE f.quality >= 0.66""".stripMargin)
  }

  /** Composed demo main: stage → stream → compact → curate at sf0.001,
    * printing the funnel counts (inserted/updated/deleted/kept). */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val work = java.nio.file.Files.createTempDirectory("cdc-to-corpus").toString
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    stageDocFeed(spark, sfDir, s"$work/feed", nChunks = 6)
    run(spark, s"$work/feed", s"$work/ckpt", s"$work/sink")
    val compacted = compactedDocs(spark, s"$work/sink")
    val curated = curate(spark, compacted)
    val nState = compacted.count()
    val nCurated = curated.count()
    val nExpected = expectedFinalDocs(spark, sfDir).count()
    println(s"""{"compacted":$nState,"expected_state":$nExpected,"curated":$nCurated}""")
    spark.stop()
  }
}

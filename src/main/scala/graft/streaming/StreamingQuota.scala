package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming token-BUDGET admission — the streaming form of the batch
  * `pipe_quota_sample` operator: documents arrive continuously and each
  * source admits them until its token quota fills; everything after is
  * rejected, across micro-batches AND restarts (the spent budget lives in
  * the state store / checkpoint).
  *
  * Semantics vs the batch form: the batch operator ranks each source's
  * WHOLE corpus in deterministic hash order before admitting; a stream
  * cannot reorder the future, so admission is arrival-order across
  * batches and deterministic hash order WITHIN a batch (ties by doc_id —
  * replays of a batch admit the same documents). The batch boundary rule
  * is identical: a document is admitted iff its tokens START within
  * budget, so the quota fills and the boundary document is kept whole.
  *
  * Scale notes: one stateful stage keyed by source — state is ONE LONG
  * per source (tokens spent), hash-partitioned across tasks like every
  * keyed state store here; per-batch work is a narrow projection plus the
  * per-key fold. Sources are the unit of parallelism, same as the batch
  * window's PARTITION BY. No timeout: a budget never expires (an epoch
  * rollover deployment would set a processing-time timeout and reset).
  */
object StreamingQuota {

  /** One incoming document, pre-projected to admission features. */
  final case class DocIn(docId: Long, source: String, estTokens: Long, h: Long)

  /** The admission verdict for one document. `cumAfter` is the source's
    * spent budget after this document (unchanged when rejected). */
  final case class Admission(docId: Long, source: String, estTokens: Long,
      admitted: Boolean, cumAfter: Long)

  /** Per-source quota: the same source-id-derived formula as the batch
    * operator (a production deployment reads a config table). `None` =
    * the source has NO CONFIGURED QUOTA — admit nothing, spend nothing —
    * which matches the batch operator's NULL-quota ledger exactly: both
    * admit zero documents AND both record "unconfigured" rather than
    * "quota exhausted at 0" (ADVICE r5/r6: the old `Long` return
    * collapsed the two). Throwing instead would fail the task and wedge
    * the streaming query on every retry. */
  def quotaFor(source: String): Option[Long] =
    source.drop(3).toIntOption.map(n => (n % 4 + 1) * 800L)

  /** Admission fold for one source in one micro-batch. Exposed for direct
    * unit testing. An unconfigured source (quota None) rejects every
    * document and leaves its spent state untouched. */
  private[graft] def admitBatch(quota: Option[Long])(rows: Seq[DocIn],
      state: GroupState[Long]): Iterator[Admission] = {
    var spent = state.getOption.getOrElse(0L)
    val out = rows.sortBy(r => (r.h, r.docId)).map { r =>
      val ok = quota.exists(spent < _)
      if (ok) spent += r.estTokens
      Admission(r.docId, r.source, r.estTokens, ok, spent)
    }
    state.update(spent)
    out.iterator
  }

  /** Project incoming documents to admission features; the token estimate
    * and the hash are the SAME expression texts as the batch operator, so
    * stream and batch admit identically on identical input order. */
  private def featurize(docs: DataFrame): DataFrame = docs.selectExpr(
    "doc_id",
    "source",
    "cast(ceil(length(text) / 4.0) as bigint) AS est_tokens",
    graft.queries.DedupQueries.hSpark("cast(doc_id as string)") + " AS h")

  /** Run the admission stream over a parquet drop directory until all
    * currently-dropped files are processed (AvailableNow). The sink holds
    * every document's verdict; restarting with the same checkpoint
    * resumes each source's spent budget. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars INT"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val verdicts = featurize(incoming)
      .as[(Long, String, Long, Long)]
      .map { case (id, src, tok, h) => DocIn(id, src, tok, h) }
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, Admission](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[DocIn], state: GroupState[Long]) =>
          admitBatch(quotaFor(src))(rows.toSeq, state)
      }
    MicroBatch.drainToParquet(verdicts, sinkDir, checkpointDir)
  }

  /** Budget ledger over the verdict sink: spent vs quota per source. */
  def budgetSummary(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(sinkDir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs_seen"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("docs_admitted"),
        sum(when(col("admitted"), col("estTokens")).otherwise(0L)).as("tokens_admitted"),
        max(col("cumAfter")).as("budget_spent"))
}

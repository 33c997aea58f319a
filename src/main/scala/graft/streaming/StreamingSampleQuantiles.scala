package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.expr.BottomKSample
import graft.queries.SketchQueries

/** Streaming sampled order statistics — the streaming form of the batch
  * `sk_sample_quantiles` operator: documents arrive continuously and each
  * language's deterministic bottom-K-by-hash sample (and the p25/p50/p75
  * length estimates computed from it) is maintained incrementally, the
  * per-language state folded forward across micro-batches and restarts.
  *
  * Semantics vs the batch form: EXACT equality, not an ε contract —
  * bottom-k-by-hash is a semilattice (unlike Misra–Gries, whose stream
  * report is no-false-negatives approximate), so after draining any
  * prefix of the corpus the stream's sample IS the batch sample of that
  * prefix, insertion-order-free. `StreamingSampleQuantilesSpec` pins
  * drained-stream == batch bit-for-bit through a mid-stream restart.
  * The insertion rule is shared with the Catalyst aggregate
  * ([[BottomKSample.put]]) and the hash/quantile spellings with the
  * batch SQL, so the paths cannot drift.
  *
  * Scale notes: one stateful stage keyed by lang; state is ≤ K
  * (hash, value) pairs per key — constant-bounded regardless of stream
  * length. The only shuffle is the groupByKey on lang carrying the
  * current batch's (lang, hash, value) triples.
  */
object StreamingSampleQuantiles {

  val K: Int = SketchQueries.SampleK

  /** Per-language sample state: the bottom-K map (hash → value). */
  final case class SampleState(sample: Map[Long, Long], batchSeq: Long)

  final case class QuantileReport(lang: String, sampleN: Long,
      p25Est: Long, p50Est: Long, p75Est: Long, seq: Long)

  /** The batch query's discrete quantile: element at
    * max(ceil(p·n), 1) of the ascending values — the SAME definition as
    * the SQL spelling, so stream and batch agree to the bit. */
  private[graft] def quantile(sorted: IndexedSeq[Long], p: Double): Long =
    sorted(math.max(math.ceil(p * sorted.size).toInt, 1) - 1)

  /** Fold one micro-batch's (hash, value) pairs into the language's
    * sample and emit the current report. Exposed for unit testing. */
  private[graft] def foldBatch(lang: String, rows: Iterator[(Long, Long)],
      state: GroupState[SampleState]): Iterator[QuantileReport] = {
    val prev = state.getOption.getOrElse(SampleState(Map.empty, 0L))
    val buf = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    prev.sample.foreach { case (h, v) => buf.put(h, v) }
    rows.foreach { case (h, v) => BottomKSample.put(buf, h, v, K) }
    val seq = prev.batchSeq + 1
    val sample = {
      val b = Map.newBuilder[Long, Long]
      buf.forEach((h, v) => b += (h.longValue() -> v.longValue()))
      b.result()
    }
    state.update(SampleState(sample, seq))
    if (sample.isEmpty) Iterator.empty
    else {
      val sorted = sample.valuesIterator.toIndexedSeq.sorted
      Iterator(QuantileReport(lang, sorted.size.toLong,
        quantile(sorted, 0.25), quantile(sorted, 0.50), quantile(sorted, 0.75),
        seq))
    }
  }

  /** Run sampled-quantile tracking over a parquet drop directory until
    * all dropped files are processed (AvailableNow). Each micro-batch
    * appends one report per language touched; the highest `seq` per
    * language is the current answer. Restarting with the same checkpoint
    * resumes every sample. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    // The batch operator's exact hash/value spellings.
    val hashExpr = graft.queries.DedupQueries.hSpark("cast(doc_id as string)")
    val reports = incoming
      // The aggregate SKIPS null hash/value rows; filter here so the
      // primitive-Long decode below cannot turn a null into a 0.
      .where("doc_id IS NOT NULL AND text IS NOT NULL")
      .selectExpr("lang", s"$hashExpr AS h", "CAST(length(text) AS BIGINT) AS v")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SampleState, QuantileReport](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[SampleState]) =>
          foldBatch(lang, rows.map(r => (r._2, r._3)), state)
      }
    MicroBatch.drainToParquet(reports, sinkDir, checkpointDir)
  }

  /** The latest report per language from the sink (highest seq), shaped
    * like the batch query's output for direct comparison. */
  def latestReport(spark: SparkSession, sinkDir: String): DataFrame = {
    spark.read.parquet(sinkDir).createOrReplaceTempView("sq_reports")
    spark.sql(
      """SELECT r.lang, r.sampleN AS sample_n, r.p25Est AS p25_est,
        |       r.p50Est AS p50_est, r.p75Est AS p75_est
        |FROM sq_reports r
        |JOIN (SELECT lang, max(seq) AS seq FROM sq_reports GROUP BY lang) m
        |  ON r.lang = m.lang AND r.seq = m.seq""".stripMargin)
  }
}

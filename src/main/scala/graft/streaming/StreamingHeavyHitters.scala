package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.expr.MisraGries

/** Streaming heavy-hitter tracking — the streaming form of the batch
  * `text_heavy_hitters` operator: documents arrive continuously and each
  * language's dominant word bigrams are maintained incrementally. The
  * Misra–Gries summary is a ONE-PASS algorithm, so micro-batches ARE the
  * pass: per-language state is the K-counter summary plus the gram count
  * n, folded forward batch after batch (and across restarts — the
  * summary lives in the state store / checkpoint).
  *
  * Semantics vs the batch form: the batch operator recounts candidates
  * exactly in a second pass; a stream cannot recount the past, so the
  * streaming report uses the classical ε-approximate contract instead
  * (ε = 1/K): a gram's true count c is bounded by mg ≤ c ≤ mg + n/K, so
  * reporting every candidate with mg·K > n·(K/φdiv − 1) — here
  * mg·4096 > 3n for φ = 1/1024, K = 4096 — guarantees NO FALSE
  * NEGATIVES: every gram the batch operator would report is in every
  * report emitted after its count crossed the bar. False positives sit
  * in the (φ−ε, φ) band; the batch operator is the offline sweep that
  * settles them (`StreamingHeavyHittersSpec` pins report ⊇ batch-exact).
  *
  * Scale notes: one stateful stage keyed by lang; state is ≤ K counters
  * per key — constant-bounded regardless of stream length, the property
  * that makes this runnable forever. The gram explode is a narrow
  * pre-projection (the batch operator's gram transform over pre-split
  * words, so stream and
  * batch see identical grams); the only shuffle is the groupByKey on
  * lang, carrying (lang, gram) pairs of the current batch.
  */
object StreamingHeavyHitters {

  val K = 4096
  /** Report bar: mg·K > (K/1024 − 1)·n ⇔ mg > n/1024 − n/K. */
  val PhiDiv = 1024
  // The no-false-negative contract needs ε = 1/K strictly tighter than
  // φ = 1/PhiDiv (and the integer bar K/PhiDiv to divide evenly) — a
  // constant tuned to K ≤ PhiDiv would silently degenerate the bar to
  // "report everything" (ADVICE r8).
  require(K % PhiDiv == 0 && K > PhiDiv,
    s"Misra-Gries capacity K=$K must be a strict multiple of PhiDiv=$PhiDiv")

  /** Per-language summary state. Spark-encodable: the map is the MG
    * counter table, n the total grams observed for the language. */
  final case class MgState(counts: Map[String, Long], n: Long, batchSeq: Long)

  /** One report row: the candidate's summary count (a LOWER bound on its
    * true count — true ≤ mg + n/K) at report sequence `seq`. */
  final case class HhReport(lang: String, gram: String, mgCount: Long,
      nSeen: Long, seq: Long)

  /** Fold one micro-batch's grams into the language's summary and emit
    * the full current report. Exposed for direct unit testing. */
  private[graft] def foldBatch(lang: String, grams: Iterator[String],
      state: GroupState[MgState]): Iterator[HhReport] = {
    val prev = state.getOption.getOrElse(MgState(Map.empty, 0L, 0L))
    val buf = new java.util.HashMap[String, java.lang.Long](prev.counts.size * 2)
    prev.counts.foreach { case (g, c) => buf.put(g, java.lang.Long.valueOf(c)) }
    var n = prev.n
    grams.foreach { g =>
      MisraGries.observe(buf, g, K, identity[String])
      n += 1
    }
    val seq = prev.batchSeq + 1
    val counts = {
      val b = Map.newBuilder[String, Long]
      buf.forEach((g, c) => b += g -> c.longValue())
      b.result()
    }
    state.update(MgState(counts, n, seq))
    counts.iterator.collect {
      case (g, c) if c * K > (K / PhiDiv - 1).toLong * n =>
        HhReport(lang, g, c, n, seq)
    }
  }

  /** The gram projection — the same fused `word_bigrams` kernel as the
    * batch operator (`Kernels.wordBigrams`), so stream and batch observe
    * byte-identical grams by construction. */
  private def gramize(docs: DataFrame): DataFrame = docs
    .selectExpr("lang", "explode(word_bigrams(text)) AS gram")

  /** Run heavy-hitter tracking over a parquet drop directory until all
    * currently-dropped files are processed (AvailableNow). Each
    * micro-batch appends a full report per language; the highest `seq`
    * per language is the current answer. Restarting with the same
    * checkpoint resumes every summary. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    graft.expr.GraftFunctions.register(spark)
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val reports = gramize(incoming)
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[MgState, HhReport](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[(String, String)], state: GroupState[MgState]) =>
          foldBatch(lang, rows.map(_._2), state)
      }
    MicroBatch.drainToParquet(reports, sinkDir, checkpointDir)
  }

  /** The latest report per language from the sink (highest seq). */
  def latestReport(spark: SparkSession, sinkDir: String): DataFrame = {
    val all = spark.read.parquet(sinkDir)
    all.createOrReplaceTempView("hh_reports")
    spark.sql(
      """SELECT r.lang, r.gram, r.mgCount, r.nSeen
        |FROM hh_reports r
        |JOIN (SELECT lang, max(seq) AS seq FROM hh_reports GROUP BY lang) m
        |  ON r.lang = m.lang AND r.seq = m.seq""".stripMargin)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Pin.PinSyntax

/** TRAINED byte-pair-encoding tokenizer (Sennrich et al. 2016; the GPT-2
  * tokenizer's training recipe): the one learned artifact every LLM data
  * pipeline ships that the catalog still lacked. Two oracle-checked
  * queries: `text_bpe_train` emits the learned merge table itself and
  * `text_bpe_encode` re-tokenizes the corpus with it (per-document token
  * accounting — the number a pretraining budget is priced in).
  *
  * Engine-exactness discipline (the `text_quality_model` pattern: pin the
  * LEARNED ARTIFACT bit-for-bit, not just a score): the DuckDB oracle
  * RETRAINS the identical tokenizer with a generated chain of CTE levels,
  * one per merge. That works because every training step is exact integer
  * arithmetic plus one string primitive both engines implement with the
  * same semantics:
  *
  *  - Token alphabet = single characters. A merged pair becomes ONE fresh
  *    private-use-plane character (U+E000+i), so "apply merge i" is
  *    `replace(seg, pair, merged)` — and sequential left-to-right
  *    non-overlapping replacement over a single-char token alphabet IS
  *    canonical BPE pair application, including runs: merging (a,a) in
  *    "aaaa" yields exactly two tokens in Spark, DuckDB, and the BPE
  *    definition alike (`BpeSpec` pins it in both engines).
  *  - Pair statistics are BIGINT sums of word frequencies; the argmax
  *    tie-breaks (count DESC, pair ASC) in binary string order, identical
  *    in both engines.
  *  - Words never contain spaces, so the whole corpus encodes by applying
  *    the merge chain to the space-joined word stream in one pass — a
  *    space can never participate in a learned pair, which makes the
  *    word-boundary barrier structural rather than per-word loop work.
  *
  * Scale shape (100 TB): the corpus is scanned ONCE, into the word-
  * frequency table (vocab-keyed map-side-combined count — the classical
  * BPE trainer state, Sennrich §3.2). The merge loop runs on that
  * checkpointed vocab-sized table only: per merge, one tiny aggregation
  * (pair counts weighted by word freq) and a LIMIT-1 argmax — the k-means
  * trainer's driver-metadata discipline (1 row per round). Encoding is a
  * narrow per-document map (a 16-deep codegen'd replace chain), no
  * shuffle, scan speed. Nothing vocabulary-sized ever reaches the driver
  * and nothing corpus-sized is ever re-scanned by the loop.
  */
object TokenizerQueries {

  /** Number of merge rounds. A production tokenizer runs 30-50k; the
    * loop cost is per-merge constant over the vocab table, so the count
    * is a budget knob, not a design bound — DEMONSTRATED (r11) by the
    * `ScaleStressSpec` 1,024-merge run over a 10k-word / 640k-char
    * high-diversity vocabulary: 395 ms/round amortized at 1,024 merges
    * vs 1,438 ms/round for a 64-merge run (JIT + the one corpus scan
    * dominate the short run — per-round cost FALLS with depth, no
    * O(rounds²) creep), pinned checkpoint storage stays bounded at two
    * vocab tables via the rolling unpersist in [[trainMergesOnView]],
    * and the long run's first 64 merges are identical to the short
    * run's (the greedy schedule is a prefix property). 16 keeps the
    * generated oracle CTE chain readable and the suite fast. */
  val Merges = 16

  /** Per-round batch cap: how many NON-INTERACTING merges one round may
    * apply (and therefore the LIMIT of the per-round ranking fetch). The
    * batch is the maximal pairwise symbol-disjoint PREFIX of the
    * (count DESC, pair ASC) pair ranking, stopped at the first pair that
    * shares a symbol with an accepted one — the construction under which
    * batched training is EXACTLY the sequential greedy schedule (proof
    * sketch, machine-checked by BpeSpec's batch-vs-sequential equality
    * and by every retraining oracle):
    *   - merging a pair cannot change the count of any symbol-disjoint
    *     pair (no occurrence shares a position, and a replace can only
    *     INSERT a fresh symbol between two old ones — never make two
    *     pre-batch symbols newly adjacent);
    *   - any NEW pair created by an accepted merge descends from a
    *     progenitor pair sharing a symbol with it, which ranks below the
    *     batch's stop point by construction, so its count can never
    *     overtake a still-pending accepted pair;
    *   - count ties lose lexically: a fresh symbol (PUA, allocated in
    *     rank order) sorts above every pre-batch char, so `pair ASC`
    *     prefers the pending accepted pair.
    * This is the 30-50k-merge production lever: round count drops by the
    * average batch width (≈the count of simultaneously-frequent disjoint
    * pairs) with a bit-identical learned schedule. */
  val MergeBatch = 16

  /** Merge i's fresh token symbol: one BMP private-use-plane char. */
  private def mergedChar(i: Int): String = (0xE000 + i).toChar.toString

  /** Never-occurring search char for identity-replace at oracle levels
    * past an early training stop (distinct PUA range from [[mergedChar]]). */
  private def dummyChar(i: Int): Int = 0xE100 + i

  final case class Merge(idx: Int, pair: String, merged: String, count: Long)

  /** Forwards to [[graft.operators.SessionMemo.clear]]; kept because the
    * perfbench catalog workload clears by family name. */
  private[graft] def clearSessionMemos(): Unit = graft.operators.SessionMemo.clear()

  private def viewDocs(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .createOrReplaceTempView("documents")

  /** Train [[Merges]] BPE merges over the registered `documents` view.
    * One corpus scan builds the (seg, freq) vocab table
    * (localCheckpointed — vocab-sized); each round aggregates pair
    * counts over it, collects the top-[[MergeBatch]] ranking rows
    * (bounded driver metadata, the KMeansTrainer discipline), applies
    * the maximal disjoint prefix as ONE batch, and RE-MATERIALIZES the
    * segmentation with one ≤batch-deep replace — so round cost is
    * per-round constant and the round COUNT shrinks by the average
    * batch width, with a schedule provably identical to one-merge-
    * per-round training (a growing inline replace chain would instead
    * re-apply every prior merge to every word each round: O(merges²)
    * work and a codegen-breaking expression tree at production merge
    * counts). Stops early when no pair occurs twice. The per-round
    * checkpoints are transient pins; Verify/Bench sweep them after the
    * query. */
  private[graft] def trainMergesOnView(
      spark: SparkSession, maxMerges: Int = Merges,
      maxBatch: Int = MergeBatch): Seq[Merge] = {
    var seg = spark.sql(
      """SELECT word AS seg, CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS word
        |      FROM documents)
        |GROUP BY word""".stripMargin)
      .pinned()
    val out = scala.collection.mutable.Buffer[Merge]()
    var prevSeg: DataFrame = null
    var stopped = false
    var rounds = 0
    while (out.size < maxMerges && !stopped) {
      rounds += 1
      seg.createOrReplaceTempView("bpe_seg_t")
      val fetch = math.min(maxBatch, maxMerges - out.size)
      val best = spark.sql(
        s"""SELECT pair, c FROM (
           |  SELECT pair, CAST(sum(freq) AS BIGINT) AS c
           |  FROM (SELECT freq,
           |               explode(transform(sequence(1, length(seg) - 1),
           |                                 j -> substring(seg, j, 2))) AS pair
           |        FROM bpe_seg_t WHERE length(seg) >= 2)
           |  GROUP BY pair)
           |WHERE c >= 2 ORDER BY c DESC, pair ASC LIMIT $fetch""".stripMargin).collect()
      // The collect above materialized THIS round's lazy checkpoint, so
      // the previous round's blocks (its depth-1 lineage source) are now
      // dead — free them. This bounds pinned storage at ~2 vocab tables
      // for ANY merge count; without it a 30-50k-merge production run
      // pins tens of thousands of vocab copies (the PinnedStages storage
      // pathology, in-loop).
      if (prevSeg != null) prevSeg.unpersist(blocking = false)
      prevSeg = seg
      if (best.isEmpty) stopped = true
      else {
        // Maximal pairwise symbol-disjoint PREFIX of the ranking (see
        // [[MergeBatch]] for why stopping at the FIRST interacting pair
        // is what keeps the batched schedule bit-identical to the
        // sequential greedy one).
        val used = scala.collection.mutable.Set[Char]()
        val batch = scala.collection.mutable.Buffer[(String, Long)]()
        var halted = false
        best.foreach { r =>
          val p = r.getString(0)
          if (!halted) {
            if (p.exists(used.contains)) halted = true
            else { batch += ((p, r.getLong(1))); used ++= p }
          }
        }
        val base = out.size
        batch.zipWithIndex.foreach { case ((p, c), k) =>
          out += Merge(base + k, p, mergedChar(base + k), c)
        }
        // One re-materialization per ROUND: the |batch|-deep replace
        // chain applies the accepted merges in rank order (disjointness
        // makes the order immaterial to the result, but rank order keeps
        // the chain equal to the sequential trainer's composition).
        // Lazy checkpoint: materializes inside the NEXT round's ranking
        // job (one job per round, not two) while still truncating the
        // lineage to depth 1 over the previous round's blocks.
        val chain = batch.zipWithIndex.foldLeft("seg") {
          case (e, ((p, _), k)) => s"replace($e, '$p', '${mergedChar(base + k)}')"
        }
        seg = spark.sql(s"SELECT $chain AS seg, freq FROM bpe_seg_t")
          .pinned(eager = false)
      }
    }
    lastTrainRounds = rounds
    out.toSeq
  }

  /** Rounds the last [[trainMergesOnView]] call ran — test/diagnostic
    * instrumentation for the batching width (merges ÷ rounds). */
  @volatile private[graft] var lastTrainRounds: Int = 0

  /** The adjacent-pair explode over a (seg, freq) relation — THE pair
    * definition, shared by the full recount and the delta terms so the
    * two trainers cannot drift. */
  private def pairCountSql(rel: String, freqExpr: String): String =
    s"""SELECT pair, CAST(sum(f) AS BIGINT) AS c
       |FROM (SELECT $freqExpr AS f,
       |             explode(transform(sequence(1, length(seg) - 1),
       |                               j -> substring(seg, j, 2))) AS pair
       |      FROM $rel WHERE length(seg) >= 2)
       |GROUP BY pair""".stripMargin

  /** [[trainMergesOnView]] with cross-round pair-count DELTA MAINTENANCE
    * (r11 verdict #3 — the residual production lever): instead of
    * re-exploding EVERY word's adjacent pairs each round (cost ∝ total
    * vocab character mass, every round), the trainer keeps the
    * (pair, count) table as a pinned relation and updates it per round by
    * recounting ONLY the affected words — those containing an accepted
    * pair, found by `instr` — subtracting their pre-merge pairs and
    * adding their post-merge ones. Sound because a word with no accepted
    * pair occurrence is byte-identical after the batch replace (so its
    * pair multiset is too), and replacement by a fresh PUA char is
    * injective (invert by replacing back), so vocab rows stay distinct
    * and no re-grouping is needed. Per-round cost becomes
    * O(|pair vocabulary| + affected character mass): as training deepens,
    * accepted pairs get rarer and the affected set SHRINKS — the 30-50k-
    * merge regime where the full recount's flat vocab-mass cost is the
    * bottleneck. The maintained counts equal the full recount exactly
    * (BpeSpec equality; ScaleStressSpec at 1,024 merges), so the ranking,
    * batching, and learned schedule are bit-identical. */
  private[graft] def trainMergesDelta(
      spark: SparkSession, maxMerges: Int = Merges,
      maxBatch: Int = MergeBatch): Seq[Merge] = {
    var seg = spark.sql(
      """SELECT word AS seg, CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS word
        |      FROM documents)
        |GROUP BY word""".stripMargin)
      .pinned()
    seg.createOrReplaceTempView("bpe_seg_t")
    var cnt = spark.sql(pairCountSql("bpe_seg_t", "freq")).pinned()
    val out = scala.collection.mutable.Buffer[Merge]()
    // Rolling two-generation unpersist (the trainMergesOnView
    // discipline): generation R-1 pins are lineage sources of the
    // still-lazy generation-R pins, so only R-2 is provably dead after
    // round R's collect materializes generation R.
    var prev: Seq[DataFrame] = Nil
    var prev2: Seq[DataFrame] = Nil
    var stopped = false
    var rounds = 0
    while (out.size < maxMerges && !stopped) {
      rounds += 1
      cnt.createOrReplaceTempView("bpe_cnt_t")
      val fetch = math.min(maxBatch, maxMerges - out.size)
      val best = spark.sql(
        s"""SELECT pair, c FROM bpe_cnt_t
           |WHERE c >= 2 ORDER BY c DESC, pair ASC LIMIT $fetch""".stripMargin)
        .collect()
      prev2.foreach(_.unpersist(blocking = false))
      prev2 = prev
      prev = Seq(seg, cnt)
      if (best.isEmpty) stopped = true
      else {
        val used = scala.collection.mutable.Set[Char]()
        val batch = scala.collection.mutable.Buffer[(String, Long)]()
        var halted = false
        best.foreach { r =>
          val p = r.getString(0)
          if (!halted) {
            if (p.exists(used.contains)) halted = true
            else { batch += ((p, r.getLong(1))); used ++= p }
          }
        }
        val base = out.size
        batch.zipWithIndex.foreach { case ((p, c), k) =>
          out += Merge(base + k, p, mergedChar(base + k), c)
        }
        val chain = batch.zipWithIndex.foldLeft("seg") {
          case (e, ((p, _), k)) => s"replace($e, '$p', '${mergedChar(base + k)}')"
        }
        val touched = batch.map { case (p, _) => s"instr(seg, '$p') > 0" }
          .mkString(" OR ")
        // cnt' = cnt + Σ(post-merge pairs of affected words)
        //            − Σ(pre-merge pairs of affected words);
        // zeroed pairs drop out (a later delta re-inserts them if merges
        // ever make the pair adjacent again).
        val newCnt = spark.sql(
          s"""WITH aff AS (SELECT seg, freq FROM bpe_seg_t WHERE $touched),
             |newaff AS (SELECT $chain AS seg, freq FROM aff),
             |delta AS (
             |  SELECT pair, CAST(sum(c) AS BIGINT) AS c FROM (
             |    ${pairCountSql("aff", "-freq")}
             |    UNION ALL
             |    ${pairCountSql("newaff", "freq")})
             |  GROUP BY pair)
             |SELECT pair, CAST(sum(c) AS BIGINT) AS c
             |FROM (SELECT pair, c FROM bpe_cnt_t
             |      UNION ALL
             |      SELECT pair, c FROM delta)
             |GROUP BY pair HAVING sum(c) > 0""".stripMargin)
          .pinned(eager = false)
        val newSeg = spark.sql(s"SELECT $chain AS seg, freq FROM bpe_seg_t")
          .pinned(eager = false)
        seg = newSeg
        cnt = newCnt
        seg.createOrReplaceTempView("bpe_seg_t")
      }
    }
    (prev2 ++ prev).foreach(_.unpersist(blocking = false))
    seg.unpersist(blocking = false)
    cnt.unpersist(blocking = false)
    lastTrainRounds = rounds
    out.toSeq
  }

  /** [[trainMergesDelta]] with an INVERTED pair → word INDEX (r13
    * verdict #4 — COVERAGE's named remaining BPE lever): the delta
    * trainer finds each round's affected words with `instr(seg, pair)`
    * — a full vocab STRING SCAN per round, cost ∝ total vocab character
    * mass regardless of how rare the accepted pairs are. This variant
    * maintains a (pair, seg) relation — one row per DISTINCT adjacent
    * pair per word — so the affected set comes from an EQUI-JOIN probe
    * on the accepted pairs: per-round probe cost ∝ the accepted pairs'
    * posting lists, which SHRINK as training deepens (the exact regime
    * the delta trainer targets; at 30-50k merges the flat instr scan is
    * the residual bottleneck). Index maintenance is the same delta
    * discipline: an affected word's seg STRING changes, so its index
    * rows are dropped wholesale (anti-join on seg — sound because seg
    * is the vocab key and unaffected words keep their exact string) and
    * the post-merge word re-indexes. Counts, ranking, batching, and the
    * learned schedule are bit-identical to both other trainers
    * (BpeSpec equality). */
  private[graft] def trainMergesIndexed(
      spark: SparkSession, maxMerges: Int = Merges,
      maxBatch: Int = MergeBatch): Seq[Merge] = {
    val pairsOf = (rel: String) =>
      s"""SELECT DISTINCT pair, seg FROM (
         |  SELECT seg, explode(transform(sequence(1, length(seg) - 1),
         |                                j -> substring(seg, j, 2))) AS pair
         |  FROM $rel WHERE length(seg) >= 2)""".stripMargin
    var seg = spark.sql(
      """SELECT word AS seg, CAST(count(*) AS BIGINT) AS freq
        |FROM (SELECT explode(regexp_extract_all(lower(text), '[a-z]+', 0)) AS word
        |      FROM documents)
        |GROUP BY word""".stripMargin)
      .pinned()
    seg.createOrReplaceTempView("bpe_seg_t")
    var cnt = spark.sql(pairCountSql("bpe_seg_t", "freq")).pinned()
    var idx = spark.sql(pairsOf("bpe_seg_t")).pinned()
    val out = scala.collection.mutable.Buffer[Merge]()
    var prev: Seq[DataFrame] = Nil
    var prev2: Seq[DataFrame] = Nil
    var stopped = false
    var rounds = 0
    while (out.size < maxMerges && !stopped) {
      rounds += 1
      cnt.createOrReplaceTempView("bpe_cnt_t")
      idx.createOrReplaceTempView("bpe_idx_t")
      val fetch = math.min(maxBatch, maxMerges - out.size)
      val best = spark.sql(
        s"""SELECT pair, c FROM bpe_cnt_t
           |WHERE c >= 2 ORDER BY c DESC, pair ASC LIMIT $fetch""".stripMargin)
        .collect()
      prev2.foreach(_.unpersist(blocking = false))
      prev2 = prev
      prev = Seq(seg, cnt, idx)
      if (best.isEmpty) stopped = true
      else {
        val used = scala.collection.mutable.Set[Char]()
        val batch = scala.collection.mutable.Buffer[(String, Long)]()
        var halted = false
        best.foreach { r =>
          val p = r.getString(0)
          if (!halted) {
            if (p.exists(used.contains)) halted = true
            else { batch += ((p, r.getLong(1))); used ++= p }
          }
        }
        val base = out.size
        batch.zipWithIndex.foreach { case ((p, c), k) =>
          out += Merge(base + k, p, mergedChar(base + k), c)
        }
        val chain = batch.zipWithIndex.foldLeft("seg") {
          case (e, ((p, _), k)) => s"replace($e, '$p', '${mergedChar(base + k)}')"
        }
        // The index probe: affected words by equi-join on the accepted
        // pairs' posting rows — no string scan.
        val inPairs = batch.map { case (p, _) => s"'$p'" }.mkString(", ")
        val affCte =
          s"""aff AS (
             |  SELECT s.seg, s.freq FROM bpe_seg_t s
             |  WHERE s.seg IN (SELECT seg FROM bpe_idx_t
             |                  WHERE pair IN ($inPairs))),
             |newaff AS (SELECT $chain AS seg, freq FROM aff)""".stripMargin
        val newCnt = spark.sql(
          s"""WITH $affCte,
             |delta AS (
             |  SELECT pair, CAST(sum(c) AS BIGINT) AS c FROM (
             |    ${pairCountSql("aff", "-freq")}
             |    UNION ALL
             |    ${pairCountSql("newaff", "freq")})
             |  GROUP BY pair)
             |SELECT pair, CAST(sum(c) AS BIGINT) AS c
             |FROM (SELECT pair, c FROM bpe_cnt_t
             |      UNION ALL
             |      SELECT pair, c FROM delta)
             |GROUP BY pair HAVING sum(c) > 0""".stripMargin)
          .pinned(eager = false)
        // EAGER pin (unlike seg/cnt): the posting relation is consumed
        // only through subquery-planned probes, which do not reliably
        // drive the lazy checkpoint's truncation — a 512-merge run
        // accumulated a deserialization-depth lineage chain
        // (StackOverflow) under the lazy form. One extra job per round,
        // bounded lineage guaranteed.
        val newIdx = spark.sql(
          s"""WITH $affCte
             |SELECT i.pair, i.seg FROM bpe_idx_t i
             |LEFT ANTI JOIN aff a ON i.seg = a.seg
             |UNION ALL
             |${pairsOf("newaff")}""".stripMargin)
          .pinned()
        val newSeg = spark.sql(s"SELECT $chain AS seg, freq FROM bpe_seg_t")
          .pinned(eager = false)
        seg = newSeg
        cnt = newCnt
        idx = newIdx
        seg.createOrReplaceTempView("bpe_seg_t")
      }
    }
    (prev2 ++ prev).foreach(_.unpersist(blocking = false))
    Seq(seg, cnt, idx).foreach(_.unpersist(blocking = false))
    lastTrainRounds = rounds
    out.toSeq
  }

  /** The encode fold: apply the learned merges in order to a column
    * holding a segmented token stream. THE shared spelling — the catalog
    * query, the persisted tool ([[graft.tools.BpeTokenizer]]) and the
    * spec all call this one helper so they cannot drift. */
  private[graft] def encodeExpr(merges: Seq[Merge], col: String): String =
    merges.foldLeft(col)((e, m) => s"replace($e, '${m.pair}', '${m.merged}')")

  /** One training run per session and dir, shared by text_bpe_train and
    * text_bpe_encode. */
  private def trainMerges(spark: SparkSession, dir: String): Seq[Merge] =
    graft.operators.SessionMemo.cached(spark, s"bpe/merges/$dir") {
      viewDocs(spark, dir); trainMergesOnView(spark)
    }

  // ── text_bpe_train ★ — the learned merge table itself ────────────────
  def textBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(spark, dir)
    import spark.implicits._
    merges.map(m => (m.idx, m.pair, m.merged, m.count))
      .toDF("merge_idx", "pair", "merged", "pair_count")
  }

  /** Oracle prologue: wordsraw + seg0, then per level i a p_i (the argmax
    * pair, empty past an early stop — `c >= 2` filters it out) and
    * seg_{i+1} (identity when p_i is empty: the coalesce falls back to a
    * char that occurs in no segmentation). */
  private def oracleLevels: String = {
    val sb = new StringBuilder
    sb ++=
      """wordsraw AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |        FROM documents)
        |  GROUP BY word),
        |seg0 AS MATERIALIZED (SELECT freq, word AS seg FROM wordsraw)""".stripMargin
    for (i <- 0 until Merges) {
      sb ++= s""",
        |p$i AS MATERIALIZED (
        |  SELECT pair, c FROM (
        |    SELECT pair, CAST(sum(freq) AS BIGINT) AS c
        |    FROM (SELECT freq, unnest(list_transform(range(1, length(seg)),
        |                                             j -> seg[j:j+1])) AS pair
        |          FROM seg$i WHERE length(seg) >= 2)
        |    GROUP BY pair)
        |  WHERE c >= 2 ORDER BY c DESC, pair ASC LIMIT 1),
        |seg${i + 1} AS MATERIALIZED (
        |  SELECT freq,
        |         replace(seg, coalesce((SELECT pair FROM p$i), chr(${dummyChar(i)})),
        |                 chr(${0xE000 + i})) AS seg
        |  FROM seg$i)""".stripMargin
    }
    sb.result()
  }

  val textBpeTrainSql: String = {
    val rows = (0 until Merges).map { i =>
      s"""SELECT CAST($i AS INTEGER) AS merge_idx, pair, chr(${0xE000 + i}) AS merged,
         |       c AS pair_count FROM p$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $oracleLevels\n$rows"
  }

  // ── text_bpe_encode ★ — corpus re-tokenization with the trained merges
  def textBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(spark, dir)
    viewDocs(spark, dir)
    val chain = encodeExpr(merges, "joined")
    spark.sql(
      s"""SELECT doc_id, n_words, alpha_chars,
         |       CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(length($chain) - (n_words - 1) AS BIGINT) END AS bpe_tokens,
         |       CASE WHEN n_words = 0 THEN CAST(NULL AS DOUBLE)
         |            ELSE CAST(alpha_chars AS DOUBLE)
         |                 / (length($chain) - (n_words - 1)) END AS chars_per_token
         |FROM (SELECT doc_id, CAST(size(words) AS BIGINT) AS n_words,
         |             CASE WHEN size(words) = 0 THEN CAST(0 AS BIGINT)
         |                  ELSE CAST(length(concat_ws(' ', words)) - (size(words) - 1) AS BIGINT)
         |             END AS alpha_chars,
         |             concat_ws(' ', words) AS joined
         |      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+', 0) AS words
         |            FROM documents))""".stripMargin)
  }

  /** The oracle-side encode chain over the CTE-level merge artifacts:
    * levels past an early stop have empty p_i, and the coalesce dummy
    * (a char occurring nowhere) turns their replace into identity. */
  private def duckEncodeChain(col: String): String =
    (0 until Merges).foldLeft(col) { (e, i) =>
      s"replace($e, coalesce((SELECT pair FROM p$i), chr(${dummyChar(i)})), chr(${0xE000 + i}))"
    }

  val textBpeEncodeSql: String = {
    val chain = duckEncodeChain("joined")
    s"""WITH $oracleLevels,
       |docs_w AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
       |         CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(length(array_to_string(words, ' ')) - (len(words) - 1) AS BIGINT)
       |         END AS alpha_chars,
       |         array_to_string(words, ' ') AS joined
       |  FROM docs_w)
       |SELECT doc_id, n_words, alpha_chars,
       |       CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
       |            ELSE CAST(length($chain) - (n_words - 1) AS BIGINT) END AS bpe_tokens,
       |       CASE WHEN n_words = 0 THEN CAST(NULL AS DOUBLE)
       |            ELSE CAST(alpha_chars AS DOUBLE)
       |                 / (length($chain) - (n_words - 1)) END AS chars_per_token
       |FROM base""".stripMargin
  }

  // ── pipe_tokenize_pack ★ — sequence packing by REAL tokenizer counts:
  // `pipe_pack` budgets with the chars/4 estimate; production packs by
  // the ACTUAL token count of the tokenizer the model trains with. This
  // composes the trained merge chain into the packing window — the
  // budget axis becomes exact BPE tokens (512/sequence). Same scale
  // shape as pipe_pack (one window PARTITION BY source, sources pack
  // independently); the tokenize step is the narrow encode chain, and
  // the training run is shared with text_bpe_train/encode through the
  // session memo.
  def pipeTokenizePack(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(spark, dir)
    viewDocs(spark, dir)
    val chain = encodeExpr(merges, "joined")
    spark.sql(
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |         concat_ws(' ', regexp_extract_all(lower(text), '[a-z]+', 0)) AS joined,
         |         size(regexp_extract_all(lower(text), '[a-z]+', 0)) AS n_words
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, source,
         |         CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
         |              ELSE CAST(length($chain) - (n_words - 1) AS BIGINT)
         |         END AS bpe_tokens
         |  FROM base),
         |packed AS (
         |  SELECT doc_id, source, bpe_tokens,
         |         sum(bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM toks)
         |SELECT source, CAST((cum - bpe_tokens) div 512 AS BIGINT) AS chunk,
         |       count(*) AS docs,
         |       CAST(sum(bpe_tokens) AS BIGINT) AS chunk_tokens,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM packed
         |GROUP BY source, chunk""".stripMargin)
  }

  val pipeTokenizePackSql: String = {
    val chain = duckEncodeChain("joined")
    s"""WITH $oracleLevels,
       |base AS (
       |  SELECT doc_id, source,
       |         array_to_string(regexp_extract_all(lower(text), '[a-z]+'), ' ') AS joined,
       |         len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, source,
       |         CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(length($chain) - (n_words - 1) AS BIGINT)
       |         END AS bpe_tokens
       |  FROM base),
       |packed AS (
       |  SELECT doc_id, source, bpe_tokens,
       |         sum(bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM toks)
       |SELECT source, CAST((cum - bpe_tokens) // 512 AS BIGINT) AS chunk,
       |       count(*) AS docs,
       |       CAST(sum(bpe_tokens) AS BIGINT) AS chunk_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM packed
       |GROUP BY source, chunk""".stripMargin
  }

  // ── text_bpe_roundtrip ★ (r11) — DECODE invertibility of the trained
  // tokenizer: apply the merge chain, then expand it back by running the
  // replacements in REVERSE (each merged token is one unique private-use
  // char, so replace(merged → pair) walked last-to-first is the exact
  // inverse, including nested merges), and assert decode(encode(x)) == x
  // per document. The integrity witness a tokenizer ships with: a lossy
  // tokenizer silently corrupts every downstream token count and every
  // detokenized sample. Aggregated per source with token/char mass so
  // the report doubles as the compression card.
  //
  // Scale shape: two narrow codegen'd replace chains back-to-back over
  // one corpus scan + a per-source map-side-combined agg — no shuffle
  // beyond the ≤#sources rows. Training is shared through the session
  // memo (marginal cost zero after text_bpe_train).
  private[graft] def decodeExpr(merges: Seq[Merge], col: String): String =
    merges.reverse.foldLeft(col)((e, m) => s"replace($e, '${m.merged}', '${m.pair}')")

  def textBpeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(spark, dir)
    viewDocs(spark, dir)
    val enc = encodeExpr(merges, "joined")
    val dec = decodeExpr(merges, "encoded")
    spark.sql(
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |         concat_ws(' ', regexp_extract_all(lower(text), '[a-z]+', 0)) AS joined,
         |         CAST(size(regexp_extract_all(lower(text), '[a-z]+', 0)) AS BIGINT)
         |           AS n_words
         |  FROM documents),
         |enc AS (SELECT doc_id, source, joined, n_words, $enc AS encoded FROM base),
         |rt AS (
         |  SELECT doc_id, source, n_words,
         |         CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
         |              ELSE CAST(length(encoded) - (n_words - 1) AS BIGINT)
         |         END AS bpe_tokens,
         |         CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
         |              ELSE CAST(length(joined) - (n_words - 1) AS BIGINT)
         |         END AS alpha_chars,
         |         CASE WHEN $dec = joined THEN 1 ELSE 0 END AS ok
         |  FROM enc)
         |SELECT source, CAST(count(*) AS BIGINT) AS docs,
         |       CAST(sum(ok) AS BIGINT) AS roundtrip_ok,
         |       CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
         |       CAST(sum(alpha_chars) AS BIGINT) AS alpha_chars,
         |       CAST(sum(alpha_chars) * 1000 div greatest(sum(bpe_tokens), 1)
         |         AS BIGINT) AS chars_per_token_milli
         |FROM rt GROUP BY source""".stripMargin)
  }

  private def duckDecodeChain(col: String): String =
    (0 until Merges).reverse.foldLeft(col) { (e, i) =>
      s"replace($e, chr(${0xE000 + i}), coalesce((SELECT pair FROM p$i), chr(${dummyChar(i)})))"
    }

  val textBpeRoundtripSql: String = {
    val enc = duckEncodeChain("joined")
    val dec = duckDecodeChain("encoded")
    s"""WITH $oracleLevels,
       |base AS (
       |  SELECT doc_id, source,
       |         array_to_string(regexp_extract_all(lower(text), '[a-z]+'), ' ') AS joined,
       |         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
       |           AS n_words
       |  FROM documents),
       |enc AS (SELECT doc_id, source, joined, n_words, $enc AS encoded FROM base),
       |rt AS (
       |  SELECT doc_id, source, n_words,
       |         CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(length(encoded) - (n_words - 1) AS BIGINT)
       |         END AS bpe_tokens,
       |         CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(length(joined) - (n_words - 1) AS BIGINT)
       |         END AS alpha_chars,
       |         CASE WHEN $dec = joined THEN 1 ELSE 0 END AS ok
       |  FROM enc)
       |SELECT source, CAST(count(*) AS BIGINT) AS docs,
       |       CAST(sum(ok) AS BIGINT) AS roundtrip_ok,
       |       CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
       |       CAST(sum(alpha_chars) AS BIGINT) AS alpha_chars,
       |       CAST(sum(alpha_chars) * 1000 // greatest(sum(bpe_tokens), 1)
       |         AS BIGINT) AS chars_per_token_milli
       |FROM rt GROUP BY source""".stripMargin
  }

  // ── text_unigram_segment ★ (r12) — UNIGRAM-LM SUBWORD SEGMENTATION
  // (the SentencePiece-unigram inference step, Kudo 2018): the second
  // major tokenizer family next to BPE. A subword vocabulary (all
  // character 1–4-grams, scored by corpus occurrence mass) segments each
  // probe word into the MINIMUM-COST token sequence via Viterbi —
  // shortest path on the word's position DAG. Costs are integer "bits":
  // cost(g) = bitlen(total_mass) − bitlen(count(g)) + [[UniTokCost]],
  // with bitlen = length(bin(x)) (exact in both engines, the HLL rho
  // trick — no log2, no floats). The DP value packs (cost, n_tokens) as
  // cost·64 + n_tokens, so the min is simultaneously cost-then-fewest-
  // tokens and fully deterministic. The DP itself is ONE per-word array
  // fold over the edge relation ([[uniRelax]] — positions 0..len are a
  // topological order, so the whole Viterbi is a single `aggregate`
  // per word; r14, replacing the r12 round-by-round relaxation), and
  // the DuckDB oracle REPLAYS the round form as generated CTEs — every
  // hash gate machine-checks fold ≡ rounds. Single-character grams are
  // always in-vocabulary, so every word is segmentable by construction
  // — no UNK path needed.
  //
  // Scale shape (100 TB): the vocabulary build is the corpus-scale part
  // — one word-frequency aggregation (map-side combined, vocab-keyed)
  // and one bounded gram explode (≤ 42 grams/word over the DISTINCT
  // word table, never raw text). The DP runs on the top-[[UniProbes]]
  // probe table (bounded rows × ≤13 positions); production would run
  // the same relational DP over the full distinct-word table — work
  // linear in vocabulary, not corpus.
  /** Probe word length bounds (and DP round count = max token count). */
  val UniMaxLen = 12
  /** Maximum subword gram length. */
  val UniMaxGram = 4
  /** Probe words: top-N by (freq DESC, word ASC). */
  val UniProbes = 50
  /** Per-token prior cost in bits (length penalty). */
  val UniTokCost = 4

  private def uniWordsSql(explode: String, rex: String): String =
    s"""SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
       |FROM ($explode)
       |WHERE $rex
       |GROUP BY w""".stripMargin

  def textUnigramSegment(spark: SparkSession, dir: String): DataFrame = {
    viewDocs(spark, dir)
    val words = spark.sql(uniWordsSql(
      "SELECT w FROM documents LATERAL VIEW explode(split(text, ' ')) AS w",
      s"w rlike '^[a-z]{2,$UniMaxLen}$$'")).pinned()
    words.createOrReplaceTempView("uni_words_t")
    // Vocabulary: every 1..4-gram of every distinct word, weighted by
    // word frequency; integer bit costs from the corpus total.
    spark.sql(
      s"""WITH occs AS (
         |  SELECT substring(word, i, n) AS g, freq
         |  FROM uni_words_t
         |  LATERAL VIEW explode(sequence(1, length(word))) AS i
         |  LATERAL VIEW explode(sequence(1, $UniMaxGram)) AS n
         |  WHERE i + n - 1 <= length(word)),
         |cnts AS (
         |  SELECT g, CAST(sum(freq) AS BIGINT) AS cnt FROM occs GROUP BY g)
         |SELECT g, cnt,
         |       CAST(t.bltot - length(bin(cnt)) + $UniTokCost AS BIGINT) AS cost
         |FROM cnts
         |CROSS JOIN (SELECT length(bin(sum(cnt))) AS bltot FROM cnts) t""".stripMargin)
      .pinned()
      .createOrReplaceTempView("uni_vocab_t")
    // Probe DAG edges: (word, i → j) labelled with the packed step.
    spark.sql(
      s"""WITH probes AS (
         |  SELECT word, freq FROM uni_words_t
         |  ORDER BY freq DESC, word LIMIT $UniProbes),
         |pgrams AS (
         |  SELECT p.word, i - 1 AS src, i + n - 1 AS dst,
         |         substring(p.word, i, n) AS g
         |  FROM probes p
         |  LATERAL VIEW explode(sequence(1, length(p.word))) AS i
         |  LATERAL VIEW explode(sequence(1, $UniMaxGram)) AS n
         |  WHERE i + n - 1 <= length(p.word))
         |SELECT pg.word, pg.src, pg.dst, v.cost * 64 + 1 AS step
         |FROM pgrams pg JOIN uni_vocab_t v ON v.g = pg.g""".stripMargin)
      .pinned()
      .createOrReplaceTempView("uni_edges_t")
    uniRelax(spark, "uni_edges_t", "src", "dst",
      spark.sql("SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS val " +
        "FROM uni_words_t ORDER BY freq DESC, word LIMIT " + UniProbes))
      .createOrReplaceTempView("uni_dp_t")
    spark.sql(
      s"""SELECT p.word, p.freq, CAST(length(p.word) AS BIGINT) AS len,
         |       CAST(dp.val div 64 AS BIGINT) AS cost_bits,
         |       CAST(dp.val % 64 AS BIGINT) AS n_tokens
         |FROM (SELECT word, freq FROM uni_words_t
         |      ORDER BY freq DESC, word LIMIT $UniProbes) p
         |JOIN uni_dp_t dp
         |  ON dp.word = p.word AND dp.pos = length(p.word)""".stripMargin)
  }

  val textUnigramSegmentSql: String = {
    val rounds = (1 to UniMaxLen).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT word, pos, CAST(min(val) AS BIGINT) AS val FROM (
         |    SELECT word, pos, val FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.word, e.dst AS pos, p.val + e.step AS val
         |    FROM edges e JOIN d${i - 1} p
         |      ON p.word = e.word AND p.pos = e.src)
         |  GROUP BY word, pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS MATERIALIZED (
       |${uniWordsSql(
            "SELECT unnest(string_split(text, ' ')) AS w FROM documents",
            s"regexp_matches(w, '^[a-z]{2,$UniMaxLen}$$')")}),
       |occs AS (
       |  SELECT substr(word, i, n) AS g, freq
       |  FROM words,
       |       unnest(range(1, length(word) + 1)) AS t1(i),
       |       unnest(range(1, $UniMaxGram + 1)) AS t2(n)
       |  WHERE i + n - 1 <= length(word)),
       |cnts AS MATERIALIZED (
       |  SELECT g, CAST(sum(freq) AS BIGINT) AS cnt FROM occs GROUP BY g),
       |vocab AS MATERIALIZED (
       |  SELECT g, cnt,
       |         CAST(t.bltot - length(bin(cnt)) + $UniTokCost AS BIGINT) AS cost
       |  FROM cnts
       |  CROSS JOIN (SELECT length(bin(sum(cnt))) AS bltot FROM cnts) t),
       |probes AS MATERIALIZED (
       |  SELECT word, freq FROM words ORDER BY freq DESC, word LIMIT $UniProbes),
       |edges AS MATERIALIZED (
       |  SELECT p.word, i - 1 AS src, i + n - 1 AS dst,
       |         v.cost * 64 + 1 AS step
       |  FROM probes p,
       |       unnest(range(1, length(p.word) + 1)) AS t1(i),
       |       unnest(range(1, $UniMaxGram + 1)) AS t2(n)
       |  JOIN vocab v ON v.g = substr(p.word, i, n)
       |  WHERE i + n - 1 <= length(p.word)),
       |d0 AS (
       |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS val FROM probes),
       |$rounds
       |SELECT p.word, p.freq, CAST(length(p.word) AS BIGINT) AS len,
       |       CAST(dp.val // 64 AS BIGINT) AS cost_bits,
       |       CAST(dp.val % 64 AS BIGINT) AS n_tokens
       |FROM probes p
       |JOIN d$UniMaxLen dp ON dp.word = p.word AND dp.pos = length(p.word)""".stripMargin
  }

  /** Min-relaxation over a word-position DAG view (word, src, dst,
    * step) as ONE per-word array fold (r13 verdict #1 — the
    * `diversityRounds` greedy-fold lesson applied to the unigram DP):
    * the DAG is per-word bounded (≤ [[UniMaxLen]] positions, every edge
    * consumes ≥ 1 character so src < dst), so positions 0..len ARE a
    * topological order and the whole Viterbi computes in one
    * `aggregate` over `sequence(1, len)` per word — no driver loop, no
    * per-round pin/shuffle/change-count (the round form paid ~2 jobs ×
    * ≤ 14 rounds of fixed latency per invocation, and the trainer runs
    * FOUR invocations per pass). Direction comes from (`from`, `to`):
    * ("src","dst") = forward prefix costs, ("dst","src") = backward
    * suffix costs — the backward DP is the forward DP over the
    * coordinate-reflected DAG (pos ↦ len − pos), so one kernel serves
    * both. Unreachable positions fold to NULL (empty `array_min`) and
    * are dropped, exactly the rows the round form never produced.
    *
    * Equivalence is machine-checked twice: the DuckDB oracles replay the
    * ROUND form as generated CTE chains (so every hash gate proves the
    * fold ≡ rounds on the full fixture), and `UnigramSegmentSpec` pins
    * fold ≡ [[uniRelaxRounds]] directly on both directions.
    *
    * Scale shape: one groupBy(word) collect_list over the vocab-bounded
    * edge relation (map-side combined, never corpus-sized), then a
    * narrow codegen'd fold — work and state linear in |words| · len. */
  private[graft] def uniRelax(spark: SparkSession, edgesView: String,
      from: String, to: String, init: DataFrame): DataFrame = {
    require(Set(from, to) == Set("src", "dst"), s"bad direction $from->$to")
    val forward = from == "src"
    val (srcE, dstE) =
      if (forward) ("e.src", "e.dst")
      else ("length(e.word) - e.dst", "length(e.word) - e.src")
    val posE = if (forward) "i" else "len - i"
    init.select("word").distinct()
      .createOrReplaceTempView("uni_relax_words_t")
    spark.sql(
      s"""WITH rel AS (
         |  SELECT e.word, $srcE AS s, $dstE AS t, e.step
         |  FROM $edgesView e),
         |wes AS (
         |  SELECT w.word, length(w.word) AS len, r.es
         |  FROM uni_relax_words_t w
         |  LEFT JOIN (SELECT word, collect_list(struct(s, t, step)) AS es
         |             FROM rel GROUP BY word) r ON r.word = w.word),
         |dp AS (
         |  SELECT word, len,
         |         aggregate(
         |           sequence(1, len),
         |           array(CAST(0 AS BIGINT)),
         |           (acc, p) -> array_append(acc,
         |             array_min(transform(
         |               filter(es, x -> x.t = p
         |                 AND element_at(acc, x.s + 1) IS NOT NULL),
         |               x -> element_at(acc, x.s + 1) + x.step)))) AS vals
         |  FROM wes)
         |SELECT word, $posE AS pos, val
         |FROM dp
         |LATERAL VIEW posexplode(vals) pe AS i, val
         |WHERE val IS NOT NULL""".stripMargin)
      .pinned()
  }

  /** The r13 round-by-round relaxation (pinned per round, the graph_bfs
    * loop), kept as the executable specification [[uniRelax]] is checked
    * against in `UnigramSegmentSpec` — and the form every DuckDB oracle
    * replays. Bound: no path has more than UniMaxLen edges, so the
    * round-UniMaxLen vector is provably final; the loop allows ONE extra
    * observation round (ADVICE r12: an optimum of exactly UniMaxLen
    * single-char tokens first materializes in round UniMaxLen), keeping
    * the require a real DP-bug guard instead of a false alarm. */
  private[graft] def uniRelaxRounds(spark: SparkSession, edgesView: String,
      from: String, to: String, init: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val edges = spark.table(edgesView)
    var d = init.pinned()
    var changed = -1L
    var round = 0
    while (changed != 0L && round < UniMaxLen + 1) {
      val next = d.union(
          edges.join(d, edges("word") === d("word") && edges(from) === d("pos"))
            .select(edges("word"), edges(to).as("pos"),
              (col("val") + col("step")).as("val")))
        .groupBy("word", "pos").agg(min(col("val")).as("val"))
        .pinned()
      changed = next.as("a")
        .join(d.as("b"),
          col("a.word") === col("b.word") && col("a.pos") === col("b.pos"),
          "full_outer")
        .where(col("a.val").isNull || col("b.val").isNull ||
          col("a.val") =!= col("b.val"))
        .count()
      d = next
      round += 1
    }
    require(changed == 0,
      s"unigram DP not a fixpoint after ${UniMaxLen + 1} rounds" +
        " — impossible for ≤ UniMaxLen-char words unless the DP is wrong")
    d
  }

  // ── text_unigram_train ★ (r13) — UNIGRAM-LM VOCABULARY TRAINING
  // (SentencePiece's EM + prune loop, Kudo 2018 — the half COVERAGE
  // named; the shipped Viterbi DP is the E-step, exactly as promised):
  // [[UniTrainKeep]].size fixed EM rounds, each
  //  1. E-step: Viterbi-segment every probe word under the CURRENT
  //     costs — run the DP FORWARD and BACKWARD, then an edge lies on
  //     an optimal path iff f(src) + step + b(dst) = f(len). (The
  //     packed (cost·64 + n_tokens) value makes "optimal" exact; when
  //     genuine ties leave several optimal paths, ALL their edges
  //     count — a deterministic hard-EM attribution both engines
  //     compute identically, where SentencePiece's sampling variant
  //     would be irreproducible.)
  //  2. M-step: usage(g) = Σ freq(word) over on-path edges; add-one
  //     smoothed counts re-derive the integer bit costs
  //     (bltot − bitlen(cnt) + [[UniTokCost]] — the inference scheme).
  //  3. PRUNE by likelihood loss: loss(g) = usage(g) · (charsum(g) −
  //     cost(g)) — the exact cost increase if g's occurrences fall
  //     back to single characters, the standard first-order upper
  //     bound on removal loss (single chars are never pruned, so the
  //     fallback always exists and every word stays segmentable).
  //     Keep the top-K multi-char grams by (loss DESC, g); K shrinks
  //     per round ([[UniTrainKeep]]).
  // All integers end to end; the DuckDB oracle replays every EM round
  // — both DP directions as generated CTE chains — so the hash gate
  // proves the TRAINING TRAJECTORY, not just the final table (the
  // text_bpe_train discipline).
  //
  // Scale shape (100 TB): the corpus-scale work is the one word-freq
  // aggregation + bounded gram explode the inference query already
  // does; EM rounds run on the bounded probe DAG (rows ≤ probes ×
  // positions) and the vocabulary relation — work linear in vocab,
  // never corpus. Production swaps the probe table for the full
  // distinct-word table; the per-round shape is unchanged.
  /** Multi-char grams kept per EM round (round count = length). */
  val UniTrainKeep: Seq[Int] = Seq(48, 32)

  /** Trains the vocabulary; leaves the final kept relation in view
    * `unit_keep_t` (g, cnt, usage, cost, loss) and the probe/DAG
    * relations in `unit_probes_t` / `unit_pgrams_t` for the trained-
    * segmentation consumer. Memoized per (session, dir): train and
    * segment-trained share one training run per pass. */
  private def trainUnigram(spark: SparkSession, dir: String): Unit = {
    val (probes, pgrams, keep) = graft.operators.SessionMemo.cached(
      spark, s"unitrain/$dir")(trainUnigramBuild(spark, dir))
    probes.createOrReplaceTempView("unit_probes_t")
    pgrams.createOrReplaceTempView("unit_pgrams_t")
    keep.createOrReplaceTempView("unit_keep_t")
  }

  /** Builds the training relations; the memo-shared ones (probes, probe
    * DAG, final kept vocabulary) are materialized through
    * sharedCheckpoint DIRECTLY at creation — the r13 form pinned each
    * and then re-checkpointed for the memo, paying 3 extra sequential
    * jobs per training run. */
  private def trainUnigramBuild(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    viewDocs(spark, dir)
    val words = spark.sql(uniWordsSql(
      "SELECT w FROM documents LATERAL VIEW explode(split(text, ' ')) AS w",
      s"w rlike '^[a-z]{2,$UniMaxLen}$$'")).pinned()
    words.createOrReplaceTempView("uni_words_t")
    val probes = graft.operators.PinnedStages.sharedCheckpoint(spark.sql(
      s"""SELECT word, freq FROM uni_words_t
         |ORDER BY freq DESC, word LIMIT $UniProbes""".stripMargin))
    probes.createOrReplaceTempView("unit_probes_t")
    // keep0 = the inference query's full occurrence-mass vocabulary.
    spark.sql(
      s"""WITH occs AS (
         |  SELECT substring(word, i, n) AS g, freq
         |  FROM uni_words_t
         |  LATERAL VIEW explode(sequence(1, length(word))) AS i
         |  LATERAL VIEW explode(sequence(1, $UniMaxGram)) AS n
         |  WHERE i + n - 1 <= length(word)),
         |cnts AS (
         |  SELECT g, CAST(sum(freq) AS BIGINT) AS cnt FROM occs GROUP BY g)
         |SELECT g, cnt, CAST(0 AS BIGINT) AS usage,
         |       CAST(t.bltot - length(bin(cnt)) + $UniTokCost AS BIGINT) AS cost,
         |       CAST(0 AS BIGINT) AS loss
         |FROM cnts
         |CROSS JOIN (SELECT length(bin(sum(cnt))) AS bltot FROM cnts) t""".stripMargin)
      .pinned()
      .createOrReplaceTempView("unit_keep0_t")
    // Static probe DAG (gram labels; the per-round step joins in costs).
    val pgrams = graft.operators.PinnedStages.sharedCheckpoint(spark.sql(
      s"""SELECT p.word, i - 1 AS src, i + n - 1 AS dst,
         |       substring(p.word, i, n) AS g
         |FROM unit_probes_t p
         |LATERAL VIEW explode(sequence(1, length(p.word))) AS i
         |LATERAL VIEW explode(sequence(1, $UniMaxGram)) AS n
         |WHERE i + n - 1 <= length(p.word)""".stripMargin))
    pgrams.createOrReplaceTempView("unit_pgrams_t")
    // ONE SQL per EM round (r13 verdict #1, second half): the edge join,
    // BOTH DP directions (two array folds over the same collected edge
    // arrays — the backward DP is the forward fold over the reflected
    // coordinates, see uniRelax), the edge-on-optimal-path test (pure
    // element_at probes into the two DP arrays), and the usage/cost/
    // prune tail all run in one pinned statement — the round previously
    // paid 4 sequential pinned jobs (edges, forward relax, backward
    // relax, keep) plus the relax loops' own change-count jobs. The
    // DuckDB oracle still replays the ROUND-BY-ROUND form, so every
    // hash gate machine-checks this fusion.
    val keeps = UniTrainKeep.zipWithIndex.map { case (keepK, r0) =>
      val r = r0 + 1
      val kdf = spark.sql(
        s"""WITH edges AS (
           |  SELECT pg.word, pg.src, pg.dst, pg.g, v.cost * 64 + 1 AS step
           |  FROM unit_pgrams_t pg
           |  JOIN unit_keep${r - 1}_t v ON v.g = pg.g),
           |wes AS (
           |  SELECT word, length(word) AS len,
           |         collect_list(struct(src, dst, g, step)) AS es
           |  FROM edges GROUP BY word),
           |dp AS (
           |  SELECT word, len, es,
           |         aggregate(sequence(1, len), array(CAST(0 AS BIGINT)),
           |           (acc, p) -> array_append(acc,
           |             array_min(transform(
           |               filter(es, x -> x.dst = p
           |                 AND element_at(acc, x.src + 1) IS NOT NULL),
           |               x -> element_at(acc, x.src + 1) + x.step)))) AS f,
           |         aggregate(sequence(1, len), array(CAST(0 AS BIGINT)),
           |           (acc, p) -> array_append(acc,
           |             array_min(transform(
           |               filter(es, x -> len - x.src = p
           |                 AND element_at(acc, len - x.dst + 1) IS NOT NULL),
           |               x -> element_at(acc, len - x.dst + 1) + x.step))))
           |           AS br
           |  FROM wes),
           |onpath AS (
           |  SELECT dp.word, e.g
           |  FROM dp LATERAL VIEW explode(es) ee AS e
           |  WHERE element_at(f, e.src + 1) IS NOT NULL
           |    AND element_at(br, len - e.dst + 1) IS NOT NULL
           |    AND element_at(f, e.src + 1) + e.step
           |        + element_at(br, len - e.dst + 1) = element_at(f, len + 1)),
           |usg AS (
           |  SELECT o.g, CAST(sum(p.freq) AS BIGINT) AS usage
           |  FROM onpath o JOIN unit_probes_t p ON p.word = o.word
           |  GROUP BY o.g),
           |cnt AS (
           |  SELECT k.g, CAST(coalesce(u.usage, 0) + 1 AS BIGINT) AS cnt,
           |         CAST(coalesce(u.usage, 0) AS BIGINT) AS usage
           |  FROM unit_keep${r - 1}_t k LEFT JOIN usg u ON u.g = k.g),
           |voc AS (
           |  SELECT c.g, c.cnt, c.usage,
           |         CAST(t.bltot - length(bin(c.cnt)) + $UniTokCost AS BIGINT)
           |           AS cost
           |  FROM cnt c
           |  CROSS JOIN (SELECT length(bin(sum(cnt))) AS bltot FROM cnt) t),
           |chpos AS (
           |  SELECT g, i FROM (SELECT g FROM voc WHERE length(g) >= 2)
           |  LATERAL VIEW explode(sequence(1, length(g))) AS i),
           |charsum AS (
           |  SELECT c.g, CAST(sum(cv.cost) AS BIGINT) AS charsum
           |  FROM chpos c JOIN voc cv ON cv.g = substring(c.g, c.i, 1)
           |  GROUP BY c.g),
           |loss AS (
           |  SELECT v.g, v.cnt, v.usage, v.cost,
           |         v.usage * (cs.charsum - v.cost) AS loss
           |  FROM voc v JOIN charsum cs ON cs.g = v.g)
           |SELECT g, cnt, usage, cost, CAST(0 AS BIGINT) AS loss
           |FROM voc WHERE length(g) = 1
           |UNION ALL
           |SELECT g, cnt, usage, cost, loss FROM (
           |  SELECT l.*, row_number() OVER (ORDER BY l.loss DESC, l.g) AS rk
           |  FROM loss l) WHERE rk <= $keepK""".stripMargin)
      // Intermediate rounds pin (consumed once by the next round); the
      // FINAL vocabulary goes straight to the memo's shared checkpoint.
      val mat =
        if (r == UniTrainKeep.size) graft.operators.PinnedStages.sharedCheckpoint(kdf)
        else kdf.pinned()
      mat.createOrReplaceTempView(s"unit_keep${r}_t")
      mat
    }
    val keep = keeps.last
    keep.createOrReplaceTempView("unit_keep_t")
    (probes, pgrams, keep)
  }

  def textUnigramTrain(spark: SparkSession, dir: String): DataFrame = {
    trainUnigram(spark, dir)
    spark.sql(
      """SELECT g, CAST(length(g) AS BIGINT) AS gram_len, usage, cnt,
        |       cost AS cost_bits, loss AS loss_bits
        |FROM unit_keep_t""".stripMargin)
  }

  // ── text_unigram_segment_trained ★ (r13) — the inference DP over the
  // TRAINED vocabulary (train → segment wiring; the untrained
  // text_unigram_segment stays in the catalog as the ablation
  // baseline). Same output shape; the cost/n_tokens differences
  // against the baseline are exactly what the EM rounds bought.
  def textUnigramSegmentTrained(spark: SparkSession, dir: String): DataFrame = {
    // Re-register `documents` for THIS dir unconditionally (ADVICE r13):
    // trainUnigram only registers it on a memo MISS, so a memo hit in a
    // session where another query re-pointed the view would otherwise
    // leave a stale corpus under any downstream reference.
    viewDocs(spark, dir)
    trainUnigram(spark, dir)
    // One statement, no intermediate pins (the fused-EM-round shape):
    // only the FINAL DP position is needed, so the fold's last element
    // is read directly. The inner join of the round form dropped words
    // unreachable at pos = len (never happens — single chars are always
    // kept); `val IS NOT NULL` preserves that contract exactly.
    spark.sql(
      s"""WITH sedges AS (
         |  SELECT pg.word, pg.src, pg.dst, v.cost * 64 + 1 AS step
         |  FROM unit_pgrams_t pg JOIN unit_keep_t v ON v.g = pg.g),
         |wes AS (
         |  SELECT word, collect_list(struct(src, dst, step)) AS es
         |  FROM sedges GROUP BY word),
         |dp AS (
         |  SELECT p.word, p.freq, length(p.word) AS len,
         |         element_at(
         |           aggregate(sequence(1, length(p.word)),
         |             array(CAST(0 AS BIGINT)),
         |             (acc, q) -> array_append(acc,
         |               array_min(transform(
         |                 filter(r.es, x -> x.dst = q
         |                   AND element_at(acc, x.src + 1) IS NOT NULL),
         |                 x -> element_at(acc, x.src + 1) + x.step)))),
         |           length(p.word) + 1) AS val
         |  FROM unit_probes_t p
         |  LEFT JOIN wes r ON r.word = p.word)
         |SELECT word, freq, CAST(len AS BIGINT) AS len,
         |       CAST(val div 64 AS BIGINT) AS cost_bits,
         |       CAST(val % 64 AS BIGINT) AS n_tokens
         |FROM dp WHERE val IS NOT NULL""".stripMargin)
  }

  /** DuckDB EM-round CTE chain (the full training trajectory). */
  private def uniTrainCtesDuck: String = {
    def dpRounds(px: String, edges: String, from: String, to: String) =
      (1 to UniMaxLen).map { i =>
        s"""$px$i AS MATERIALIZED (
           |  SELECT word, pos, CAST(min(val) AS BIGINT) AS val FROM (
           |    SELECT word, pos, val FROM $px${i - 1}
           |    UNION ALL
           |    SELECT e.word, e.$to AS pos, p.val + e.step AS val
           |    FROM $edges e JOIN $px${i - 1} p
           |      ON p.word = e.word AND p.pos = e.$from)
           |  GROUP BY word, pos)""".stripMargin
      }.mkString(",\n")
    val rounds = UniTrainKeep.zipWithIndex.map { case (keepK, r0) =>
      val r = r0 + 1
      s"""edges$r AS MATERIALIZED (
         |  SELECT pg.word, pg.src, pg.dst, pg.g, v.cost * 64 + 1 AS step
         |  FROM pgrams pg JOIN keep${r - 1} v ON v.g = pg.g),
         |f${r}_0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS val FROM probes),
         |${dpRounds(s"f${r}_", s"edges$r", "src", "dst")},
         |b${r}_0 AS (
         |  SELECT word, length(word) AS pos, CAST(0 AS BIGINT) AS val
         |  FROM probes),
         |${dpRounds(s"b${r}_", s"edges$r", "dst", "src")},
         |onpath$r AS (
         |  SELECT e.word, e.g
         |  FROM edges$r e
         |  JOIN f${r}_$UniMaxLen f ON f.word = e.word AND f.pos = e.src
         |  JOIN b${r}_$UniMaxLen b ON b.word = e.word AND b.pos = e.dst
         |  JOIN f${r}_$UniMaxLen t ON t.word = e.word AND t.pos = length(e.word)
         |  WHERE f.val + e.step + b.val = t.val),
         |usg$r AS (
         |  SELECT o.g, CAST(sum(p.freq) AS BIGINT) AS usage
         |  FROM onpath$r o JOIN probes p ON p.word = o.word
         |  GROUP BY o.g),
         |cnt$r AS MATERIALIZED (
         |  SELECT k.g, CAST(coalesce(u.usage, 0) + 1 AS BIGINT) AS cnt,
         |         CAST(coalesce(u.usage, 0) AS BIGINT) AS usage
         |  FROM keep${r - 1} k LEFT JOIN usg$r u ON u.g = k.g),
         |voc$r AS MATERIALIZED (
         |  SELECT c.g, c.cnt, c.usage,
         |         CAST(t.bltot - length(bin(c.cnt)) + $UniTokCost AS BIGINT)
         |           AS cost
         |  FROM cnt$r c
         |  CROSS JOIN (SELECT length(bin(sum(cnt))) AS bltot FROM cnt$r) t),
         |charsum$r AS (
         |  SELECT v.g, CAST(sum(cv.cost) AS BIGINT) AS charsum
         |  FROM (SELECT g FROM voc$r WHERE length(g) >= 2) v,
         |       unnest(range(1, length(v.g) + 1)) AS t(i)
         |  JOIN voc$r cv ON cv.g = substr(v.g, i, 1)
         |  GROUP BY v.g),
         |loss$r AS (
         |  SELECT v.g, v.cnt, v.usage, v.cost,
         |         v.usage * (cs.charsum - v.cost) AS loss
         |  FROM voc$r v JOIN charsum$r cs ON cs.g = v.g),
         |keep$r AS MATERIALIZED (
         |  SELECT g, cnt, usage, cost, CAST(0 AS BIGINT) AS loss
         |  FROM voc$r WHERE length(g) = 1
         |  UNION ALL
         |  SELECT g, cnt, usage, cost, loss FROM (
         |    SELECT l.*, row_number() OVER (ORDER BY l.loss DESC, l.g) AS rk
         |    FROM loss$r l) WHERE rk <= $keepK)""".stripMargin
    }.mkString(",\n")
    s"""words AS MATERIALIZED (
       |${uniWordsSql(
            "SELECT unnest(string_split(text, ' ')) AS w FROM documents",
            s"regexp_matches(w, '^[a-z]{2,$UniMaxLen}$$')")}),
       |probes AS MATERIALIZED (
       |  SELECT word, freq FROM words ORDER BY freq DESC, word LIMIT $UniProbes),
       |occs AS (
       |  SELECT substr(word, i, n) AS g, freq
       |  FROM words,
       |       unnest(range(1, length(word) + 1)) AS t1(i),
       |       unnest(range(1, $UniMaxGram + 1)) AS t2(n)
       |  WHERE i + n - 1 <= length(word)),
       |cnts AS MATERIALIZED (
       |  SELECT g, CAST(sum(freq) AS BIGINT) AS cnt FROM occs GROUP BY g),
       |keep0 AS MATERIALIZED (
       |  SELECT g, cnt, CAST(0 AS BIGINT) AS usage,
       |         CAST(t.bltot - length(bin(cnt)) + $UniTokCost AS BIGINT) AS cost,
       |         CAST(0 AS BIGINT) AS loss
       |  FROM cnts
       |  CROSS JOIN (SELECT length(bin(sum(cnt))) AS bltot FROM cnts) t),
       |pgrams AS MATERIALIZED (
       |  SELECT p.word, i - 1 AS src, i + n - 1 AS dst,
       |         substr(p.word, i, n) AS g
       |  FROM probes p,
       |       unnest(range(1, length(p.word) + 1)) AS t1(i),
       |       unnest(range(1, $UniMaxGram + 1)) AS t2(n)
       |  WHERE i + n - 1 <= length(p.word)),
       |$rounds""".stripMargin
  }

  val textUnigramTrainSql: String =
    s"""WITH $uniTrainCtesDuck
       |SELECT g, CAST(length(g) AS BIGINT) AS gram_len, usage, cnt,
       |       cost AS cost_bits, loss AS loss_bits
       |FROM keep${UniTrainKeep.size}""".stripMargin

  val textUnigramSegmentTrainedSql: String = {
    val dpRounds = (1 to UniMaxLen).map { i =>
      s"""sd$i AS MATERIALIZED (
         |  SELECT word, pos, CAST(min(val) AS BIGINT) AS val FROM (
         |    SELECT word, pos, val FROM sd${i - 1}
         |    UNION ALL
         |    SELECT e.word, e.dst AS pos, p.val + e.step AS val
         |    FROM sedges e JOIN sd${i - 1} p
         |      ON p.word = e.word AND p.pos = e.src)
         |  GROUP BY word, pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH $uniTrainCtesDuck,
       |sedges AS MATERIALIZED (
       |  SELECT pg.word, pg.src, pg.dst, v.cost * 64 + 1 AS step
       |  FROM pgrams pg JOIN keep${UniTrainKeep.size} v ON v.g = pg.g),
       |sd0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS val FROM probes),
       |$dpRounds
       |SELECT p.word, p.freq, CAST(length(p.word) AS BIGINT) AS len,
       |       CAST(dp.val // 64 AS BIGINT) AS cost_bits,
       |       CAST(dp.val % 64 AS BIGINT) AS n_tokens
       |FROM probes p
       |JOIN sd$UniMaxLen dp ON dp.word = p.word AND dp.pos = length(p.word)""".stripMargin
  }

  // ── text_unigram_lm_score ★ (r13) — LM-PERPLEXITY QUALITY FILTERING (the
  // CCNet/Wenzek et al. 2020 curation step: score every document by a
  // small LM's bits-per-token and filter/bucket on it), the third
  // consumer of the trained unigram vocabulary — the SUBWORD
  // complement of the word-bigram `text_lm_score` in LearnedQueries
  // (that one scores predictability from a bigram table; this one
  // scores encodability under the TRAINED tokenizer): every DISTINCT
  // scorable word gets its Viterbi minimum bit cost under
  // `text_unigram_train`'s pruned vocab — the DP now runs over the
  // FULL distinct-word relation, the production shape the trainer's
  // scale note promised (work linear in vocabulary, never corpus) —
  // and documents aggregate to per-language token counts, OOV shares
  // (tokens outside the scorable class), total bits, and the mean
  // bits-per-token in Q10 units. All integers; the DuckDB oracle
  // replays the training AND the all-words DP as generated CTEs.
  //
  // Scale shape (100 TB): one distinct-word aggregation (map-side
  // combined), the bounded-round DP over |vocab|·13 rows, one
  // broadcast-shaped cost join back onto the token stream, one
  // per-lang aggregate. The fixture's synthetic corpus has a tiny
  // closed vocabulary (30 words at sf0.1), so the DP side is
  // degenerate there — the join and aggregation shapes are what carry
  // to a real corpus.
  def textUnigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    // Unconditional view registration (ADVICE r13; see
    // textUnigramSegmentTrained) — this query reads `documents` directly.
    viewDocs(spark, dir)
    trainUnigram(spark, dir)
    // One statement end to end (no intermediate pins): distinct-word
    // scan → bounded gram explode → vocab equi-join → per-word DP fold
    // (final position only) → broadcast-shaped cost join back onto the
    // token stream → per-lang aggregate. `bits IS NOT NULL` preserves
    // the round form's inner-join contract (a word unreachable at
    // pos = len — impossible while single chars are kept — counts OOV).
    spark.sql(
      s"""WITH lwords AS (
         |  SELECT DISTINCT w AS word
         |  FROM (SELECT w FROM documents
         |        LATERAL VIEW explode(split(text, ' ')) AS w)
         |  WHERE w rlike '^[a-z]{2,$UniMaxLen}$$'),
         |grams AS (
         |  SELECT p.word, i, n
         |  FROM lwords p
         |  LATERAL VIEW explode(sequence(1, length(p.word))) AS i
         |  LATERAL VIEW explode(sequence(1, $UniMaxGram)) AS n
         |  WHERE i + n - 1 <= length(p.word)),
         |pg AS (
         |  SELECT gr.word, gr.i - 1 AS src, gr.i + gr.n - 1 AS dst,
         |         v.cost * 64 + 1 AS step
         |  FROM grams gr
         |  JOIN unit_keep_t v ON v.g = substring(gr.word, gr.i, gr.n)),
         |wes AS (
         |  SELECT word, collect_list(struct(src, dst, step)) AS es
         |  FROM pg GROUP BY word),
         |lcost AS (
         |  SELECT w.word,
         |         CAST(element_at(
         |           aggregate(sequence(1, length(w.word)),
         |             array(CAST(0 AS BIGINT)),
         |             (acc, q) -> array_append(acc,
         |               array_min(transform(
         |                 filter(r.es, x -> x.dst = q
         |                   AND element_at(acc, x.src + 1) IS NOT NULL),
         |                 x -> element_at(acc, x.src + 1) + x.step)))),
         |           length(w.word) + 1) div 64 AS BIGINT) AS bits
         |  FROM lwords w LEFT JOIN wes r ON r.word = w.word),
         |toks AS (
         |  SELECT doc_id, lang, w FROM documents
         |  LATERAL VIEW explode(split(text, ' ')) AS w),
         |scored AS (
         |  SELECT t.lang, t.doc_id,
         |         coalesce(c.bits, CAST(0 AS BIGINT)) AS bits,
         |         CASE WHEN c.word IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM toks t
         |  LEFT JOIN (SELECT word, bits FROM lcost WHERE bits IS NOT NULL) c
         |    ON c.word = t.w)
         |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(sum(1 - oov) AS BIGINT) AS tokens,
         |       CAST(sum(oov) AS BIGINT) AS oov_tokens,
         |       CAST(sum(bits) AS BIGINT) AS bits_sum,
         |       CAST(sum(bits) * 1024 div greatest(sum(1 - oov), 1) AS BIGINT)
         |         AS mean_bits_q10
         |FROM scored GROUP BY lang""".stripMargin)
  }

  val textUnigramLmScoreSql: String = {
    val dpRounds = (1 to UniMaxLen).map { i =>
      s"""ld$i AS MATERIALIZED (
         |  SELECT word, pos, CAST(min(val) AS BIGINT) AS val FROM (
         |    SELECT word, pos, val FROM ld${i - 1}
         |    UNION ALL
         |    SELECT e.word, e.dst AS pos, p.val + e.step AS val
         |    FROM ledges e JOIN ld${i - 1} p
         |      ON p.word = e.word AND p.pos = e.src)
         |  GROUP BY word, pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH $uniTrainCtesDuck,
       |lwords AS MATERIALIZED (
       |  SELECT DISTINCT w AS word
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]{2,$UniMaxLen}$$')),
       |ledges AS MATERIALIZED (
       |  SELECT p.word, i - 1 AS src, i + n - 1 AS dst,
       |         v.cost * 64 + 1 AS step
       |  FROM lwords p,
       |       unnest(range(1, length(p.word) + 1)) AS t1(i),
       |       unnest(range(1, $UniMaxGram + 1)) AS t2(n)
       |  JOIN keep${UniTrainKeep.size} v ON v.g = substr(p.word, i, n)
       |  WHERE i + n - 1 <= length(p.word)),
       |ld0 AS (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS val FROM lwords),
       |$dpRounds,
       |lcost AS MATERIALIZED (
       |  SELECT w.word, CAST(dp.val // 64 AS BIGINT) AS bits
       |  FROM lwords w
       |  JOIN ld$UniMaxLen dp ON dp.word = w.word AND dp.pos = length(w.word)),
       |toks AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |scored AS (
       |  SELECT t.lang, t.doc_id,
       |         coalesce(c.bits, CAST(0 AS BIGINT)) AS bits,
       |         CASE WHEN c.word IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM toks t LEFT JOIN lcost c ON c.word = t.w)
       |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       CAST(sum(1 - oov) AS BIGINT) AS tokens,
       |       CAST(sum(oov) AS BIGINT) AS oov_tokens,
       |       CAST(sum(bits) AS BIGINT) AS bits_sum,
       |       CAST(sum(bits) * 1024 // greatest(sum(1 - oov), 1) AS BIGINT)
       |         AS mean_bits_q10
       |FROM scored GROUP BY lang""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_train" -> (textBpeTrain _),
    "text_bpe_encode" -> (textBpeEncode _),
    "text_bpe_roundtrip" -> (textBpeRoundtrip _),
    "pipe_tokenize_pack" -> (pipeTokenizePack _),
    "text_unigram_segment" -> (textUnigramSegment _),
    "text_unigram_train" -> (textUnigramTrain _),
    "text_unigram_segment_trained" -> (textUnigramSegmentTrained _),
    "text_unigram_lm_score" -> (textUnigramLmScore _))

  val oracle: Map[String, String] = Map(
    "text_bpe_train" -> textBpeTrainSql,
    "text_bpe_encode" -> textBpeEncodeSql,
    "text_bpe_roundtrip" -> textBpeRoundtripSql,
    "pipe_tokenize_pack" -> pipeTokenizePackSql,
    "text_unigram_segment" -> textUnigramSegmentSql,
    "text_unigram_train" -> textUnigramTrainSql,
    "text_unigram_segment_trained" -> textUnigramSegmentTrainedSql,
    "text_unigram_lm_score" -> textUnigramLmScoreSql)
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import DedupQueries.{hSpark, hDuck}
import graft.operators.Pin.PinSyntax

/** Mergeable-sketch operators beyond the KMV bottom-k
  * (`sk_kmv_distinct`, in [[PipelineQueries]]) and the Misra–Gries heavy
  * hitters: HyperLogLog distinct counting (Flajolet et al. 2007) — the
  * sketch production distinct-counting actually ships (fixed 2^p
  * registers vs KMV's K hashes; register-wise max is a true semilattice,
  * so partials merge in any order).
  *
  * The engine-exactness trick: HLL's harmonic mean needs Σ 2^(−M_j),
  * whose floating sum is order-sensitive — instead fold the INTEGER
  * numerator Σ 2^(Mmax − M_j) (each term an exact BIGINT power of two,
  * and integer addition is order-free), then the estimate is
  * α·m²·2^Mmax / num with ONE float multiply chain and one division in a
  * fixed parse order — bit-equal across engines, no transcendentals
  * (rho comes from `length(bin(v))`, exact in both engines, not log2).
  *
  * Scale shape (100 TB): one narrow hash pass over the token stream
  * (duplicates collapse into the same register max — no distinct
  * needed, which is HLL's whole point), one map-side-combined
  * (group, register) MAX — 64 rows per group cross the shuffle, the HLL
  * wire cost — and a constant-size fold. The exact_distinct column is
  * the fixture-scale accuracy witness (the KMV pattern); production
  * drops it.
  */
object SketchQueries {

  /** 2^P registers. P = 6 → m = 64, standard error 1.04/√64 ≈ 13%. */
  val Registers = 64
  /** α₆₄ (Flajolet et al., m = 64). */
  val Alpha = "0.709"

  private def viewDocs(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .createOrReplaceTempView("documents")

  /** The DISTINCT (lang, 5-word-shingle) relation — the input BOTH
    * set-algebra queries (kmv_intersect, hll_union) sketch. Built and
    * pinned once per (session, dir): the shingle explode is each query's
    * dominant cost, and the sets it produces are identical, so the
    * second consumer's marginal cost drops to the sketch math. */
  private def langShingles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SessionMemo.cached(spark, s"sk/shingles/$dir") {
      viewDocs(spark, dir)
      graft.operators.PinnedStages.sharedCheckpoint(spark.sql(
        s"""SELECT DISTINCT lang, word
           |FROM (SELECT lang, ${PipelineQueries.shingleSpark("ws")} AS gs
           |      FROM (SELECT lang, split(text, ' ') AS ws FROM documents)
           |      WHERE size(ws) >= 5)
           |LATERAL VIEW explode(gs) AS word""".stripMargin))
    }

  /** Forwards to [[graft.operators.SessionMemo.clear]]; kept because the
    * perfbench catalog workload clears by family name. */
  private[graft] def clearSessionMemos(): Unit = graft.operators.SessionMemo.clear()

  // ── sk_hll_distinct ★ — per-language HLL vocabulary estimate ─────────
  //
  // Register j = h mod 64; rank value v = h div 64 (54 bits of the
  // engine-shared md5-top-60 hash); rho = 55 − length(bin(v)) — the
  // leading-zero rank, with the measure-zero v = 0 case pinned to 54 by
  // the same formula in both engines. Raw estimate only (the
  // small-range linear-counting correction needs ln(), a transcendental
  // — zero_registers is emitted so a consumer can apply it; the spec
  // pins accuracy in the raw regime instead).
  def skHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    viewDocs(spark, dir)
    spark.sql(
      s"""WITH words AS (
         |  SELECT lang, w FROM documents LATERAL VIEW explode(split(text, ' ')) AS w),
         |regs AS (
         |  SELECT lang, CAST(h % $Registers AS INT) AS j,
         |         CAST(55 - length(bin(h div $Registers)) AS INT) AS rho
         |  FROM (SELECT lang, ${hSpark("w")} AS h FROM words)),
         |maxes AS (SELECT lang, j, max(rho) AS m FROM regs GROUP BY lang, j),
         |grid AS (
         |  SELECT lang, j FROM (SELECT DISTINCT lang FROM documents)
         |  LATERAL VIEW explode(sequence(0, ${Registers - 1})) AS j),
         |filled AS (
         |  SELECT g.lang, g.j, coalesce(m.m, 0) AS m
         |  FROM grid g LEFT JOIN maxes m ON g.lang = m.lang AND g.j = m.j),
         |folded AS (
         |  SELECT lang, max(m) AS mmax,
         |         CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS zero_registers
         |  FROM filled GROUP BY lang),
         |nums AS (
         |  SELECT f.lang, fo.mmax, fo.zero_registers,
         |         CAST(sum(shiftleft(CAST(1 AS BIGINT), fo.mmax - f.m)) AS BIGINT)
         |           AS num
         |  FROM filled f JOIN folded fo ON f.lang = fo.lang
         |  GROUP BY f.lang, fo.mmax, fo.zero_registers),
         |exact AS (
         |  SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
         |  FROM words GROUP BY lang)
         |SELECT n.lang, n.zero_registers, CAST(n.mmax AS INT) AS max_register,
         |       CAST($Alpha AS DOUBLE) * ${Registers * Registers}.0
         |         * pow(2.0, CAST(n.mmax AS DOUBLE)) / n.num AS hll_estimate,
         |       e.exact_distinct
         |FROM nums n JOIN exact e ON n.lang = e.lang""".stripMargin)
  }

  val skHllDistinctSql: String =
    s"""WITH words AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
       |regs AS (
       |  SELECT lang, CAST(h % $Registers AS INT) AS j,
       |         CAST(55 - length(bin(h // $Registers)) AS INT) AS rho
       |  FROM (SELECT lang, ${hDuck("w")} AS h FROM words)),
       |maxes AS (SELECT lang, j, max(rho) AS m FROM regs GROUP BY lang, j),
       |grid AS (
       |  SELECT l.lang, CAST(t.j AS INT) AS j
       |  FROM (SELECT DISTINCT lang FROM documents) l
       |  CROSS JOIN (SELECT unnest(range(0, $Registers)) AS j) t),
       |filled AS (
       |  SELECT g.lang, g.j, coalesce(m.m, 0) AS m
       |  FROM grid g LEFT JOIN maxes m ON g.lang = m.lang AND g.j = m.j),
       |folded AS (
       |  SELECT lang, max(m) AS mmax,
       |         CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS zero_registers
       |  FROM filled GROUP BY lang),
       |nums AS (
       |  SELECT f.lang, fo.mmax, fo.zero_registers,
       |         CAST(sum(CAST(1 AS BIGINT) << (fo.mmax - f.m)) AS BIGINT) AS num
       |  FROM filled f JOIN folded fo ON f.lang = fo.lang
       |  GROUP BY f.lang, fo.mmax, fo.zero_registers),
       |exact AS (
       |  SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
       |  FROM words GROUP BY lang)
       |SELECT n.lang, n.zero_registers, CAST(n.mmax AS INT) AS max_register,
       |       CAST($Alpha AS DOUBLE) * ${Registers * Registers}.0
       |         * pow(2.0, CAST(n.mmax AS DOUBLE)) / n.num AS hll_estimate,
       |       e.exact_distinct
       |FROM nums n JOIN exact e ON n.lang = e.lang""".stripMargin

  // ── sk_sample_quantiles ★ (r11) — sampled order statistics per group
  // via the deterministic bottom-K-by-hash sample
  // (`expr/BottomKSample`, K = 256): per language, estimate the p25 /
  // p50 / p75 document length from the values carried by the K smallest
  // md5 hashes of the doc id. This completes the production sketch
  // quartet (KMV distinct, HLL, Misra–Gries heavy hitters, sampled
  // quantiles) — the per-group distribution summary a 100 TB profile
  // pass ships when the exact two-phase selection
  // (`text_length_quantiles`) is too expensive to run per group.
  //
  // Scale shape: the naive per-group sample — row_number() OVER
  // (PARTITION BY lang ORDER BY hash) — sorts every group's FULL
  // contents on one reducer per group; the aggregate instead folds
  // map-side into K-bounded buffers and ships ≤ K (hash, value) pairs
  // per group across the shuffle (bottom-k-by-hash is a semilattice, so
  // partials merge in any order). Deterministic (md5-ordered), so the
  // ESTIMATES themselves pass the binary oracle gate: DuckDB draws the
  // identical sample by sorting on the same hash.
  val SampleK = 256

  def skSampleQuantiles(spark: SparkSession, dir: String): DataFrame = {
    viewDocs(spark, dir)
    graft.expr.GraftFunctions.register(spark)
    spark.sql(
      s"""WITH s AS (
         |  SELECT lang,
         |         bottomk_sample(${hSpark("cast(doc_id as string)")},
         |                        CAST(length(text) AS BIGINT), $SampleK) AS vals
         |  FROM documents GROUP BY lang),
         |q AS (SELECT lang, array_sort(vals) AS sv, size(vals) AS n FROM s)
         |SELECT lang, CAST(n AS BIGINT) AS sample_n,
         |       element_at(sv, greatest(CAST(ceil(0.25 * n) AS INT), 1)) AS p25_est,
         |       element_at(sv, greatest(CAST(ceil(0.50 * n) AS INT), 1)) AS p50_est,
         |       element_at(sv, greatest(CAST(ceil(0.75 * n) AS INT), 1)) AS p75_est
         |FROM q""".stripMargin)
  }

  /** The oracle draws the IDENTICAL sample (bottom-K by the same md5
    * hash, min value per hash — the aggregate's collision rule) with
    * window functions, which on fixture scale is fine. */
  val skSampleQuantilesSql: String =
    s"""WITH h AS (
       |  SELECT lang, ${hDuck("CAST(doc_id AS VARCHAR)")} AS h,
       |         CAST(length(text) AS BIGINT) AS v
       |  FROM documents),
       |d AS (SELECT lang, h, min(v) AS v FROM h GROUP BY lang, h),
       |r AS (SELECT lang, v,
       |             row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
       |      FROM d),
       |s AS (SELECT lang, list(v ORDER BY v) AS sv, count(*) AS n
       |      FROM r WHERE rn <= $SampleK GROUP BY lang)
       |SELECT lang, CAST(n AS BIGINT) AS sample_n,
       |       CAST(sv[greatest(CAST(ceil(0.25 * n) AS BIGINT), 1)] AS BIGINT) AS p25_est,
       |       CAST(sv[greatest(CAST(ceil(0.50 * n) AS BIGINT), 1)] AS BIGINT) AS p50_est,
       |       CAST(sv[greatest(CAST(ceil(0.75 * n) AS BIGINT), 1)] AS BIGINT) AS p75_est
       |FROM s""".stripMargin

  // ── sk_kmv_intersect ★ (r11) — SET OPERATIONS on sketches: for every
  // unordered language pair, estimate |A∪B|, |A∩B|, and Jaccard(A,B) of
  // the two 5-word-SHINGLE sets (the shared contamination unit,
  // [[PipelineQueries.shingleSpark]] — the 31-word synthetic vocabulary
  // is fully shared across langs, so the word level is degenerate;
  // shingle sets run 3k-11k per lang with overlaps from 0 to ~200,
  // including zero-intersection pairs exercising the coalesce path)
  // from their K=256 KMV bottom-k signatures alone
  // (Beyer et al. 2007): merge the two signatures, keep the union's
  // bottom-k L, estimate the union from L's k-th smallest hash, and
  // scale by ρ = |{h ∈ L present in both signatures}| / |L|. This is the
  // sketch-algebra half the distinct-count sketches were missing — at
  // 100 TB you estimate cross-source overlap WITHOUT ever co-scanning the
  // two sources: each source ships 256 longs, the pair math is constant.
  //
  // Deterministic (engine-shared md5-top-60 hash), so estimates pass the
  // binary oracle gate; exact intersection/Jaccard ride along as the
  // fixture-scale accuracy witness (production drops them).
  //
  // Scale shape: one per-language KmvBottomK fold (≤K longs/group across
  // the shuffle), then all pair work happens on #langs·K rows — the
  // lang-pair grid is |langs|² (bounded by construction, broadcast); the
  // exact witness is a vocabulary equi-join on the word (each word ≤1 row
  // per lang after DISTINCT — no fanout).
  def skKmvIntersect(spark: SparkSession, dir: String): DataFrame = {
    viewDocs(spark, dir)
    graft.expr.GraftFunctions.register(spark)
    // The distinct shingle relation feeds THREE consumers here plus the
    // hll_union sibling: served from the shared session memo.
    langShingles(spark, dir).createOrReplaceTempView("kmv_words_t")
    spark.sql(
      s"""WITH words AS (SELECT lang, word FROM kmv_words_t),
         |hashed AS (SELECT lang, ${hSpark("word")} AS h FROM words),
         |sigs AS (
         |  SELECT lang, h
         |  FROM (SELECT lang, kmv_bottomk(h, 256) AS bk FROM hashed GROUP BY lang)
         |  LATERAL VIEW explode(bk) AS h),
         |pairs AS (
         |  SELECT a.lang AS l1, b.lang AS l2
         |  FROM (SELECT DISTINCT lang FROM documents) a
         |  JOIN (SELECT DISTINCT lang FROM documents) b ON a.lang < b.lang),
         |merged AS (
         |  SELECT p.l1, p.l2, s.h FROM pairs p JOIN sigs s ON s.lang = p.l1
         |  UNION
         |  SELECT p.l1, p.l2, s.h FROM pairs p JOIN sigs s ON s.lang = p.l2),
         |unionk AS (
         |  SELECT l1, l2, h,
         |         row_number() OVER (PARTITION BY l1, l2 ORDER BY h) AS rnk
         |  FROM merged),
         |l AS (SELECT l1, l2, h FROM unionk WHERE rnk <= 256),
         |folded AS (
         |  SELECT l1, l2, CAST(count(*) AS BIGINT) AS k_used, max(h) AS hk
         |  FROM l GROUP BY l1, l2),
         |rho AS (
         |  SELECT l.l1, l.l2, CAST(count(*) AS BIGINT) AS rho_num
         |  FROM l
         |  JOIN sigs s1 ON s1.lang = l.l1 AND s1.h = l.h
         |  JOIN sigs s2 ON s2.lang = l.l2 AND s2.h = l.h
         |  GROUP BY l.l1, l.l2),
         |sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY lang),
         |inter_exact AS (
         |  SELECT w1.lang AS l1, w2.lang AS l2, CAST(count(*) AS BIGINT) AS n_inter
         |  FROM words w1 JOIN words w2 ON w1.word = w2.word AND w1.lang < w2.lang
         |  GROUP BY w1.lang, w2.lang),
         |est AS (
         |  SELECT f.l1, f.l2, f.k_used, coalesce(r.rho_num, 0) AS rho_num,
         |         CASE WHEN f.k_used < 256 THEN CAST(f.k_used AS DOUBLE)
         |              ELSE CAST(f.k_used - 1 AS DOUBLE)
         |                   / (CAST(f.hk AS DOUBLE) / CAST($kmvNorm AS DOUBLE))
         |         END AS union_est
         |  FROM folded f LEFT JOIN rho r ON f.l1 = r.l1 AND f.l2 = r.l2)
         |SELECT e.l1 AS lang_a, e.l2 AS lang_b, e.k_used, e.rho_num,
         |       e.union_est,
         |       CAST(e.rho_num AS DOUBLE) / e.k_used * e.union_est AS inter_est,
         |       CAST(e.rho_num AS DOUBLE) / e.k_used AS jaccard_est,
         |       CAST(coalesce(x.n_inter, 0) AS BIGINT) AS exact_inter,
         |       CAST(coalesce(x.n_inter, 0) AS DOUBLE)
         |         / (s1.n + s2.n - coalesce(x.n_inter, 0)) AS exact_jaccard
         |FROM est e
         |LEFT JOIN inter_exact x ON e.l1 = x.l1 AND e.l2 = x.l2
         |JOIN sizes s1 ON s1.lang = e.l1
         |JOIN sizes s2 ON s2.lang = e.l2""".stripMargin)
  }

  private val kmvNorm = "1152921504606846976" // 2^60: 15 hex chars of md5

  // DuckDB has no custom aggregates: the signature is the ranked window
  // over each language's distinct hashes — that this matches the
  // partial-merged KmvBottomK path bit-for-bit IS the mergeability claim.
  val skKmvIntersectSql: String =
    s"""WITH words AS (
       |  SELECT DISTINCT lang, unnest(${PipelineQueries.shingleDuck("ws")}) AS word
       |  FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents)
       |  WHERE len(ws) >= 5),
       |hashed AS (SELECT lang, ${hDuck("word")} AS h FROM words),
       |sigs AS (
       |  SELECT lang, h
       |  FROM (SELECT lang, h,
       |          row_number() OVER (PARTITION BY lang ORDER BY h) AS rnk
       |        FROM hashed)
       |  WHERE rnk <= 256),
       |pairs AS (
       |  SELECT a.lang AS l1, b.lang AS l2
       |  FROM (SELECT DISTINCT lang FROM documents) a
       |  JOIN (SELECT DISTINCT lang FROM documents) b ON a.lang < b.lang),
       |merged AS (
       |  SELECT p.l1, p.l2, s.h FROM pairs p JOIN sigs s ON s.lang = p.l1
       |  UNION
       |  SELECT p.l1, p.l2, s.h FROM pairs p JOIN sigs s ON s.lang = p.l2),
       |unionk AS (
       |  SELECT l1, l2, h,
       |         row_number() OVER (PARTITION BY l1, l2 ORDER BY h) AS rnk
       |  FROM merged),
       |l AS (SELECT l1, l2, h FROM unionk WHERE rnk <= 256),
       |folded AS (
       |  SELECT l1, l2, CAST(count(*) AS BIGINT) AS k_used, max(h) AS hk
       |  FROM l GROUP BY l1, l2),
       |rho AS (
       |  SELECT l.l1, l.l2, CAST(count(*) AS BIGINT) AS rho_num
       |  FROM l
       |  JOIN sigs s1 ON s1.lang = l.l1 AND s1.h = l.h
       |  JOIN sigs s2 ON s2.lang = l.l2 AND s2.h = l.h
       |  GROUP BY l.l1, l.l2),
       |sizes AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY lang),
       |inter_exact AS (
       |  SELECT w1.lang AS l1, w2.lang AS l2, CAST(count(*) AS BIGINT) AS n_inter
       |  FROM words w1 JOIN words w2 ON w1.word = w2.word AND w1.lang < w2.lang
       |  GROUP BY w1.lang, w2.lang),
       |est AS (
       |  SELECT f.l1, f.l2, f.k_used, coalesce(r.rho_num, 0) AS rho_num,
       |         CASE WHEN f.k_used < 256 THEN CAST(f.k_used AS DOUBLE)
       |              ELSE CAST(f.k_used - 1 AS DOUBLE)
       |                   / (CAST(f.hk AS DOUBLE) / CAST($kmvNorm AS DOUBLE))
       |         END AS union_est
       |  FROM folded f LEFT JOIN rho r ON f.l1 = r.l1 AND f.l2 = r.l2)
       |SELECT e.l1 AS lang_a, e.l2 AS lang_b, e.k_used, e.rho_num,
       |       e.union_est,
       |       CAST(e.rho_num AS DOUBLE) / e.k_used * e.union_est AS inter_est,
       |       CAST(e.rho_num AS DOUBLE) / e.k_used AS jaccard_est,
       |       CAST(coalesce(x.n_inter, 0) AS BIGINT) AS exact_inter,
       |       CAST(coalesce(x.n_inter, 0) AS DOUBLE)
       |         / (s1.n + s2.n - coalesce(x.n_inter, 0)) AS exact_jaccard
       |FROM est e
       |LEFT JOIN inter_exact x ON e.l1 = x.l1 AND e.l2 = x.l2
       |JOIN sizes s1 ON s1.lang = e.l1
       |JOIN sizes s2 ON s2.lang = e.l2""".stripMargin

  // ── sk_cms_topk ★ (r11) — Count-Min Sketch point estimates ───────────
  //
  // The frequency-sketch member the family was missing (Cormode &
  // Muthukrishnan 2005): a DEPTH × WIDTH grid of counters, item x
  // incrementing cell (i, h_i(x) mod WIDTH) in every row; a point
  // estimate is the MIN over the item's DEPTH cells — always an
  // OVERestimate (collisions only add), with error ≤ 2N/WIDTH at
  // probability 1 − 2^−DEPTH. Counted items are word BIGRAMS (≈900
  // distinct at fixture scale vs WIDTH = 256, so collisions are REAL —
  // the overcount column is non-zero and the estimate≥exact inequality
  // is exercised, not vacuous). Row hashes are the engine-shared
  // md5-top-60 salted by the row index, so both engines build the
  // identical grid and the ESTIMATES pass the binary gate.
  //
  // Scale shape (100 TB): the sketch is DEPTH·WIDTH = 1024 counters —
  // a map-side-combined (row, cell) SUM whose shuffle cost is the
  // sketch size, independent of corpus size (counter addition is
  // commutative: partials merge in any order — the mergeability CMS
  // exists for). Probing is a DEPTH·K-row broadcast against the grid.
  // The exact_n witness is the fixture-scale accuracy check; production
  // feeds the probe set from the Misra–Gries heavy hitters
  // (`text_heavy_hitters`) instead of an exact second pass.
  val CmsDepth = 4
  val CmsWidth = 256
  /** Probe the K most frequent bigrams (deterministic ties by gram). */
  val CmsProbeK = 20

  def skCmsTopk(spark: SparkSession, dir: String): DataFrame = {
    viewDocs(spark, dir)
    graft.expr.GraftFunctions.register(spark)
    // One map-side-combined count over the occurrence stream FIRST, then
    // everything downstream (grid + witness) works on the ~900 distinct
    // grams: counter addition commutes, so hashing each distinct gram
    // once per depth row and SUMMING its count builds the bit-identical
    // grid at DEPTH·|vocab| md5 calls instead of DEPTH·N (the dominant
    // cost of the naive spelling). Pinned: two consumers.
    spark.sql(
      """SELECT gram, CAST(count(*) AS BIGINT) AS n
        |FROM documents LATERAL VIEW explode(word_bigrams(text)) AS gram
        |GROUP BY gram""".stripMargin)
      .pinned()
      .createOrReplaceTempView("cms_counts_t")
    spark.sql(
      s"""WITH cells AS (
         |  SELECT i, ${hSpark("concat(cast(i as string), ':', gram)")} % $CmsWidth AS cell,
         |         CAST(sum(n) AS BIGINT) AS c
         |  FROM cms_counts_t LATERAL VIEW explode(sequence(0, ${CmsDepth - 1})) AS i
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT gram, n AS exact_n
         |  FROM cms_counts_t
         |  ORDER BY exact_n DESC, gram LIMIT $CmsProbeK),
         |probe AS (
         |  SELECT e.gram, e.exact_n, i,
         |         ${hSpark("concat(cast(i as string), ':', e.gram)")} % $CmsWidth AS cell
         |  FROM exact e LATERAL VIEW explode(sequence(0, ${CmsDepth - 1})) AS i)
         |SELECT p.gram AS bigram, p.exact_n, min(c.c) AS cms_est,
         |       min(c.c) - p.exact_n AS overcount
         |FROM probe p JOIN cells c ON c.i = p.i AND c.cell = p.cell
         |GROUP BY p.gram, p.exact_n""".stripMargin)
  }

  val skCmsTopkSql: String =
    s"""WITH grams AS (
       |  SELECT unnest(list_transform(range(1, len(ws)),
       |                               i -> ws[i] || ' ' || ws[i + 1])) AS gram
       |  FROM (SELECT string_split(text, ' ') AS ws FROM documents)),
       |cells AS (
       |  SELECT i, ${hDuck("CAST(i AS VARCHAR) || ':' || gram")} % $CmsWidth AS cell,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM grams CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS i) d
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT gram, CAST(count(*) AS BIGINT) AS exact_n FROM grams GROUP BY gram
       |  ORDER BY exact_n DESC, gram LIMIT $CmsProbeK),
       |probe AS (
       |  SELECT e.gram, e.exact_n, i.i,
       |         ${hDuck("CAST(i.i AS VARCHAR) || ':' || e.gram")} % $CmsWidth AS cell
       |  FROM exact e CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS i) i)
       |SELECT p.gram AS bigram, p.exact_n, min(c.c) AS cms_est,
       |       min(c.c) - p.exact_n AS overcount
       |FROM probe p JOIN cells c ON c.i = p.i AND c.cell = p.cell
       |GROUP BY p.gram, p.exact_n""".stripMargin

  // ── sk_hll_union ★ (r11) — HLL SET ALGEBRA across sketches ───────────
  //
  // The HLL sibling of sk_kmv_intersect: for every unordered language
  // pair, estimate |A|, |B|, |A∪B| from the REGISTERS ALONE — the union
  // sketch is the register-wise MAX of the two sketches (exactly the
  // sketch either engine would have built over the concatenated streams:
  // max is a semilattice, so HLL union is LOSSLESS, HLL's headline
  // property) — and |A∩B| by inclusion–exclusion. At 100 TB each source
  // ships 64 registers; all pair math is constant-size, no co-scan. The
  // integer Σ2^(Mmax−Mj) fold keeps every estimate engine-exact (same
  // discipline as sk_hll_distinct); word-level exact witnesses ride
  // along at fixture scale.
  //
  // Counted items are the 5-word SHINGLES (the kmv_intersect unit — the
  // word vocabulary is fully shared across langs, so word-level overlap
  // is degenerate; shingle sets have real partial overlaps, so
  // inclusion–exclusion produces a spread of intersection estimates).
  def skHllUnion(spark: SparkSession, dir: String): DataFrame = {
    viewDocs(spark, dir)
    // Distinct (lang, shingle) feeds register build + both exact
    // witnesses here, plus the kmv_intersect sibling: shared memo.
    langShingles(spark, dir).createOrReplaceTempView("hllu_words_t")
    val est = s"CAST($Alpha AS DOUBLE) * ${Registers * Registers}.0"
    spark.sql(
      s"""WITH regs AS (
         |  SELECT lang, CAST(h % $Registers AS INT) AS j,
         |         CAST(55 - length(bin(h div $Registers)) AS INT) AS rho
         |  FROM (SELECT lang, ${hSpark("word")} AS h FROM hllu_words_t)),
         |maxes AS (SELECT lang, j, max(rho) AS m FROM regs GROUP BY lang, j),
         |grid AS (
         |  SELECT lang, j FROM (SELECT DISTINCT lang FROM hllu_words_t)
         |  LATERAL VIEW explode(sequence(0, ${Registers - 1})) AS j),
         |filled AS (
         |  SELECT g.lang, g.j, coalesce(m.m, 0) AS m
         |  FROM grid g LEFT JOIN maxes m ON g.lang = m.lang AND g.j = m.j),
         |single AS (
         |  SELECT lang, max(m) AS mmax FROM filled GROUP BY lang),
         |single_num AS (
         |  SELECT f.lang, s.mmax,
         |         CAST(sum(shiftleft(CAST(1 AS BIGINT), s.mmax - f.m)) AS BIGINT)
         |           AS num
         |  FROM filled f JOIN single s ON f.lang = s.lang
         |  GROUP BY f.lang, s.mmax),
         |single_est AS (
         |  SELECT lang,
         |         $est * pow(2.0, CAST(mmax AS DOUBLE)) / num AS e
         |  FROM single_num),
         |pairs AS (
         |  SELECT a.lang AS l1, b.lang AS l2
         |  FROM (SELECT DISTINCT lang FROM hllu_words_t) a
         |  JOIN (SELECT DISTINCT lang FROM hllu_words_t) b ON a.lang < b.lang),
         |u AS (
         |  SELECT p.l1, p.l2, f1.j, greatest(f1.m, f2.m) AS m
         |  FROM pairs p
         |  JOIN filled f1 ON f1.lang = p.l1
         |  JOIN filled f2 ON f2.lang = p.l2 AND f2.j = f1.j),
         |u_fold AS (SELECT l1, l2, max(m) AS mmax FROM u GROUP BY l1, l2),
         |u_num AS (
         |  SELECT u.l1, u.l2, uf.mmax,
         |         CAST(sum(shiftleft(CAST(1 AS BIGINT), uf.mmax - u.m)) AS BIGINT)
         |           AS num
         |  FROM u JOIN u_fold uf ON u.l1 = uf.l1 AND u.l2 = uf.l2
         |  GROUP BY u.l1, u.l2, uf.mmax),
         |u_est AS (
         |  SELECT l1, l2,
         |         $est * pow(2.0, CAST(mmax AS DOUBLE)) / num AS e
         |  FROM u_num),
         |sizes AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM hllu_words_t GROUP BY lang),
         |inter_exact AS (
         |  SELECT w1.lang AS l1, w2.lang AS l2, CAST(count(*) AS BIGINT) AS n_inter
         |  FROM hllu_words_t w1
         |  JOIN hllu_words_t w2 ON w1.word = w2.word AND w1.lang < w2.lang
         |  GROUP BY w1.lang, w2.lang)
         |SELECT ue.l1 AS lang_a, ue.l2 AS lang_b,
         |       s1.e AS est_a, s2.e AS est_b, ue.e AS union_est,
         |       s1.e + s2.e - ue.e AS inter_est,
         |       CAST(z1.n + z2.n - coalesce(x.n_inter, 0) AS BIGINT) AS exact_union,
         |       CAST(coalesce(x.n_inter, 0) AS BIGINT) AS exact_inter
         |FROM u_est ue
         |JOIN single_est s1 ON s1.lang = ue.l1
         |JOIN single_est s2 ON s2.lang = ue.l2
         |JOIN sizes z1 ON z1.lang = ue.l1
         |JOIN sizes z2 ON z2.lang = ue.l2
         |LEFT JOIN inter_exact x ON x.l1 = ue.l1 AND x.l2 = ue.l2""".stripMargin)
  }

  val skHllUnionSql: String = {
    val est = s"CAST($Alpha AS DOUBLE) * ${Registers * Registers}.0"
    s"""WITH words AS (
       |  SELECT DISTINCT lang, unnest(${PipelineQueries.shingleDuck("ws")}) AS word
       |  FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents)
       |  WHERE len(ws) >= 5),
       |regs AS (
       |  SELECT lang, CAST(h % $Registers AS INT) AS j,
       |         CAST(55 - length(bin(h // $Registers)) AS INT) AS rho
       |  FROM (SELECT lang, ${hDuck("word")} AS h FROM words)),
       |maxes AS (SELECT lang, j, max(rho) AS m FROM regs GROUP BY lang, j),
       |grid AS (
       |  SELECT l.lang, CAST(t.j AS INT) AS j
       |  FROM (SELECT DISTINCT lang FROM words) l
       |  CROSS JOIN (SELECT unnest(range(0, $Registers)) AS j) t),
       |filled AS (
       |  SELECT g.lang, g.j, coalesce(m.m, 0) AS m
       |  FROM grid g LEFT JOIN maxes m ON g.lang = m.lang AND g.j = m.j),
       |single AS (
       |  SELECT lang, max(m) AS mmax FROM filled GROUP BY lang),
       |single_num AS (
       |  SELECT f.lang, s.mmax,
       |         CAST(sum(CAST(1 AS BIGINT) << (s.mmax - f.m)) AS BIGINT) AS num
       |  FROM filled f JOIN single s ON f.lang = s.lang
       |  GROUP BY f.lang, s.mmax),
       |single_est AS (
       |  SELECT lang,
       |         $est * pow(2.0, CAST(mmax AS DOUBLE)) / num AS e
       |  FROM single_num),
       |pairs AS (
       |  SELECT a.lang AS l1, b.lang AS l2
       |  FROM (SELECT DISTINCT lang FROM words) a
       |  JOIN (SELECT DISTINCT lang FROM words) b ON a.lang < b.lang),
       |u AS (
       |  SELECT p.l1, p.l2, f1.j, greatest(f1.m, f2.m) AS m
       |  FROM pairs p
       |  JOIN filled f1 ON f1.lang = p.l1
       |  JOIN filled f2 ON f2.lang = p.l2 AND f2.j = f1.j),
       |u_fold AS (SELECT l1, l2, max(m) AS mmax FROM u GROUP BY l1, l2),
       |u_num AS (
       |  SELECT u.l1, u.l2, uf.mmax,
       |         CAST(sum(CAST(1 AS BIGINT) << (uf.mmax - u.m)) AS BIGINT) AS num
       |  FROM u JOIN u_fold uf ON u.l1 = uf.l1 AND u.l2 = uf.l2
       |  GROUP BY u.l1, u.l2, uf.mmax),
       |u_est AS (
       |  SELECT l1, l2,
       |         $est * pow(2.0, CAST(mmax AS DOUBLE)) / num AS e
       |  FROM u_num),
       |sizes AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY lang),
       |inter_exact AS (
       |  SELECT w1.lang AS l1, w2.lang AS l2, CAST(count(*) AS BIGINT) AS n_inter
       |  FROM words w1
       |  JOIN words w2 ON w1.word = w2.word AND w1.lang < w2.lang
       |  GROUP BY w1.lang, w2.lang)
       |SELECT ue.l1 AS lang_a, ue.l2 AS lang_b,
       |       s1.e AS est_a, s2.e AS est_b, ue.e AS union_est,
       |       s1.e + s2.e - ue.e AS inter_est,
       |       CAST(z1.n + z2.n - coalesce(x.n_inter, 0) AS BIGINT) AS exact_union,
       |       CAST(coalesce(x.n_inter, 0) AS BIGINT) AS exact_inter
       |FROM u_est ue
       |JOIN single_est s1 ON s1.lang = ue.l1
       |JOIN single_est s2 ON s2.lang = ue.l2
       |JOIN sizes z1 ON z1.lang = ue.l1
       |JOIN sizes z2 ON z2.lang = ue.l2
       |LEFT JOIN inter_exact x ON x.l1 = ue.l1 AND x.l2 = ue.l2""".stripMargin
  }

  // ── sk_qdigest ★ (r12) — MERGEABLE QUANTILE SKETCH (q-digest,
  // Shrivastava et al. 2004): the sketch family's remaining gap — HLL
  // answers distinct, KMV set algebra, CMS frequency, Misra–Gries heavy
  // hitters; q-digest answers QUANTILES with a deterministic, mergeable,
  // fixed-universe structure (the one a 1000-executor job can partial-
  // aggregate and union in any order, unlike exact percentile_disc).
  //
  // Build, per language group, over doc lengths clamped to the
  // [0, 2^B) universe (B = [[QdB]]; the 1023 clamp is a capacity
  // parameter like pipe_bloom_skip's — never binding at fixture scale):
  // leaf counts, then B bottom-up compression rounds — a sibling pair
  // whose combined count fits the threshold θ = max(1, n/[[QdK]])
  // pushes its mass to the parent; pairs that exceed θ keep their nodes
  // at that level. Every materialized INTERNAL node therefore carries
  // ≤ θ, so any root-to-leaf path hides ≤ B·θ mass — the classic
  // ε = log(U)/k rank-error bound. Quantile query: order kept nodes by
  // (hi, lvl), running sum, report the first node whose cumulative
  // count reaches the target rank. ALL INTEGER — counts, floor-div
  // thresholds, targets ceil((q·n + 99)/100) — so the DuckDB oracle
  // replays the B compression rounds as generated CTEs and the binary
  // hash gate proves the sketch itself, not just the estimates.
  // Output pins estimate vs exact per (lang, quantile) with the
  // realized rank error and the sketch size (kept_nodes ≪
  // distinct_values is the compression witness).
  //
  // Scale shape (100 TB): the leaf histogram is one map-side-combined
  // groupBy; each compression round aggregates a relation that SHRINKS
  // geometrically (≤ k·B survivors per group by the bound); the query
  // windows run over ≤ k·B rows per group, never raw data. Merging
  // shards = unioning node counts + one recompression — the partial-agg
  // shape (QdigestSpec proves merge-then-query stays inside the bound).
  /** Universe bits: values live in [0, 2^QdB). */
  val QdB = 10
  /** Compression factor: θ = max(1, n div QdK) per group. */
  val QdK = 16
  /** Clamp ceiling (inclusive): 2^QdB − 1. */
  val QdMax = (1 << QdB) - 1

  /** The kept-node relation (lang, lvl, id, c, hi) — the sketch itself.
    * Package-visible so QdigestSpec can cross-check the construction
    * against an independent driver-side build. */
  private[graft] def qdigestKept(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // Session memo (r13): sk_qdigest and sk_qdigest_range serve from
    // the SAME sketch — build it once per (session, dir).
    val (vals, nd, kept) = graft.operators.SessionMemo.cached(
      spark, s"qdigest/$dir") {
      viewDocs(spark, dir)
      val vals = graft.operators.PinnedStages.sharedCheckpoint(spark.sql(
        s"""SELECT lang, CAST(least(n_chars, $QdMax) AS BIGINT) AS v, doc_id
           |FROM documents""".stripMargin))
      val nd = graft.operators.PinnedStages.sharedCheckpoint(
        vals.groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .select(col("lang"), col("n_docs"),
            greatest(expr(s"n_docs div $QdK"), lit(1L)).as("theta")))
      // lvl0 feeds ONE consumer (the r15 single-fold compressLeaves) —
      // no pin needed anymore.
      val lvl0 = vals.groupBy(col("lang"), col("v").as("id"))
        .agg(count(lit(1)).as("c"))
      val kept = graft.operators.PinnedStages.sharedCheckpoint(
        compressLeaves(lvl0, nd))
      (vals, nd, kept)
    }
    vals.createOrReplaceTempView("qd_vals_t")
    nd.createOrReplaceTempView("qd_nd_t")
    kept
  }

  /** The B compression rounds from a leaf histogram (lang, id, c) and
    * the per-group (lang, n_docs, theta) relation — shared by the batch
    * query and [[graft.tools.SketchStore]] serving (which rebuilds the
    * identical sketch from SUMMED shard leaves: leaf counts are a
    * commutative monoid, so merge-then-compress equals the from-scratch
    * build bit-for-bit).
    *
    * ONE per-lang array fold, not B pinned relational rounds (r15, the
    * unigram-DP/FastDTW fold discipline): the histogram is BOUNDED BY
    * CONSTRUCTION (ids ≤ [[QdMax]] after the clamp, so ≤ 1024 entries
    * per lang regardless of corpus size — this is the q-digest's own
    * size guarantee), which made the round form pure job-scheduling
    * overhead: 21 pinned micro-jobs of ≤ a few thousand rows each
    * (measured ≈ 2.5 s of the query's 4.2 s warm). The fold walks the
    * id-sorted entry array once per level with a sentinel flush:
    * adjacent entries sharing id div 2 merge into their parent (a
    * binary-tree level has ≤ 2 children per parent), parents over theta
    * emit their children as kept nodes at this level, parents at or
    * under theta promote. Identical (lang, lvl, id, c, hi) row set —
    * QdigestSpec's independent driver-side build and the DuckDB
    * round-form oracle both machine-check that. Returns an UNPINNED
    * relation (callers checkpoint); one fold job replaces the 21. */
  private[graft] def compressLeaves(lvl0: DataFrame, nd: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val sentinel =
      "array(struct(CAST(4096 AS BIGINT) AS id, CAST(0 AS BIGINT) AS c))"
    val emitKept =
      """concat(a.kp, transform(a.pend,
        |  y -> struct(CAST(l AS INT) AS lvl, y.id AS id, y.c AS c,
        |              (y.id + 1) * shiftleft(CAST(1 AS BIGINT), l) - 1 AS hi)))"""
        .stripMargin
    lvl0.groupBy(col("lang"))
      .agg(expr("array_sort(collect_list(struct(id, c)))").as("h"))
      .join(nd, "lang")
      .selectExpr("lang",
        s"""aggregate(
           |  sequence(0, ${QdB - 1}),
           |  struct(h AS cur,
           |         CAST(array() AS ARRAY<STRUCT<lvl: INT, id: BIGINT,
           |                                      c: BIGINT, hi: BIGINT>>) AS kept),
           |  (st, l) -> aggregate(
           |    concat(st.cur, $sentinel),
           |    struct(CAST(-1 AS BIGINT) AS pp, CAST(0 AS BIGINT) AS ps,
           |           CAST(array() AS ARRAY<STRUCT<id: BIGINT, c: BIGINT>>) AS pend,
           |           CAST(array() AS ARRAY<STRUCT<id: BIGINT, c: BIGINT>>) AS nxt,
           |           st.kept AS kp),
           |    (a, x) -> CASE
           |      WHEN a.pp = -1 OR x.id div 2 = a.pp THEN struct(
           |        x.id div 2 AS pp,
           |        CASE WHEN a.pp = -1 THEN x.c ELSE a.ps + x.c END AS ps,
           |        CASE WHEN a.pp = -1 THEN array(x)
           |             ELSE array_append(a.pend, x) END AS pend,
           |        a.nxt AS nxt, a.kp AS kp)
           |      ELSE struct(
           |        x.id div 2 AS pp, x.c AS ps, array(x) AS pend,
           |        CASE WHEN a.ps <= theta
           |             THEN array_append(a.nxt, struct(a.pp AS id, a.ps AS c))
           |             ELSE a.nxt END AS nxt,
           |        CASE WHEN a.ps > theta THEN $emitKept ELSE a.kp END AS kp)
           |      END,
           |    fin -> struct(fin.nxt AS cur, fin.kp AS kept))) AS res""".stripMargin)
      .selectExpr("lang",
        s"""explode(concat(res.kept,
           |  transform(res.cur, x -> struct(CAST($QdB AS INT) AS lvl,
           |    x.id AS id, x.c AS c, CAST(${QdMax.toLong} AS BIGINT) AS hi))))
           |  AS k""".stripMargin)
      .selectExpr("lang", "k.lvl AS lvl", "k.id AS id", "k.c AS c",
        "k.hi AS hi")
  }

  /** Query stage shared between dialects: `grid` is the 4-row quantile
    * VALUES clause, `idiv` the integer-division operator, and the three
    * relation names bind to either temp views (Spark) or CTEs (DuckDB). */
  private def qdQuerySql(grid: String, idiv: String, kept: String,
      nd: String, vals: String): String =
    s"""cum AS (
       |  SELECT lang, hi, lvl, c,
       |         sum(c) OVER (PARTITION BY lang ORDER BY hi, lvl
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM $kept),
       |targets AS (
       |  SELECT n.lang, g.q_pct, n.n_docs, n.theta,
       |         CAST((g.q_pct * n.n_docs + 99) $idiv 100 AS BIGINT) AS target
       |  FROM $nd n CROSS JOIN ($grid) g),
       |est AS (
       |  SELECT t.lang, t.q_pct, t.n_docs, t.theta, t.target,
       |         min(c.hi) AS est_value
       |  FROM targets t JOIN cum c ON c.lang = t.lang AND c.cum >= t.target
       |  GROUP BY t.lang, t.q_pct, t.n_docs, t.theta, t.target),
       |exact_rk AS (
       |  SELECT lang, v,
       |         row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS rn
       |  FROM $vals),
       |errv AS (
       |  SELECT e.lang, e.q_pct,
       |         CAST(count(x.v) AS BIGINT) - e.target AS err_rank
       |  FROM est e JOIN $vals x
       |    ON x.lang = e.lang AND x.v <= e.est_value
       |  GROUP BY e.lang, e.q_pct, e.target),
       |sketch_size AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS kept_nodes
       |  FROM $kept GROUP BY lang),
       |nvals AS (
       |  SELECT lang, CAST(count(DISTINCT v) AS BIGINT) AS distinct_values
       |  FROM $vals GROUP BY lang)
       |SELECT e.lang, CAST(e.q_pct AS INT) AS q_pct, e.n_docs, e.theta,
       |       e.est_value, ex.v AS exact_value, er.err_rank,
       |       ss.kept_nodes, nv.distinct_values
       |FROM est e
       |JOIN exact_rk ex ON ex.lang = e.lang AND ex.rn = e.target
       |JOIN errv er ON er.lang = e.lang AND er.q_pct = e.q_pct
       |JOIN sketch_size ss ON ss.lang = e.lang
       |JOIN nvals nv ON nv.lang = e.lang""".stripMargin

  def skQdigest(spark: SparkSession, dir: String): DataFrame = {
    qdigestKept(spark, dir).createOrReplaceTempView("qd_kept_t")
    spark.sql("WITH " + qdQuerySql(
      "SELECT q_pct FROM VALUES (25), (50), (75), (90) AS g(q_pct)",
      "div", "qd_kept_t", "qd_nd_t", "qd_vals_t"))
  }

  /** The generated q-digest BUILD (bounds → compression levels → kept
    * nodes) as one named CTE block — shared verbatim by [[skQdigestSql]]
    * and [[skQdigestRangeSql]] (ADVICE r13: the range oracle previously
    * derived this by substring surgery on the finished quantile SQL,
    * coupling the two through a magic CTE-name marker). */
  private val qdBuildCtesDuck: String = {
    val levels = (0 until QdB).map { l =>
      s"""ps$l AS MATERIALIZED (
         |  SELECT v.lang, v.id // 2 AS p, CAST(sum(v.c) AS BIGINT) AS s
         |  FROM lvl$l v GROUP BY v.lang, v.id // 2),
         |kept$l AS (
         |  SELECT v.lang, $l AS lvl, v.id, v.c,
         |         (v.id + 1) * ${1L << l} - 1 AS hi
         |  FROM lvl$l v
         |  JOIN ps$l p ON p.lang = v.lang AND p.p = v.id // 2
         |  JOIN nd n ON n.lang = v.lang
         |  WHERE p.s > n.theta),
         |lvl${l + 1} AS MATERIALIZED (
         |  SELECT p.lang, p.p AS id, p.s AS c
         |  FROM ps$l p JOIN nd n ON n.lang = p.lang
         |  WHERE p.s <= n.theta)""".stripMargin
    }.mkString(",\n")
    val keptUnion = (0 until QdB).map(l => s"SELECT * FROM kept$l")
      .mkString("\n  UNION ALL ")
    s"""vals AS MATERIALIZED (
       |  SELECT lang, CAST(least(n_chars, $QdMax) AS BIGINT) AS v, doc_id
       |  FROM documents),
       |nd AS MATERIALIZED (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(greatest(count(*) // $QdK, 1) AS BIGINT) AS theta
       |  FROM vals GROUP BY lang),
       |lvl0 AS MATERIALIZED (
       |  SELECT lang, v AS id, CAST(count(*) AS BIGINT) AS c
       |  FROM vals GROUP BY lang, v),
       |$levels,
       |kept AS MATERIALIZED (
       |  $keptUnion
       |  UNION ALL
       |  SELECT lang, $QdB AS lvl, id, c, CAST($QdMax AS BIGINT) AS hi
       |  FROM lvl$QdB)""".stripMargin
  }

  val skQdigestSql: String =
    s"""WITH $qdBuildCtesDuck,
       |${qdQuerySql(
            "SELECT q_pct FROM (VALUES (25), (50), (75), (90)) AS q(q_pct)",
            "//", "kept", "nd", "vals")}""".stripMargin

  // ── sk_qdigest_range ★ (r13) — RANGE-COUNT queries over the same
  // kept nodes (the COVERAGE known-limits entry: rank(hi) − rank(lo),
  // one more aggregation, no new machinery). est_rank(x) sums kept
  // nodes with node.hi ≤ x — every value in such a node is truly ≤ x,
  // so est_rank ≤ true_rank, and the deficit is confined to nodes
  // STRADDLING x: the ≤ [[QdB]] ancestors of x's leaf path, each an
  // internal survivor carrying ≤ θ by construction (level ≥ 1 nodes
  // exist only via promotion with s ≤ θ). Hence per-endpoint rank
  // error ≤ B·θ and the range count est(lo,hi] = rank(hi) − rank(lo)
  // carries the ε·n witness |err| ≤ 2·B·θ — EMITTED as `err_bound`
  // next to the realized `err_rank`, both oracle-pinned integers
  // (the oracle replays the compression, so the hash gate proves the
  // bound held on the actual sketch, not in prose).
  //
  // Scale shape: one conditional sum over the ≤ k·B kept nodes per
  // group × a constant 4-row range grid; the exact side is the audit
  // (one pass over values) — production serves from the sketch alone.
  private def qdRangeSql(grid: String, kept: String, nd: String,
      vals: String): String =
    s"""est AS (
       |  SELECT k.lang, r.lo, r.hi,
       |         CAST(sum(CASE WHEN k.hi > r.lo AND k.hi <= r.hi
       |                       THEN k.c ELSE 0 END) AS BIGINT) AS est_count
       |  FROM $kept k CROSS JOIN ($grid) r
       |  GROUP BY k.lang, r.lo, r.hi),
       |exact AS (
       |  SELECT x.lang, r.lo, r.hi,
       |         CAST(sum(CASE WHEN x.v > r.lo AND x.v <= r.hi
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS exact_count
       |  FROM $vals x CROSS JOIN ($grid) r
       |  GROUP BY x.lang, r.lo, r.hi)
       |SELECT e.lang, CAST(e.lo AS BIGINT) AS lo, CAST(e.hi AS BIGINT) AS hi,
       |       n.n_docs, n.theta, e.est_count, x.exact_count,
       |       e.est_count - x.exact_count AS err_rank,
       |       CAST(2 * $QdB * n.theta AS BIGINT) AS err_bound
       |FROM est e
       |JOIN exact x ON x.lang = e.lang AND x.lo = e.lo AND x.hi = e.hi
       |JOIN $nd n ON n.lang = e.lang""".stripMargin

  private val QdRangeGridSpark =
    "SELECT lo, hi FROM VALUES (0, 100), (100, 300), (300, 600), " +
      s"(600, $QdMax) AS r(lo, hi)"
  private val QdRangeGridDuck =
    "SELECT lo, hi FROM (VALUES (0, 100), (100, 300), (300, 600), " +
      s"(600, $QdMax)) AS r(lo, hi)"

  def skQdigestRange(spark: SparkSession, dir: String): DataFrame = {
    qdigestKept(spark, dir).createOrReplaceTempView("qd_kept_t")
    spark.sql("WITH " + qdRangeSql(QdRangeGridSpark,
      "qd_kept_t", "qd_nd_t", "qd_vals_t"))
  }

  val skQdigestRangeSql: String =
    s"""WITH $qdBuildCtesDuck,
       |${qdRangeSql(QdRangeGridDuck, "kept", "nd", "vals")}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_hll_distinct" -> (skHllDistinct _),
    "sk_hll_union" -> (skHllUnion _),
    "sk_cms_topk" -> (skCmsTopk _),
    "sk_kmv_intersect" -> (skKmvIntersect _),
    "sk_sample_quantiles" -> (skSampleQuantiles _),
    "sk_qdigest" -> (skQdigest _),
    "sk_qdigest_range" -> (skQdigestRange _))

  val oracle: Map[String, String] = Map(
    "sk_hll_distinct" -> skHllDistinctSql,
    "sk_hll_union" -> skHllUnionSql,
    "sk_cms_topk" -> skCmsTopkSql,
    "sk_kmv_intersect" -> skKmvIntersectSql,
    "sk_sample_quantiles" -> skSampleQuantilesSql,
    "sk_qdigest" -> skQdigestSql,
    "sk_qdigest_range" -> skQdigestRangeSql)
}

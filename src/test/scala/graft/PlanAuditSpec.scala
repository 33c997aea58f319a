package graft

import org.apache.spark.sql.execution.{SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Whole-catalog physical-plan audit: every `SparkEntry.queries` entry is
  * swept for the operator shapes that kill a 100 TB run — cartesian
  * products, unbounded nested-loop joins, unpartitioned (single-reducer)
  * windows, and global sorts. [[PlanAssertionsSpec]] pins the POSITIVE
  * shape of selected queries; this suite pins the ABSENCE of negatives
  * across all of them, so a regression in any future query fails loudly
  * even if nobody wrote it a dedicated assertion.
  *
  * Exceptions are explicit allowlists, each with the reason the shape is
  * bounded by construction (a nested loop over a 16-row broadcast side is
  * a scan, not a scale bug). AQE is disabled in this session so the audit
  * sees the static planner output rather than a half-finalized adaptive
  * wrapper.
  */
class PlanAuditSpec extends AnyFunSuite with LocalSpark {

  override protected def sparkConf = Seq("spark.sql.adaptive.enabled" -> "false")
  private val dir = "/root/testdata/sf0.001"

  /** All plan nodes including subquery plans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n } ++
      p.collect { case n => n.subqueries }.flatten.flatMap(nodes)

  private lazy val plans: Seq[(String, SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan
    }

  /** Nested loop is legitimate ONLY when one side is bounded by
    * construction — a broadcast relation whose size is a design constant,
    * not a function of the data. */
  private val nestedLoopAllowed: Map[String, String] = Map(
    "ann_bruteforce_topk" -> "query side is the fixed probe set (vec_id < 3), broadcast",
    "ann_filtered_topk" -> "ann_bruteforce's fixed-probe broadcast with the label predicate riding the join condition (pre-filter prunes candidates before the dot product)",
    "emb_mrl_recall" -> "four dimension-budget replays of ann_bruteforce's shape — the fixed 3-probe set broadcast against the candidate stream; the report join is an equi-join on (q_id, vec_id) against the 15-row full-dim baseline",
    "ann_hamming_topk" -> "query side is the fixed probe set (vec_id < 3), broadcast; candidates stream their two 8-byte sign words map-side",
    "ann_pq_adc_topk" -> "ADC table side is the fixed probe set (vec_id < 3), broadcast; candidates stream their 4-byte codes map-side",
    "ann_pq_rerank_topk" -> "stage 1 is ann_pq_adc_topk's shape verbatim (fixed probe set broadcast); the rerank joins are equi-joins on a probes*32-row shortlist",
    "ann_ivf_topk" -> "centroid table is 16 rows by construction, broadcast",
    "ann_ivf_trained_topk" -> "trained centroid table is k=8 rows by construction (trainMicro output), broadcast; the probe scan is an equi-join on the posting-list id",
    "ann_kmeans_centroids" -> "same k=8 trained-centroid broadcast in the final assignment; the stats join is a left equi-join of the 512-row centroid-dim table against the 8-row size aggregate",
    "ann_ivfpq_topk" -> "same 16-row centroid assignment cross join in the index build; the probe scan itself is an equi-join on the posting-list id",
    "ann_recall_report" -> "composition of the eleven ANN pipelines — each nested loop is one of their allowlisted fixed-probe/centroid broadcasts; the report's own joins are equi-joins on (q_id, vec_id) and method",
    "ann_nsw_diverse" -> "16-row centroid assignment cross join (the shared graph build) plus the 1-row entry-point scalar cross-joined to the 3-probe set; every greedy diversity round is a per-node window + equi-joins over the capped n x C candidate relation, and search hops are equi-joins of the probes x beam frontier",
    "ann_hnsw_topk" -> "16-row centroid assignment cross join (the shared graph build) plus the 1-row entry-point scalar cross-joined to the 3-probe set; every layer's edge set re-ranks the once-scored pair relation via equi-joins, and every descent hop is an equi-join of the probes x beam frontier against the edge/normed relations",
    "ann_nsw_topk" -> "16-row centroid assignment cross join (graph build, the ann_knn_graph shape) plus the 1-row entry-point scalar cross-joined to the 3-probe set; every search hop is an equi-join of the probes x beam frontier against the edge/normed relations",
    "dd_semantic" -> "centroid assignment cross join: 16 rows by construction, broadcast (the SemDeDup coarse-cluster step)",
    "ann_knn_graph" -> "same 16-row centroid assignment cross join as dd_semantic; the edge join itself is an equi-join on the cluster id",
    "pipe_upsample" -> "per-source rate table (#sources rows) against the single-row corpus-total aggregate",
    "ann_range_search" -> "query side is the fixed probe set (vec_id < 3), broadcast",
    "ann_sq_topk" -> "1-row per-dimension quantizer-range arrays cross-joined as broadcast constants; probe side is the fixed 3-vector set; candidate codes stream map-side",
    "emb_mmr_rerank" -> "stage 1 is ann_bruteforce's fixed-probe broadcast scan; every greedy level runs on the probes x 20 shortlist (bounded by construction), with anti-membership NOT EXISTS against the <=4-row selected set",
    "dd_embedding_cosine" -> "label-blocked pair join; non-equi residual over the tiny blocked side",
    "f11_asof_lsn" -> "single-probe as-of lookup: one row against the mapping dimension",
    "c1_lsn_time_join" -> "broadcast dimension lookup with a range residual; fact side streams",
    "d3_keyed_range_count" -> "bounded single-group range count over a broadcast boundary row",
    "d2_bounded_count" -> "bounded count against two scalar boundary rows",
    "c5_count_reconciliation" -> "4-row reconciliation summary joined to scalar boundaries",
    "pipe_mix" -> "per-source stats (≈20 rows) cross-joined with the 1-row corpus total — both aggregates, bounded by source cardinality",
    "pipe_mix_temperature" -> "per-source weights (≈20 rows) cross-joined with the 1-row integer normalizer — both aggregates, bounded by source cardinality",
    "e11_retention" -> "1-row corpus-epoch scalar cross-joined as a broadcast constant; the user join itself is an equi-join on user_id",
    "e18_sliding_window" -> "1-row corpus-epoch scalar cross-joined as a broadcast constant; the sliding window itself is PARTITION BY user_id",
    "text_length_quantiles" -> "rank refinement joins the 3-row quantile-boundary table (broadcast) against only the target buckets",
    "dd_recall_report" -> "composition of four dedup pipelines (each with its own bounded-pair construction) plus the 1-row exact-baseline-size scalar cross-joined as a broadcast constant; the hit joins are equi-joins on (doc_a, doc_b)",
    "text_tfidf_topk" -> "the 1-row corpus-size scalar joins the tf table as a broadcast constant",
    "text_bm25" -> "the 1-row corpus-size and avg-doclen scalars cross-joined as broadcast constants; the probe-term and doc-length joins are equi-joins on term/doc_id (the inverted-index probe shape)",
    "text_quality_model" -> "1-row class-total / default-weight / threshold scalars cross-joined as broadcast constants; the feature-weight join itself is an equi-join on the bucket key",
    "text_lm_score" -> "1-row train-token-total scalar cross-joined as a broadcast constant; gram joins are equi-joins on the gram key",
    "pipe_source_card" -> "inherits text_lm_score's 1-row train-token-total scalar; the card's own joins are per-source equi-joins over ~20-row aggregates",
    "c13_point_in_time" -> "1-row max-seq scalar cross-joined as a broadcast constant into the probe build; the PIT join itself is an equi-join on user_id with a range residual",
    "sk_kmv_intersect" -> "lang-pair grid: inequality join over the ~5-row distinct-language list, broadcast; all signature joins are equi-joins on (lang, hash)",
    "e14_rfm" -> "1-row corpus-maxima aggregate (plus the 1-row min-recency scalar subquery) cross-joined as broadcast constants over the per-user aggregate",
    "sk_hll_union" -> "lang-pair grid: inequality join over the ~5-row distinct-language list, broadcast; all register joins are equi-joins on (lang, j)",
    "e16_path_trigrams" -> "1-row path-total scalar cross-joined as a broadcast constant over the bounded (≤|types|³) path table",
    "ts_lbkeogh" -> "the 30-row day grid (and 1-row epoch scalar) cross-joined as broadcast constants to densify per-user series; probe/envelope joins are equi-joins on day",
    "ts_dtw_topk" -> "inherits ts_lbkeogh's 30-row day grid / 1-row epoch broadcast constants; the DP stage is per-row expression work over the probes x 20 LB-capped candidate pairs, joined by equi-keys only",
    "ts_sax_prune" -> "same fixed 3-user probe tier as ts_paa_topk, plus the 1-row PAA-range scalar and the 6-row segment grid as broadcast constants; the bucket MINDIST table is bounded by the SAX alphabet, not the corpus",
    "ts_paa_topk" -> "fixed 3-user probe set (user_id < 3) broadcast against the PAA/day relations (the ANN fixed-probe convention); the 1-row corpus-epoch scalar rides the same broadcast tier",
    "graph_triangles" -> "1-row triangle-count x 1-row wedge-sum summary cross join (plus 1-row node/edge scalars); every data-sized join (pair build, orientation, wedge closure) is an equi-join on node keys",
    "pipe_zorder" -> "two 1-row normalization scalars (max orderkey, max z-code) cross-joined as broadcast constants; the Morton code itself is a narrow per-row expression",
    "d10_basket_rules" -> "1-row basket-count scalar cross-joined as a broadcast constant; pair build and support joins are equi-joins on basket/item keys",
    "e17_lifecycle" -> "1-row epoch and horizon scalars cross-joined as broadcast constants; the state windows are user-partitioned and the ledger agg is weeks x 4 rows",
    "pipe_bloom_skip" -> "1-row max-key scalar cross-joined as a broadcast constant (domain split + absent-probe synthesis); the filter build and probe are equi-joins on (bucket, word)",
    "ts_periodicity" -> "the 1-row corpus-epoch scalar from the shared series prologue; the lag joins are equi-joins on (user_id, day + lag)",
    "ts_discord" -> "inherits the series prologue's 1-row epoch scalar and 30-row day grid broadcasts; the window-pair stage is an equi-join on (user_id, offset), bounded per key at 24x7x24 rows",
    "ts_seasonal" -> "the series prologue's 1-row epoch scalar broadcast; everything downstream runs over the 30-row aggregated daily series",
    "ts_forecast_baseline" -> "the 1-row corpus-epoch scalar cross-joined as a broadcast constant; the backtest lookups are equi-joins on day-7/day-1 over the <=30-row daily aggregate",
    "ts_stomp_discord" -> "the 1-row corpus-epoch scalar cross-joined to bucket hours; every quadratic-stage join (diagonal expansion, ss/qt assembly, mp/nn) is an equi-join on h/i/k over the 720-row calendar-bounded series",
    "ts_fastdtw" -> "single-pair alignment: every cross join is between 1-row scalar relations (epoch bound, packed series vector, coarse DP matrices, band bounds); the DP itself is per-row expression work, the only multi-row joins are the 720-row grid/hourly equi-join and the bounded coarse-cell relations",
    "ts_fastdtw_pyramid" -> "same single-pair shape as ts_fastdtw with one more level: all cross joins are 1-row scalar relations (epoch bound, packed vectors, per-level band-bound rows); multi-row joins are the 2880-row grid/bucket equi-join and the banded L1/L2 cell relations (bounded by the projected corridors)",
    "ts_motif" -> "same body as ts_stomp_discord: the 1-row corpus-epoch scalar cross-joined to bucket hours; all quadratic-stage joins are equi-joins on h/i/k over the 720-row calendar-bounded series",
    "ts_changepoint" -> "the 1-row corpus-epoch scalar and the 30-row day grid cross-joined as broadcast constants to densify per-user series; the CUSUM argmax joins are equi-joins on (user_id, dev)/(user_id, t)",
    "ts_ewma" -> "the same series densification as ts_changepoint: 1-row epoch scalar + 30-row day grid broadcasts; residual argmax joins are equi-joins on (user_id, dev_milli)/(user_id, day)",
    "pipe_source_divergence" -> "the pair universe is bcount x bcount under source < source — bcount has one row per SOURCE (~20), bounded by the corpus's source vocabulary, broadcast both sides; the data-sized work is the equi-join on bucket over the <=|sources|x256 shares relation",
    "pipe_drift_report" -> "the 1-row corpus-epoch scalar and the 1-row (ref_total, cur_total) aggregate cross-joined as broadcast constants over the <=|types|x4 bucket table",
    "graph_hits" -> "the 1-row L1-total scalar cross-joined as a broadcast constant per normalization (2 per round); every propagation is an equi-join of the per-node score vector against the resident edge relation",
    "sk_qdigest" -> "the 4-row quantile grid cross-joined against the per-lang size/threshold aggregate (~5 rows); the rank probe is an equi-join on lang with a cum >= target residual over the <= k*B-row kept-node sketch",
    "sk_qdigest_range" -> "the constant 4-row range grid cross-joined against the <= k*B-row kept-node sketch and the value relation (one conditional-sum pass each); est/exact/nd joins are equi-joins on (lang, lo, hi)",
    "pipe_dsir_weights" -> "the 1-row (n_r, n_t) corpus-total scalar cross-joined onto the 256-row bucket-stats aggregate; the scoring join back onto the token stream is an equi-join on the bucket key")

  /** An unpartitioned window is legitimate ONLY over a table whose row
    * count is bounded by construction (buckets, partitions, quantile
    * boundaries — never raw data rows). */
  private val bareWindowAllowed: Map[String, String] = Map(
    "c7_asof_join" -> "carry-in prefix over the occupied-bucket champion table (guarded by effectiveBucketWidth)",
    "c14_asof_forward" -> "the same carry-in prefix as c7 (asOfForward is the backward operator on negated keys)",
    "c16_asof_tolerance" -> "the same carry-in prefix as c7 (the tolerance is a post-join projection over the identical bucketed plan)",
    "c15_asof_nearest" -> "two carry-in prefixes (one per as-of direction), each over an occupied-bucket champion table",
    "c6_ordered_compare" -> "ordered zip of the two 119-row comparison summaries (bounded reconciliation output)",
    "e4_ordering_regressions" -> "lag over per-partition summary rows, not raw changes",
    "e5_offset_gaps" -> "lag over per-partition offset summaries",
    "text_length_quantiles" -> "prefix sum over the 12-row bucket histogram, never documents",
    "ts_seasonal" -> "centered 7-day windows over the 30-row aggregated daily series — bounded by the calendar, not the corpus (the map-side day count collapses the data first)",
    "ts_stomp_discord" -> "the sliding sum-of-squares cumsum over the 720-row calendar-bounded hourly series and the final ranking over the 697-row window profile; the O(n²) diagonal cumsums are PARTITION BY k (not bare)",
    "ts_motif" -> "same body as ts_stomp_discord: the 720-row series cumsums and the final ranking over the bounded non-overlap pair relation; diagonal cumsums are PARTITION BY k (not bare)")

  private def violations(pred: (String, SparkPlan) => Boolean): Seq[String] =
    plans.collect { case (name, p) if pred(name, p) => name }

  test("no cartesian products anywhere in the catalog") {
    val bad = violations((_, p) => nodes(p).exists(_.isInstanceOf[CartesianProductExec]))
    assert(bad.isEmpty, s"CartesianProduct in: ${bad.mkString(", ")}")
  }

  test("nested-loop joins only where one side is bounded by construction") {
    val bad = violations((name, p) =>
      nodes(p).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
        !nestedLoopAllowed.contains(name))
    assert(bad.isEmpty,
      s"unexpected BroadcastNestedLoopJoin — justify or fix: ${bad.mkString(", ")}")
  }

  test("unpartitioned windows only over bounded-by-construction tables") {
    val bad = violations((name, p) =>
      nodes(p).exists {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      } && !bareWindowAllowed.contains(name))
    assert(bad.isEmpty,
      s"unpartitioned Window (single reducer over what?): ${bad.mkString(", ")}")
  }

  test("no global sorts outside TakeOrderedAndProject") {
    plans.foreach { case (name, p) =>
      // A global SortExec under TakeOrderedAndProject never materializes
      // (the physical operator is the top-k itself); any OTHER global
      // sort funnels the dataset through one range-partitioned pass —
      // legitimate only for the range-partitioned rank (sortWithinPartitions
      // shows global=false, so GlobalOrder does not trip this).
      val topK = nodes(p).collect { case t: TakeOrderedAndProjectExec => t }
      val globalSorts = nodes(p).collect {
        case s: SortExec if s.global => s
      }
      if (globalSorts.nonEmpty && topK.isEmpty)
        fail(s"$name plans a global Sort outside TakeOrderedAndProject")
    }
  }
}

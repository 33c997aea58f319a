package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** sf≈1 scale-stress for the dedup/ANN family (round-2 verdict #9: the
  * sf0.1 cross-checks caught bugs the sf0.01 gate missed, so exercise the
  * next decade once). No sf1 fixture ships with the testdata, so the
  * suite synthesizes one FROM the provided sf0.1 parquet: 10 copies with
  * disjoint id ranges (≈50k documents / 20k embeddings — the sf1 row
  * counts by the testdata's own decade scaling), written to a temp dir so
  * the canned `SparkEntry.queries` run against it unmodified.
  *
  * Replication is EXACT (ids shift, text/vectors don't), which makes the
  * invariants computable: the 10 copies of any document are mutual exact
  * near-dups, so each contributes C(10,2)=45 cross-copy LSH pairs, and
  * connected components collapse every copy-set into one cluster.
  *
  * GATED behind GRAFT_STRESS=1 (assume() → canceled, not failed, when
  * unset): ~2-4 min of wall-clock that the per-round `sbt test` gate
  * shouldn't pay. Run with:
  *   GRAFT_STRESS=1 sbt "testOnly graft.ScaleStressSpec"
  * Timings from the last recorded run live in README.md §Performance.
  */
class ScaleStressSpec extends AnyFunSuite with LocalSpark {

  private val Copies = 10
  private val IdStride = 10_000_000L
  override protected def cpus = 16
  override protected def sparkConf = Seq("spark.sql.shuffle.partitions" -> "32")
  private var dir: String = _
  private def stressEnabled = sys.env.get("GRAFT_STRESS").contains("1")

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (stressEnabled) {
      dir = Files.createTempDirectory("graft-sf1").toString
      // events replicate on BOTH ids: user_id (each copy is a fresh user
      // population with the same temporal behavior) and event_id (tie
      // breaks stay unique).
      // lineitem replicates on the ORDER key only: each copy re-buys the
      // same part baskets, so the distinct co-purchase edge set — and
      // everything graph_triangles derives from it — is invariant.
      // orders replicates on the ORDER key only (customers unchanged):
      // each copy re-buys from the same customers, so the distinct
      // customer↔supplier bipartite edge set — and the kcore/bfs results
      // derived from it — is invariant while the joins chew 10x volume.
      Seq("documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
        "events" -> Seq("user_id", "event_id"),
        "orders" -> Seq("o_orderkey"),
        "lineitem" -> Seq("l_orderkey")).foreach { case (t, idCols) =>
        val base = spark.read.parquet(s"/root/testdata/sf0.1/$t.parquet")
        val scaled = (0 until Copies).map { i =>
          idCols.foldLeft(base)((df, c) => df.withColumn(c, col(c) + lit(i * IdStride)))
        }.reduce(_ unionByName _)
        // Spread across real splits: file-split parallelism governs the
        // scan, same reason DedupQueries repartitions its doc view.
        scaled.repartition(32).write.mode(SaveMode.Overwrite)
          .parquet(s"$dir/$t.parquet")
      }
    }
  }

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    info(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  test("dd_minhash_lsh completes at sf≈1 with the cross-copy pair floor") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Query CONSTRUCTION is inside the timer: the memoized pair stage
    // materializes eagerly (localCheckpoint) when the query fn is called.
    var df: org.apache.spark.sql.DataFrame = null
    val n = timed("dd_minhash_lsh @ sf~1") {
      df = SparkEntry.queries("dd_minhash_lsh")(spark, dir)
      df.count()
    }
    // Every base document's 10 identical copies are pairwise near-dups:
    // ≥ 45 pairs per base doc that carries enough shingles to hash. The
    // sf0.1 corpus has 5000 docs; allow a generous floor for short docs
    // the shingler drops.
    assert(n >= 45L * 4000, s"expected ≥ ${45L * 4000} cross-copy pairs, got $n")
    // Canonical pair orientation must survive the scale-up.
    assert(df.filter(col("doc_a") >= col("doc_b")).limit(1).count() === 0)
  }

  test("dd_cluster_star collapses every copy-set into one component") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    var df: org.apache.spark.sql.DataFrame = null
    val byCluster = timed("dd_cluster_star @ sf~1") {
      df = SparkEntry.queries("dd_cluster_star")(spark, dir)
      df.groupBy(col("cluster_id")).count().localCheckpoint()
    }
    val clusters = byCluster.count()
    val members = byCluster.agg(sum(col("count"))).head().getLong(0)
    // All 10 copies of a doc are near-dups → every clustered doc's copies
    // share its component, so membership is a multiple of the copy count
    // in the common case; the hard invariants are structural:
    assert(clusters > 0)
    assert(members >= Copies.toLong * 100,
      s"copy-sets must cluster: $members members in $clusters components")
    // A cluster id is always one of its members (star-contraction min).
    val ids = df.select(col("cluster_id")).distinct()
    val notMember = ids.join(df.select(col("doc_id")),
      ids("cluster_id") === col("doc_id"), "left_anti").count()
    assert(notMember === 0, "cluster_id must be the component's min doc_id")
  }

  test("dd_substring pairs every copy-set at sf≈1; the boilerplate cap absorbs shared-anchor blowup") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    var df: org.apache.spark.sql.DataFrame = null
    val n = timed("dd_substring @ sf~1") {
      df = SparkEntry.queries("dd_substring")(spark, dir)
      df.count()
    }
    // The 10 identical copies of any document share ALL its anchors, so
    // each base doc with ≥2 surviving anchors contributes C(10,2)=45
    // pairs; within-copy-set anchor groups (10-12 docs) sit far below
    // the 64-doc boilerplate cap, while anchors ORGANICALLY shared
    // across many base docs blow past it at 10× and are excluded —
    // exactly the cap's job. Generous floor for short/anchor-poor docs.
    assert(n >= 45L * 1000, s"expected ≥ ${45L * 1000} cross-copy pairs, got $n")
    assert(df.filter(col("doc_a") >= col("doc_b")).limit(1).count() === 0)
    assert(df.filter(col("shared_anchors") < 2).limit(1).count() === 0)
  }

  test("dd_semantic removes every cross-copy duplicate at sf≈1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    val nBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").count()
    var df: org.apache.spark.sql.DataFrame = null
    val removed = timed("dd_semantic @ sf~1") {
      df = SparkEntry.queries("dd_semantic")(spark, dir)
      df.count()
    }
    // The 10 identical copies of every base vector share a centroid
    // (same embedding → same argmax) and score cosine 1.0 pairwise, so
    // at least 9 of each copy-set are removed; the keeper must be a
    // smaller id than what it replaces.
    assert(removed >= 9L * nBase,
      s"expected ≥ ${9L * nBase} semantic removals, got $removed")
    assert(df.filter(col("vec_kept") >= col("vec_removed")).limit(1).count() === 0)
  }

  test("text_ngram_novelty sees through cross-copy repetition at sf≈1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    var df: org.apache.spark.sql.DataFrame = null
    val n = timed("text_ngram_novelty @ sf~1") {
      df = SparkEntry.queries("text_ngram_novelty")(spark, dir)
      df.count()
    }
    assert(n > 0)
    // Every gram now occurs in ≥ 10 copies, so NOTHING is corpus-rare:
    // the novelty signal must collapse to exactly zero corpus-wide —
    // the cross-document frequency aggregation actually crossed copies.
    val stats = df.agg(max(col("novelty")), sum(col("n_rare"))).head()
    assert(stats.getDouble(0) === 0.0 && stats.getLong(1) === 0L,
      s"replicated corpus must have zero rare grams: $stats")
  }

  test("dd_containment pairs every copy-set at sf≈1; the rare-gram cap absorbs organic fan-out") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    var df: org.apache.spark.sql.DataFrame = null
    val n = timed("dd_containment @ sf~1") {
      df = SparkEntry.queries("dd_containment")(spark, dir)
      df.count()
    }
    // Copies of a document share its ENTIRE bigram set (containment 1.0),
    // so each base doc whose gram set keeps a rare gram after the 10x
    // replication contributes C(10,2)=45 pairs. Under replication a gram
    // stays under the 64-doc cap only if ≤6 BASE docs carried it, so most
    // copy-sets lose their candidate grams and the pair count SHRINKS —
    // candidate generation contracts toward the genuinely rare shared
    // content instead of exploding n², which is the scale property this
    // test defends (measured: ~2.1k pairs vs ~225k if every copy-set
    // paired). Floor: at least a handful of base docs keep a
    // ≤6-base-doc gram; ceiling: far below the every-copy-set blowup.
    assert(n >= 45L * 10, s"expected ≥ ${45L * 10} cross-copy pairs, got $n")
    assert(n <= 45L * 2500, s"cap failed to contract candidates: $n pairs")
    assert(df.filter(col("doc_a") >= col("doc_b")).limit(1).count() === 0)
    assert(df.filter(col("containment") < 0.8).limit(1).count() === 0)
  }

  test("ann_ivf_topk serves at sf≈1 with intact top-k contract") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    val rows = timed("ann_ivf_topk @ sf~1") {
      SparkEntry.queries("ann_ivf_topk")(spark, dir).collect()
    }
    assert(rows.nonEmpty)
    // Still exactly the 3 probe queries (vec_id < 3 — copies shifted away)
    // and at most k=3 ranked hits each, rank values dense from 1.
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet.subsetOf(Set(0L, 1L, 2L)))
    byQ.values.foreach { hits =>
      val rnks = hits.map(_.getAs[Int]("rnk")).sorted
      assert(rnks.length <= 3 && rnks.sameElements(1 to rnks.length))
    }
  }

  test("dd_incremental serves a shard against a ~33k-doc claim store at sf≈1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    var df: org.apache.spark.sql.DataFrame = null
    val n = timed("dd_incremental @ sf~1") {
      df = SparkEntry.queries("dd_incremental")(spark, dir)
      df.localCheckpoint().createOrReplaceTempView("stress_ddi")
      spark.table("stress_ddi").count()
    }
    // Replicated copies share every anchor, so shard↔store pairs must
    // exist; the combined cap (store+new ≤ 64) keeps fan-out bounded.
    assert(n > 0, "replicated corpus must produce shard-touching pairs")
    val bad = spark.sql(
      "SELECT count(*) FROM stress_ddi WHERE doc_a % 3 != 2 AND doc_b % 3 != 2")
      .head().getLong(0)
    assert(bad === 0, s"$bad pairs touch no shard doc")
    assert(spark.sql("SELECT count(*) FROM stress_ddi WHERE shared_anchors < 2")
      .head().getLong(0) === 0)
  }

  test("dd_incremental_lsh serves a shard against the sf≈1 band store") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    var df: org.apache.spark.sql.DataFrame = null
    val n = timed("dd_incremental_lsh @ sf~1") {
      df = SparkEntry.queries("dd_incremental_lsh")(spark, dir)
      df.localCheckpoint().createOrReplaceTempView("stress_ddl")
      spark.table("stress_ddl").count()
    }
    assert(n > 0, "replicated corpus must produce shard-touching near-dups")
    val bad = spark.sql(
      "SELECT count(*) FROM stress_ddl WHERE doc_a % 3 != 2 AND doc_b % 3 != 2")
      .head().getLong(0)
    assert(bad === 0, s"$bad pairs touch no shard doc")
    assert(spark.sql("SELECT count(*) FROM stress_ddl WHERE est_jaccard < 0.5")
      .head().getLong(0) === 0)
  }

  test("text_quality_model trains and scores the full sf≈1 corpus") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    val docCount = spark.read.parquet(s"$dir/documents.parquet").count()
    var df: org.apache.spark.sql.DataFrame = null
    val stats = timed("text_quality_model @ sf~1") {
      df = SparkEntry.queries("text_quality_model")(spark, dir)
      df.agg(count(lit(1)), sum(col("predicted")), sum(col("correct"))).head()
    }
    assert(stats.getLong(0) === docCount, "every doc must be scored")
    val predicted1 = stats.getLong(1)
    assert(predicted1 > 0 && predicted1 < docCount,
      s"degenerate verdict: $predicted1 of $docCount predicted 1")
    // The model mimics its own weak labels far above chance even at 10x.
    assert(stats.getLong(2).toDouble / stats.getLong(0) > 0.7,
      s"train-label agreement collapsed: ${stats.getLong(2)} / ${stats.getLong(0)}")
  }

  test("text_lm_score is EXACTLY invariant under uniform 10x replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Uniform replication multiplies every bigram count, prefix count and
    // the token total by the SAME factor (copies preserve id parity, so
    // the train split replicates too) — every micro-unit conditional is
    // therefore bit-identical: (2e6·10c2 + 10c1) div (2·10c1) floors the
    // same value as (2e6·c2 + c1) div (2·c1). The corpus-level score
    // distribution at sf≈1 must EQUAL sf0.1's, with 10x the rows — the
    // scale-invariance that proves the fold is counting structure, not
    // volume.
    val baseStats = SparkEntry.queries("text_lm_score")(spark, "/root/testdata/sf0.1")
      .agg(count(lit(1)), min(col("lm_score")), max(col("lm_score"))).head()
    var df: org.apache.spark.sql.DataFrame = null
    val stats = timed("text_lm_score @ sf~1") {
      df = SparkEntry.queries("text_lm_score")(spark, dir)
      df.agg(count(lit(1)), min(col("lm_score")), max(col("lm_score"))).head()
    }
    assert(stats.getLong(0) === Copies * baseStats.getLong(0),
      "every copy must score")
    assert(stats.getDouble(1) === baseStats.getDouble(1) &&
      stats.getDouble(2) === baseStats.getDouble(2),
      s"score distribution must be replication-invariant: " +
        s"base [${baseStats.getDouble(1)}, ${baseStats.getDouble(2)}] vs " +
        s"sf≈1 [${stats.getDouble(1)}, ${stats.getDouble(2)}]")
    // And inside the micro-unit domain.
    assert(stats.getDouble(1) >= 0.0 && stats.getDouble(2) <= 1000000.0)
  }

  test("text_bpe_train learns the IDENTICAL merge schedule under 10x replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Uniform replication multiplies every word frequency — and therefore
    // every pair count — by exactly 10: the argmax sequence, tie-breaks
    // included, cannot change. The learned tokenizer must be bit-identical
    // with counts x10 (the BPE sibling of text_lm_score's invariance).
    def table(d: String) = SparkEntry.queries("text_bpe_train")(spark, d)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val base = table("/root/testdata/sf0.1")
    val scaled = timed("text_bpe_train @ sf~1")(table(dir))
    assert(scaled == base.map { case (i, p, m, c) => (i, p, m, c * Copies) })
  }

  test("text_bpe_train at 1,024 merges: per-round cost stays flat, schedule prefix-stable") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // The production claim (TokenizerQueries.Merges doc): 30-50k merges
    // are a budget knob because each round costs one vocab-sized
    // aggregation + a LIMIT-1 argmax, constant over rounds. Demonstrate
    // it: train 64 merges to measure the short-run rate, then 1,024
    // end-to-end, and assert the amortized per-round cost of the long
    // run shows no O(rounds²) creep. Greedy BPE is a prefix property —
    // the long run's first 64 merges must be IDENTICAL to the short
    // run's — and the rolling unpersist must keep pinned storage at ~2
    // vocab tables regardless of merge count.
    //
    // Corpus: the driver fixture's templated vocabulary saturates at 89
    // merges (measured — no pair occurs twice after that), so the DEPTH
    // demo trains on a synthetic vocabulary with production-like pair
    // diversity: 10k distinct 64-char pseudo-random words over a
    // 16-letter alphabet (640k positions — 5-gram types still repeat at
    // this size, so merges stay available far past 1,024). Deterministic
    // (md5 of the row id), so the prefix-stability assertion is exact.
    spark.sql(
      """SELECT id AS doc_id,
        |       translate(concat(md5(cast(id AS string)),
        |                        md5(cast(id + 1000000 AS string))),
        |                 '0123456789', 'ghijklmnop') AS text
        |FROM range(10000)""".stripMargin)
      .repartition(32).createOrReplaceTempView("documents")
    def timedRun(n: Int): (Seq[graft.queries.TokenizerQueries.Merge], Double) = {
      val t0 = System.nanoTime()
      val m = graft.queries.TokenizerQueries.trainMergesOnView(spark, n)
      (m, (System.nanoTime() - t0) / 1e9)
    }
    val (short, tShort) = timedRun(64)
    assert(short.size == 64, s"short run stopped early at ${short.size}")
    val (long, tLong) = timedRun(1024)
    assert(long.size == 1024, s"long run stopped early at ${long.size}")
    val perShort = tShort / 64
    val perLong = tLong / 1024
    info(f"64 merges: $tShort%.1f s (${perShort * 1000}%.0f ms/round); " +
      f"1,024 merges: $tLong%.1f s (${perLong * 1000}%.0f ms/round)")
    assert(perLong <= 2.5 * perShort,
      f"per-round cost crept: ${perLong * 1000}%.0f ms vs ${perShort * 1000}%.0f ms")
    assert(long.take(64) == short, "greedy schedule must be prefix-stable")
    // Rolling unpersist held: pinned RDDs are bounded, not ~1,024.
    val pinned = spark.sparkContext.getPersistentRDDs.size
    assert(pinned < 32, s"$pinned pinned RDDs after the 1,024-merge run")
    graft.operators.PinnedStages.sweepTransient(spark)
  }

  test("inverted-index BPE trainer: identical schedule at depth, probe vs instr scan measured") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // r14: the (pair, seg) posting index replaces the delta trainer's
    // per-round instr vocab scan with an equi-join probe. At depth the
    // accepted pairs' posting lists shrink while the instr scan stays
    // flat at full vocab character mass — the crossover the index
    // exists for. Same 10k-word high-diversity corpus as the 1,024-
    // merge demo; 512 merges keeps both runs inside the suite budget.
    spark.sql(
      """SELECT id AS doc_id,
        |       translate(concat(md5(cast(id AS string)),
        |                        md5(cast(id + 1000000 AS string))),
        |                 '0123456789', 'ghijklmnop') AS text
        |FROM range(10000)""".stripMargin)
      .repartition(32).createOrReplaceTempView("documents")
    def run(f: => Seq[graft.queries.TokenizerQueries.Merge]) = {
      val t0 = System.nanoTime(); val m = f
      (m, (System.nanoTime() - t0) / 1e9)
    }
    // Storage-creep bound as a DELTA around this test's own runs (the
    // absolute count also sees other tests' shared pins and in-flight
    // async unpersists — the first form of this assertion flaked on
    // exactly that).
    graft.operators.PinnedStages.sweepTransient(spark)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val (delta, tDelta) = run(
      graft.queries.TokenizerQueries.trainMergesDelta(spark, 512))
    val (indexed, tIndexed) = run(
      graft.queries.TokenizerQueries.trainMergesIndexed(spark, 512))
    assert(indexed == delta, {
      val d = indexed.zip(delta).indexWhere { case (a, b) => a != b }
      s"schedules diverge at merge $d: ${indexed.lift(d)} vs ${delta.lift(d)}"
    })
    info(f"512 merges: instr-scan delta $tDelta%.1f s, " +
      f"indexed probe $tIndexed%.1f s (${tDelta / tIndexed}%.2fx)")
    // No storage creep from the third maintained relation: after the
    // sweep, this test's own residue must be bounded (not ~rounds).
    graft.operators.PinnedStages.sweepTransient(spark)
    val pinnedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(pinnedAfter <= pinnedBefore + 8,
      s"pinned RDDs crept across the trainer runs: $pinnedBefore -> $pinnedAfter")
  }

  test("dd_span_rewrite at sf≈1: later copies empty out; copy 0 is replication-invariant") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    def rows(d: String) = SparkEntry.queries("dd_span_rewrite")(spark, d)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("dd_span_rewrite @ sf~1")(rows(dir))
    // Every block of a copy-k>0 document first occurred in copy 0, so the
    // rewrite must excise ALL of it.
    val later = scaled.filter(_._1 >= IdStride)
    assert(later.size == (Copies - 1) * base.size)
    assert(later.values.forall { case (_, kept, words, _) => kept == 0L && words == 0L },
      "a non-first copy kept a block")
    // And copy 0's rewrite is exactly the standalone sf0.1 rewrite: the
    // extra copies never steal a first occurrence from the lowest ids.
    assert(scaled.filter(_._1 < IdStride) == base)
  }

  test("pipe_chunk scales linearly with an unchanged distinct-chunk set at sf≈1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    val b = SparkEntry.queries("pipe_chunk")(spark, "/root/testdata/sf0.1")
      .agg(count(lit(1)), countDistinct(col("chunk_hash"))).head()
    val s = timed("pipe_chunk @ sf~1") {
      SparkEntry.queries("pipe_chunk")(spark, dir)
        .agg(count(lit(1)), countDistinct(col("chunk_hash"))).head()
    }
    assert(s.getLong(0) == Copies * b.getLong(0), "chunk volume must be linear")
    assert(s.getLong(1) == b.getLong(1), "replication must add no new distinct chunks")
  }

  test("sk_hll_distinct is EXACTLY invariant under 10x replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replication adds no new distinct words, and register maxes are a
    // semilattice over the distinct set — every output column must be
    // bit-identical to the sf0.1 run.
    def rows(d: String) = SparkEntry.queries("sk_hll_distinct")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2), r.getDouble(3), r.getLong(4))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("sk_hll_distinct @ sf~1")(rows(dir))
    assert(scaled == base, "HLL must not see volume, only distinct values")
  }

  test("ann_knn_graph at sf≈1: every copy's nearest neighbors are its own copies") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Each vector has 9 exact copies in its cluster (identical embedding
    // ⇒ identical centroid assignment), so every top-3 edge must sit at
    // cosine ≈ 1 (a neighbor beating an exact copy is itself an
    // exact-grade duplicate), and the overwhelming share must point at
    // copies of the same base vector — organic near-identical pairs in
    // the base corpus may legitimately tie in, so the same-base claim is
    // a floor, not an equality.
    val g = timed("ann_knn_graph @ sf~1") {
      SparkEntry.queries("ann_knn_graph")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    }
    assert(g.nonEmpty)
    val low = g.filter(_._3 < 0.999999)
    assert(low.isEmpty,
      s"${low.size} edges below 0.999999 despite 9 exact copies in-cluster")
    val sameBase = g.count { case (v, n, _) => (v % IdStride) == (n % IdStride) }
    assert(sameBase.toDouble / g.size > 0.9,
      s"only $sameBase/${g.size} edges point at same-base copies")
  }

  test("trained k≈√n centroids shrink the knn/semantic reducer bound at sf≈1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // The SURVEY rows for ann_knn_graph / dd_semantic promise "k ≈ √n
    // trained centroids at production — the KMeansTrainer swap". Run the
    // swap: train √n ≈ 140 coarse centroids on the sf≈1 corpus, route
    // BOTH operators through them, and assert (a) the per-reducer bound
    // — the within-cluster pair join's largest reducer does |cluster|²
    // work — actually drops vs the 16-way fixture routing, and (b) edge
    // quality holds (the 9 exact copies of every vector share its
    // cluster under ANY centroid set, so every top-3 edge still scores
    // cosine ≈ 1 and semantic dedup still removes all cross-copy dups).
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val nVec = emb.count()
    val k = math.max(16, math.round(math.sqrt(nVec.toDouble)).toInt)
    val (cents, iters) = timed(s"KMeansTrainer k=$k @ sf~1") {
      graft.tools.KMeansTrainer.train(spark, emb, k, maxIters = 5)
    }
    info(s"trained $k centroids in $iters Lloyd rounds over $nVec vectors")

    def reducerStats(c: org.apache.spark.sql.DataFrame) =
      graft.tools.KMeansTrainer.assign(spark, emb, c)
        .groupBy("c_id").count()
        .agg(max("count"), sum(col("count") * col("count"))).head()
    val fixtureCents = emb.filter(col("vec_id").between(100, 115))
      .selectExpr("CAST(vec_id AS INT) AS c_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb")
    val f = reducerStats(fixtureCents)
    val t = reducerStats(cents)
    val (maxF, workF) = (f.getLong(0), f.getLong(1))
    val (maxT, workT) = (t.getLong(0), t.getLong(1))
    info(f"fixture routing: max|c|=$maxF, Σ|c|²=$workF; trained: max|c|=$maxT, " +
      f"Σ|c|²=$workT (${workF.toDouble / workT}%.1fx less pair work)")
    assert(maxT < maxF,
      s"largest trained cluster ($maxT) must undercut the fixture's ($maxF)")
    assert(workT * 3 <= workF,
      s"trained pair work $workT must be ≤ 1/3 of fixture $workF")

    val g = timed("ann_knn_graph TRAINED @ sf~1") {
      graft.queries.SimilarityQueries.annKnnGraphTrained(spark, dir, cents)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(4)))
    }
    assert(g.nonEmpty)
    val low = g.filter(_._3 < 0.999999)
    assert(low.isEmpty,
      s"${low.size} trained-routing edges below 0.999999 despite 9 exact copies in-cluster")
    val sameBase = g.count { case (v, nb, _) => (v % IdStride) == (nb % IdStride) }
    assert(sameBase.toDouble / g.size > 0.9,
      s"only $sameBase/${g.size} trained-routing edges point at same-base copies")

    val nBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").count()
    var sem: org.apache.spark.sql.DataFrame = null
    val removed = timed("dd_semantic TRAINED @ sf~1") {
      sem = graft.queries.DedupQueries.ddSemanticTrained(spark, dir, cents)
      sem.count()
    }
    assert(removed >= 9L * nBase,
      s"expected ≥ ${9L * nBase} semantic removals under trained routing, got $removed")
    assert(sem.filter(col("vec_kept") >= col("vec_removed")).limit(1).count() === 0)
  }

  test("pipe_tokenize_pack scales token mass linearly at sf≈1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // The tokenizer is replication-invariant (proven above), so the
    // total packed BPE token mass must be exactly 10x the sf0.1 mass.
    val b = SparkEntry.queries("pipe_tokenize_pack")(spark, "/root/testdata/sf0.1")
      .agg(sum(col("chunk_tokens"))).head().getLong(0)
    val s = timed("pipe_tokenize_pack @ sf~1") {
      SparkEntry.queries("pipe_tokenize_pack")(spark, dir)
        .agg(sum(col("chunk_tokens"))).head().getLong(0)
    }
    assert(s == Copies * b, s"token mass $s != ${Copies}x$b")
  }

  test("e10_funnel replicates user-for-user at sf≈1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Every copy is a fresh user with the base user's exact event times,
    // so the funnel must produce 10x the rows with identical per-user
    // stage times — behavioral analytics sees population, not volume.
    def rows(d: String) = SparkEntry.queries("e10_funnel")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getInt(4), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("e10_funnel @ sf~1")(rows(dir))
    assert(scaled.size == Copies * base.size)
    scaled.foreach { case (u, row) =>
      assert(row == base(u % IdStride), s"user $u diverged from its base copy")
    }
  }

  test("e11_retention scales every cohort cell exactly 10x at sf≈1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    def cells(d: String) = SparkEntry.queries("e11_retention")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val base = cells("/root/testdata/sf0.1")
    val scaled = timed("e11_retention @ sf~1")(cells(dir))
    assert(scaled.keySet == base.keySet, "replication must add no new cohort cells")
    base.foreach { case (k, n) =>
      assert(scaled(k) == Copies * n, s"cell $k: ${scaled(k)} != ${Copies}x$n")
    }
  }

  test("sk_kmv_intersect is EXACTLY invariant under 10x replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replication adds no new distinct shingles per language, KMV
    // signatures are functions of the distinct set only, and the exact
    // witnesses are DISTINCT-based too — every column of every pair row
    // must be bit-identical to the sf0.1 run.
    def rows(d: String) = SparkEntry.queries("sk_kmv_intersect")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getLong(7), r.getDouble(8))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("sk_kmv_intersect @ sf~1")(rows(dir))
    assert(scaled == base, "KMV set algebra must not see volume, only distinct sets")
  }

  test("ann_hamming_topk at sf≈1: binary retrieval surfaces exact copies first") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Each probe vector has 9 exact copies (identical embedding ⇒
    // identical sign words ⇒ Hamming 0 ⇒ cosine 1 at rerank), and
    // Hamming-0 candidates saturate the shortlist head — so every
    // returned neighbor must be a copy of the probe itself at cosine ≈ 1.
    // This is the dup-collapse behavior a binary first-stage filter
    // exists to provide at scale.
    val rows = timed("ann_hamming_topk @ sf~1") {
      SparkEntry.queries("ann_hamming_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3),
          r.getDouble(4)))
    }
    assert(rows.length == 15, s"expected 3 probes x 5, got ${rows.length}")
    rows.foreach { case (q, v, ham, cs) =>
      assert(v % IdStride == q && ham == 0 && cs > 0.9999999,
        s"probe $q retrieved non-copy $v (hamming=$ham cos=$cs)")
    }
  }

  test("c12_scd2 replicates user-for-user at sf≈1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Events replicate on (user_id, event_id): each copy is a fresh user
    // population with the same relative change history, so the version
    // table must scale exactly 10x with per-base-user version/current
    // counts preserved in every copy.
    def profile(d: String) = SparkEntry.queries("c12_scd2")(spark, d)
      .groupBy(expr(s"user_id % $IdStride").as("base_user"))
      .agg(count(lit(1)).as("versions"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("currents"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = profile("/root/testdata/sf0.1")
    val scaled = timed("c12_scd2 @ sf~1")(profile(dir))
    assert(scaled.keySet == base.keySet)
    scaled.foreach { case (u, (v, c)) =>
      val (vb, cb) = base(u)
      assert(v == 10 * vb && c == 10 * cb,
        s"user $u versions $v currents $c vs base ${(vb, cb)}")
    }
  }

  test("pipe_pii_scrub at sf≈1: zero residual across the full corpus") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Injection schedules differ per copy (doc_id shifts change the
    // mod-class membership) — the invariant that holds regardless is the
    // compliance one: after the scrub, NO document retains a detectable
    // pattern, at any corpus size.
    val (n, residual, redactions) = timed("pipe_pii_scrub @ sf~1") {
      val out = SparkEntry.queries("pipe_pii_scrub")(spark, dir)
        .agg(count(lit(1)), sum("residual"), sum("n_redactions")).head()
      (out.getLong(0), out.getLong(1), out.getLong(2))
    }
    assert(n == 50000L, s"expected 10x5000 docs, got $n")
    assert(residual == 0L, s"residual PII after scrub: $residual")
    assert(redactions > 0L, "non-vacuous: some PII must have been injected")
  }

  test("pipe_split at sf≈1: every copy-set lands on one side of the split") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // The 10 exact copies of each base document share a content hash, so
    // the content-keyed split must keep all 10 together — the leakage
    // property that makes the validation set honest under duplication.
    val straddlers = timed("pipe_split @ sf~1") {
      SparkEntry.queries("pipe_split")(spark, dir)
        .groupBy("group_id")
        .agg(countDistinct("split").as("sides"), count(lit(1)).as("n"))
        .filter(col("sides") =!= 1 || col("n") % Copies =!= 0)
        .count()
    }
    assert(straddlers == 0L,
      s"$straddlers duplicate groups straddle the train/val boundary")
  }

  test("emb_pca_project direction is stable under 10x replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    def train(d: String): Array[Long] = {
      spark.read.parquet(s"$d/embeddings.parquet")
        .createOrReplaceTempView("embeddings")
      graft.queries.PcaQueries.trainTopComponentOnView(spark)
    }
    val vb = train("/root/testdata/sf0.1").map(_.toDouble)
    val vs = timed("emb_pca_train @ sf~1")(train(dir)).map(_.toDouble)
    // Replication scales the integer covariance ~uniformly (up to the
    // pre-scale division's rounding), so the learned direction must agree
    // to high precision even though the integers differ.
    val cos = (vb, vs).zipped.map(_ * _).sum /
      (math.sqrt(vb.map(x => x * x).sum) * math.sqrt(vs.map(x => x * x).sum))
    assert(math.abs(cos) > 0.9999, s"|cos| = ${math.abs(cos)}")
  }

  test("sk_cms_topk scales EXACTLY linearly under 10x replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replicated docs multiply every bigram occurrence by exactly
    // Copies: every grid cell, every exact count, and therefore every
    // min-estimate and overcount is exactly x10 — counter sketches see
    // volume linearly, never sub- or super-linearly.
    def rows(d: String) = SparkEntry.queries("sk_cms_topk")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("sk_cms_topk @ sf~1")(rows(dir))
    assert(scaled.keySet == base.keySet, "probe set must be stable")
    base.foreach { case (g, (ex, est, over)) =>
      assert(scaled(g) == ((ex * Copies, est * Copies, over * Copies)),
        s"bigram '$g': ${scaled(g)} != 10x $base")
    }
  }

  test("sk_hll_union is EXACTLY invariant under 10x replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replication adds no new distinct shingles per language; register
    // maxes — and the union sketch's register-wise max of them — are
    // semilattices over the distinct set, so every estimate and witness
    // must be bit-identical.
    def rows(d: String) = SparkEntry.queries("sk_hll_union")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6), r.getLong(7))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("sk_hll_union @ sf~1")(rows(dir))
    assert(scaled == base, "HLL set algebra must not see volume")
  }

  test("graph_triangles is EXACTLY invariant under order-replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Each lineitem copy re-buys the same part baskets under fresh order
    // keys: the DISTINCT co-purchase edge set collapses to the base
    // graph, so nodes, edges, degrees, wedges, triangles, and the
    // clustering coefficient are all bit-identical — while the pair
    // build has to chew through 10x the raw lineitem volume.
    def row(d: String) = SparkEntry.queries("graph_triangles")(spark, d)
      .collect().head
    val base = row("/root/testdata/sf0.1")
    val scaled = timed("graph_triangles @ sf~1")(row(dir))
    assert(scaled == base,
      s"triangle summary diverged: $scaled != $base")
    assert(base.getLong(4) > 0L, "triangle count must be non-vacuous")
  }

  test("dd_prefix_jaccard pair count is EXACTLY predictable under 10x replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Copies have IDENTICAL shingle sets, so for every base qualifying
    // pair (a, b) all 100 copy combinations qualify at the same Jaccard,
    // and every copy-set contributes its C(10,2) = 45 J=1 self-pairs:
    // scaled = 100·P_base + 45·D. An exact closed form — the prefix
    // filter must stay lossless while the candidate join chews through
    // the copy fan-out.
    val base = SparkEntry.queries("dd_prefix_jaccard")(spark, "/root/testdata/sf0.1")
      .count()
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .selectExpr("size(split(text, ' ')) >= 5 AS ok").filter(col("ok")).count()
    val scaled = timed("dd_prefix_jaccard @ sf~1")(
      SparkEntry.queries("dd_prefix_jaccard")(spark, dir).count())
    assert(scaled === 100L * base + 45L * docs,
      s"scaled=$scaled base=$base docs=$docs (expected ${100 * base + 45 * docs})")
  }

  test("ts_paa_topk at sf~1: every probe's nearest neighbors are its own copies, at distance 0") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // User replication creates 9 copies of each probe with IDENTICAL
    // event series: the true top-3 must be copies of the probe at
    // paa_d = full_d = 0, with the lower-bound witness intact.
    val rows = timed("ts_paa_topk @ sf~1")(
      SparkEntry.queries("ts_paa_topk")(spark, dir).collect())
    assert(rows.length === 9)
    rows.foreach { r =>
      val (p, u) = (r.getLong(0), r.getLong(1))
      assert(u % IdStride === p, s"probe $p matched non-copy $u")
      assert(r.getLong(2) === 0L && r.getLong(3) === 0L,
        s"copy pair ($p, $u) not at distance zero")
      assert(r.getInt(4) === 1, "lower-bound witness must hold")
    }
  }

  test("ts_sax_prune at sf~1: pruning stays admissible with copies in play") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Copies share the probe's SAX word (identical PAA vector), so the
    // probe's own bucket can never prune, and no true neighbor may be
    // dismissed — the no-false-dismissal column must stay 0 while the
    // index still prunes a nontrivial share of the 15,000-user corpus
    // (sf0.1's 1,500 users × 10 replicated populations).
    val rows = timed("ts_sax_prune @ sf~1")(
      SparkEntry.queries("ts_sax_prune")(spark, dir).collect())
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getLong(5) === 0L, "admissibility violated at scale")
      assert(r.getLong(4) > 0L, "index pruned nothing — vacuous at scale")
      assert(r.getLong(3) === 15000L, s"users_total ${r.getLong(3)}")
    }
  }

  test("ts_lbkeogh at sf~1: copies are the nearest neighbors and the envelope bound holds") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Identical copied series sit inside their own Sakoe–Chiba envelope
    // at every day, so each probe's 9 copies score lb = ed = 0 and must
    // be the ED top-3, with the LB_Keogh ≤ ED sandwich end intact.
    val rows = timed("ts_lbkeogh @ sf~1")(
      SparkEntry.queries("ts_lbkeogh")(spark, dir).collect())
    assert(rows.length === 9)
    rows.foreach { r =>
      assert(r.getLong(1) % IdStride === r.getLong(0),
        s"probe ${r.getLong(0)} matched non-copy ${r.getLong(1)}")
      assert(r.getLong(2) === 0L && r.getLong(3) === 0L,
        "copy pair not at lb = ed = 0")
      assert(r.getInt(4) === 1, "LB_Keogh <= ED violated")
    }
  }

  test("ts_dtw_topk at sf~1: the DTW refinement finds the copies through the LB cascade") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // At sf0.1 no candidate scores lb_keogh = 0 against any probe
    // (checked when this case was written), so under replication the
    // probe's 9 copies are EXACTLY the zero-LB set: the candidate cap
    // must admit them first, the DP must score them dtw = 0, and the
    // full LB_Keogh <= DTW <= ED chain must hold on every emitted pair
    // while the kernel runs over the 15,000-user corpus.
    val rows = timed("ts_dtw_topk @ sf~1")(
      SparkEntry.queries("ts_dtw_topk")(spark, dir).collect())
    assert(rows.length === 9)
    rows.foreach { r =>
      assert(r.getLong(1) % IdStride === r.getLong(0),
        s"probe ${r.getLong(0)} matched non-copy ${r.getLong(1)}")
      assert(r.getLong(2) === 0L && r.getLong(3) === 0L && r.getLong(4) === 0L,
        "copy pair not at lb = dtw = ed = 0")
      assert(r.getInt(5) === 1, "the elastic sandwich broke at scale")
    }
  }

  test("text_spell_pairs: pair structure invariant, frequencies exactly x10 at sf~1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replicated documents change no vocabulary — the deletion-
    // neighborhood join must emit the IDENTICAL pair set with each
    // word's frequency exactly x10 (losslessness and count exactness in
    // one assertion).
    def rows(d: String) = SparkEntry.queries("text_spell_pairs")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("text_spell_pairs @ sf~1")(rows(dir))
    assert(base.nonEmpty, "vacuous: no edit pairs at sf0.1")
    assert(scaled.keySet == base.keySet, "pair set must be invariant")
    base.foreach { case (k, (d, fa, fb)) =>
      assert(scaled(k) == ((d, fa * Copies, fb * Copies)), s"pair $k")
    }
  }

  test("pipe_zorder: z-layout extents invariant, bucket counts exactly x10 at sf~1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // lineitem replicates on l_orderkey only, so every copy carries the
    // same (partkey, suppkey) points: the z-order layout's buckets keep
    // their exact extents and areas with counts x10. (The insertion
    // layout legitimately shifts — copies append new orderkey ranges.)
    def zrows(d: String) = SparkEntry.queries("pipe_zorder")(spark, d)
      .collect().filter(_.getString(0) == "zorder")
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val base = zrows("/root/testdata/sf0.1")
    val scaled = timed("pipe_zorder @ sf~1")(zrows(dir))
    assert(scaled.keySet == base.keySet, "z-bucket set must be invariant")
    base.foreach { case (b, (c, xa, xb, ya, yb, ar)) =>
      assert(scaled(b) == ((c * Copies, xa, xb, ya, yb, ar)), s"bucket $b")
    }
  }

  test("ann_sq_topk at sf~1: copies win at the probe's own quantization error") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replicated vectors leave the per-dimension quantizer ranges
    // unchanged (same value multiset), so every copy of a probe scores
    // exactly the probe's self-quantization error (~75 micro-units² at
    // sf0.1) while the nearest non-copy sits ~1.2e6 away: the top-5 must
    // be five copies, all at one identical distance.
    val rows = timed("ann_sq_topk @ sf~1")(
      SparkEntry.queries("ann_sq_topk")(spark, dir).collect())
    assert(rows.length === 15)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.forall(_.getLong(1) % IdStride === q),
        s"probe $q matched a non-copy")
      assert(rs.map(_.getLong(2)).distinct.length === 1,
        s"copies of probe $q not at one distance")
    }
  }

  test("d10_basket_rules: scaled rules are EXACTLY the x10 arithmetic of base supports") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // lineitem replicates on the order key only, so every support and
    // the basket count scale by exactly x10. The top-20 SET legitimately
    // shifts — the absolute minsup floor admits pairs whose base support
    // was below it (that is what an absolute floor means under growth) —
    // but every emitted rule's metrics must be the exact integer
    // arithmetic of its BASE supports: sab x10, and confidence/lift
    // bit-equal to the base-support formulas (the x10 cancels through
    // both floors because numerator and denominator share it).
    val scaled = timed("d10_basket_rules @ sf~1")(
      SparkEntry.queries("d10_basket_rules")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap)
    assert(scaled.size === 20)
    // Base supports, floor-free, recomputed from the sf0.1 relation.
    spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .createOrReplaceTempView("d10_base_li")
    val baseRows = spark.sql(
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |           FROM d10_base_li),
        |n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM b),
        |item AS (SELECT p, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY p),
        |pair AS (SELECT a.p AS pa, c.p AS pb, CAST(count(*) AS BIGINT) AS sab
        |         FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
        |         GROUP BY a.p, c.p)
        |SELECT pa, pb, sab, ia.s AS sa, ib.s AS sb, n.n
        |FROM pair JOIN item ia ON ia.p = pa JOIN item ib ON ib.p = pb
        |CROSS JOIN n""".stripMargin).collect()
      .flatMap { r =>
        val (pa, pb, sab, sa, sb, n) = (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        Seq((pa, pb) -> (sab, sa, sb, n), (pb, pa) -> (sab, sb, sa, n))
      }.toMap
    scaled.foreach { case (k @ (a, b), (sab, conf, lift)) =>
      val (bsab, bsa, bsb, bn) = baseRows((a, b))
      assert(sab === bsab * Copies, s"rule $k support")
      assert(conf === bsab * 1000000L / bsa, s"rule $k confidence")
      assert(lift === bsab * 1000000L * bn / (bsa * bsb), s"rule $k lift")
    }
  }

  test("ts_discord at sf~1: the top-10 are the ten copies of the base discord champion") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replicated users carry identical series, so every copy scores the
    // base user's exact discord (window and distance); if the base
    // champion's score is unique, the scaled top-10 must be precisely
    // its ten copies — a full integer-invariance statement for the
    // whole window-pair/profile/argmax pipeline.
    val base = SparkEntry.queries("ts_discord")(spark, "/root/testdata/sf0.1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assume(base.length >= 2 && base(0)._3 > base(1)._3,
      "base champion must be unique for the strong form")
    val champ = base(0)
    val scaled = timed("ts_discord @ sf~1")(
      SparkEntry.queries("ts_discord")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))))
    assert(scaled.length === 10)
    scaled.foreach { case (u, w, d2) =>
      assert(u % IdStride === champ._1, s"non-copy $u in the scaled top-10")
      assert(w === champ._2 && d2 === champ._3, s"copy $u diverged: ($w, $d2)")
    }
  }

  test("pipe_cdc_chunk: boundaries are content properties — chunk-hash set invariant at sf~1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replicated documents chunk identically (boundaries depend only on
    // content), so the DISTINCT chunk-hash set is exactly the base set
    // and total chunk count is exactly x10 — the operator-level form of
    // CdcChunkSpec's determinism property.
    def stats(d: String) = {
      val df = SparkEntry.queries("pipe_cdc_chunk")(spark, d)
      (df.count(), df.select("chunk_hash").distinct().count())
    }
    val (baseN, baseH) = stats("/root/testdata/sf0.1")
    val (n, h) = timed("pipe_cdc_chunk @ sf~1")(stats(dir))
    assert(n === baseN * Copies, s"chunk count $n != ${Copies}x $baseN")
    assert(h === baseH, s"distinct chunk hashes $h != $baseH")
  }

  test("text_rake: keyphrase ranking EXACTLY invariant, occurrences x10 at sf~1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replication multiplies every word's degree and frequency by the
    // same factor, so word scores — and therefore phrase scores and the
    // top-10 — are exactly invariant while occurrence counts scale x10.
    def rows(d: String) = SparkEntry.queries("text_rake")(spark, d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("text_rake @ sf~1")(rows(dir))
    assert(base.nonEmpty && scaled.keySet == base.keySet,
      "top keyphrase set must be invariant")
    base.foreach { case (k, (w, occ, sc)) =>
      assert(scaled(k) == ((w, occ * Copies, sc)), s"phrase '$k'")
    }
  }

  test("text_textrank: ranks EXACTLY invariant under replication at sf~1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // The DISTINCT word-adjacency set is a pure content property, so
    // degrees, the node count, and all five integer PageRank rounds are
    // bit-identical under 10x document replication.
    def rows(d: String) = SparkEntry.queries("text_textrank")(spark, d)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("text_textrank @ sf~1")(rows(dir))
    assert(base.nonEmpty && scaled == base,
      s"ranks diverged: sample ${(scaled.toSet diff base.toSet).take(3)}")
  }

  test("ts_seasonal: every decomposition component scales EXACTLY x10 at sf~1") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Daily totals are sums over user populations, so the series, the
    // 7-day trend, the x7 residuals, and the per-dow residual sums all
    // scale by exactly the replication factor while window-day counts
    // stay fixed — a full linearity statement for the decomposition.
    def rows(d: String) = SparkEntry.queries("ts_seasonal")(spark, d)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          r.getLong(5), r.getLong(6))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("ts_seasonal @ sf~1")(rows(dir))
    assert(scaled.keySet == base.keySet)
    base.foreach { case (day, (c, t7, dow, r, dr, dd)) =>
      assert(scaled(day) == ((c * Copies, t7 * Copies, dow,
        r.map(_ * Copies), dr * Copies, dd)), s"day $day")
    }
  }

  test("e15_attribution scales EXACTLY linearly under 10x user replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Each copy is a fresh user population with identical per-user
    // histories: every (first_touch, last_touch) cell's purchases,
    // revenue, and distinct buyers are exactly x10.
    def rows(d: String) = SparkEntry.queries("e15_attribution")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("e15_attribution @ sf~1")(rows(dir))
    assert(scaled.keySet == base.keySet, "attribution cells must be stable")
    base.foreach { case (k, (p, rev, u)) =>
      assert(scaled(k) == ((p * Copies, rev * Copies, u * Copies)),
        s"cell $k: ${scaled(k)} != 10x ($p, $rev, $u)")
    }
  }

  test("ann_nsw_topk at sf≈1: beam search converges to exact copies") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Every probe has 9 exact copies in the corpus (sim_micro =
    // 1,000,000) sharing its coarse lists, so the navigable graph links
    // them into a perfect-similarity clique: a beam that reaches ANY
    // copy chains into all of them within one hop. The invariant: every
    // returned neighbor scores sim_micro = 1,000,000 (a result below
    // that means the beam settled for a worse vector while a
    // perfect-similarity clique was reachable — a navigability failure),
    // and each probe's top-3 exist (9 rows).
    val rows = timed("ann_nsw_topk @ sf~1") {
      SparkEntry.queries("ann_nsw_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    }
    assert(rows.length == 9, s"expected 3 probes x top-3, got ${rows.length}")
    val below = rows.filter(_._3 < 1000000L)
    assert(below.isEmpty,
      s"${below.size} beam results below perfect similarity despite 9 exact copies: " +
        below.take(5).mkString(", "))
  }

  test("ann_ivf_trained_topk at sf≈1: trained routing serves copies first") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Identical vectors quantize identically, so each probe's 9 copies
    // have integer distance 0 and share its trained centroid: the top-3
    // must all be distance-0 copies of the probe's base vector.
    val rows = timed("ann_ivf_trained_topk @ sf~1") {
      SparkEntry.queries("ann_ivf_trained_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    }
    assert(rows.length == 9, s"expected 3 probes x top-3, got ${rows.length}")
    rows.foreach { case (q, v, d) =>
      assert(d == 0L, s"probe $q neighbor $v at distance $d, expected a 0-distance copy")
      assert(v % IdStride == q % IdStride,
        s"probe $q neighbor $v is not one of its copies")
    }
  }

  test("graph_kcore decomposition is EXACTLY invariant under order-replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replicated orders re-buy from the SAME customers/suppliers, so the
    // distinct bipartite edge set collapses to the base graph: every
    // node's degree and coreness must be bit-identical to the sf0.1 run
    // while the orders⋈lineitem build chews 10x the rows — and the
    // h-operator must still hit its fixpoint inside KcoreRounds.
    def rows(d: String) = SparkEntry.queries("graph_kcore")(spark, d)
      .orderBy("node_type", "node_id").collect().toSeq
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("graph_kcore @ sf~1")(rows(dir))
    assert(scaled === base, "coreness decomposition diverged under replication")
    assert(base.map(_.getLong(3)).max > 1L, "max coreness must be non-vacuous")
  }

  test("graph_bfs distances are EXACTLY invariant under order-replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    def rows(d: String) = SparkEntry.queries("graph_bfs")(spark, d)
      .orderBy("probe", "node_type", "node_id").collect().toSeq
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("graph_bfs @ sf~1")(rows(dir))
    assert(scaled === base, "BFS distances diverged under replication")
    assert(base.map(_.getLong(3)).max >= 2L, "radius must be non-vacuous")
  }

  test("graph_link_predict top-50 is EXACTLY invariant under order-replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // The distinct co-purchase edge set is replication-invariant, so
    // degrees, common-neighbor counts, RA contributions, the support
    // floor, and the top-50 cut are all bit-identical; only the pair
    // build pays the 10x lineitem volume.
    def rows(d: String) = SparkEntry.queries("graph_link_predict")(spark, d)
      .orderBy("p1", "p2").collect().toSeq
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("graph_link_predict @ sf~1")(rows(dir))
    assert(scaled === base, "link-prediction top-50 diverged under replication")
    assert(base.map(_.getLong(4)).max >= 3L, "support floor must be non-vacuous")
  }

  test("graph_cc at sf~1: support growth legitimately fuses the strong-tie graph") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Order-replication multiplies every co-purchase count by 10, so the
    // >=2-order support floor admits EVERY co-purchased pair — the same
    // absolute-minsup semantics shift d10_basket_rules pins: the strong
    // graph becomes the full co-purchase graph, whose giant component
    // swallows (nearly) all 20k parts. Assert the shift explicitly and
    // that the min-label fixpoint still lands inside CcRounds at 10x.
    val base = SparkEntry.queries("graph_cc")(spark, "/root/testdata/sf0.1")
      .collect()
    val scaled = timed("graph_cc @ sf~1") {
      SparkEntry.queries("graph_cc")(spark, dir).collect()
    }
    val baseComponents = base.map(_.getLong(1)).distinct.length
    val scaledComponents = scaled.map(_.getLong(1)).distinct.length
    assert(baseComponents > 100, s"base strong graph should fragment, got $baseComponents")
    assert(scaledComponents < baseComponents / 10,
      s"10x support should fuse components: $scaledComponents vs base $baseComponents")
    assert(scaled.length > base.length * 2,
      "the admitted edge set should cover far more parts at 10x")
  }

  test("text_bm25 at sf~1: each probe's top hit is a copy of the base top hit") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replicating documents x10 multiplies N and every df by 10: the
    // Robertson odds shift by a vanishing (±0.5-term) perturbation, so
    // the base #1 — which leads by an integer micro-unit margin — must
    // stay on top; its 10 identical copies tie at rank 1-10 broken by
    // doc_id. Assert rank-1 identity per probe query (the robust
    // invariant) plus the row-count contract.
    def top1(d: String) = SparkEntry.queries("text_bm25")(spark, d)
      .where(col("rnk") === 1).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val base = top1("/root/testdata/sf0.1")
    val scaled = timed("text_bm25 @ sf~1")(top1(dir))
    assert(scaled.keySet === base.keySet)
    scaled.foreach { case (q, doc) =>
      assert(doc % IdStride === base(q),
        s"query $q: scaled top hit $doc is not a copy of base top ${base(q)}")
    }
  }

  test("graph_hits scores are EXACTLY invariant under order-replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replicated orders re-buy from the SAME customers/suppliers, so the
    // DISTINCT directed edge set — and therefore every propagation sum,
    // every L1 total, and both top-10s — is bit-identical to the sf0.1
    // run while the orders⋈lineitem build chews 10x the rows.
    def rows(d: String) = SparkEntry.queries("graph_hits")(spark, d)
      .orderBy("node_type", "node_id").collect().toSeq
    val base = rows("/root/testdata/sf0.1")
    val scaled = timed("graph_hits @ sf~1")(rows(dir))
    assert(scaled === base, "HITS scores diverged under replication")
    assert(base.map(_.getLong(2)).distinct.length > 1,
      "top-10 scores must be non-degenerate")
  }

  test("graph_lpa at sf~1: deterministic contract holds on the fused graph") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Same support-floor shift as graph_cc: x10 co-purchase counts admit
    // every pair, so LPA runs on the near-complete co-purchase graph —
    // where plurality flooding to ONE giant community is LPA's
    // documented dense-graph behavior (the epidemic-label pathology the
    // original paper notes), not a bug. Assert the structural contract
    // instead: sizes add up per community, the fused graph covers most
    // parts, and the flood is indeed the (expected) giant community.
    val scaled = timed("graph_lpa @ sf~1") {
      SparkEntry.queries("graph_lpa")(spark, dir).collect()
    }
    val byLab = scaled.groupBy(_.getLong(1))
    byLab.foreach { case (lab, members) =>
      assert(members.forall(_.getLong(2) == members.length.toLong),
        s"community $lab size mismatch")
    }
    assert(scaled.length > 10000, "fused graph should cover most parts")
    val giant = byLab.values.map(_.length).max
    assert(giant > scaled.length / 2,
      "expected the dense-graph label flood (a dominant community)")
  }

  test("sk_qdigest at sf~1: exact quantiles invariant, sketch size stays constant") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Replication multiplies every value's multiplicity by 10, which
    // leaves every exact quantile VALUE unchanged — the invariance
    // witness. The sketch itself re-compresses at the 10x θ; assert the
    // q-digest contract: estimates never under-shoot (est ≥ exact), and
    // the kept-node count stays below the 2k(B+1) CONSTANT — size
    // independent of corpus scale is the whole point of the sketch.
    import graft.queries.SketchQueries.{QdB, QdK}
    def byKey(d: String) = SparkEntry.queries("sk_qdigest")(spark, d)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val base = byKey("/root/testdata/sf0.1")
    val scaled = timed("sk_qdigest @ sf~1")(byKey(dir))
    assert(scaled.keySet === base.keySet)
    scaled.foreach { case (k, (est, exact, err, kept)) =>
      assert(exact === base(k)._2, s"$k: exact quantile changed under replication")
      assert(est >= exact, s"$k: estimate under-shoots")
      assert(err >= 0L, s"$k: negative rank error")
      assert(kept <= 2L * QdK * (QdB + 1), s"$k: sketch size $kept not constant")
    }
  }

  test("text_unigram_segment at sf~1: relational DP still optimal at 10x counts") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // x10 frequencies shift every bitlen cost by ~log2(10), so
    // segmentations may legitimately differ from the base run — the
    // invariant is OPTIMALITY, not stability: re-run the classic
    // driver-side Viterbi on the 10x vocabulary and demand equality.
    import graft.queries.TokenizerQueries.{UniMaxGram, UniMaxLen, UniProbes, UniTokCost}
    spark.read.parquet(s"$dir/documents.parquet")
      .createOrReplaceTempView("docs_uni_stress")
    val words = spark.sql(
      s"""SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
         |FROM (SELECT explode(split(text, ' ')) AS w FROM docs_uni_stress)
         |WHERE w rlike '^[a-z]{2,$UniMaxLen}$$'
         |GROUP BY w""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cnt = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, f) =>
      for (i <- 0 until w.length; n <- 1 to UniMaxGram if i + n <= w.length)
        cnt.updateWith(w.substring(i, i + n))(p => Some(p.getOrElse(0L) + f))
    }
    def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    val blTot = bitlen(cnt.values.sum)
    def viterbi(w: String): (Long, Long) = {
      val d = Array.fill(w.length + 1)(Long.MaxValue)
      d(0) = 0L
      for (j <- 1 to w.length; n <- 1 to math.min(UniMaxGram, j)) {
        val i = j - n
        if (d(i) != Long.MaxValue) {
          val c = blTot - bitlen(cnt(w.substring(i, j))) + UniTokCost
          val v = d(i) + c * 64 + 1
          if (v < d(j)) d(j) = v
        }
      }
      (d(w.length) / 64, d(w.length) % 64)
    }
    val got = timed("text_unigram_segment @ sf~1") {
      SparkEntry.queries("text_unigram_segment")(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    }
    assert(got.size === math.min(UniProbes, words.size))
    got.foreach { case (w, res) => assert(res === viterbi(w), s"word '$w'") }
  }

  test("ann_nsw_diverse at sf≈1: diversity-selected search converges to exact copies") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Same invariant as ann_nsw_topk over the diversity-selected graph:
    // the duplicate collapse plus the select-neighbors heuristic must
    // keep every probe's copy clique reachable — all 9 results at a
    // perfect 1,000,000 micro-similarity.
    val rows = timed("ann_nsw_diverse @ sf~1") {
      SparkEntry.queries("ann_nsw_diverse")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    }
    assert(rows.length == 9, s"expected 3 probes x top-3, got ${rows.length}")
    val below = rows.filter(_._3 < 1000000L)
    assert(below.isEmpty,
      s"${below.size} diversity-graph results below perfect similarity: " +
        below.take(5).mkString(", "))
  }

  test("ann_hnsw_topk at sf≈1: hierarchical search converges to exact copies") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // The ann_nsw_topk invariant on the hierarchical path: every probe
    // has 9 exact copies sharing its coarse lists, so any beam reaching
    // one chains into the clique — all 9 results must score a perfect
    // 1,000,000 micro-similarity.
    val rows = timed("ann_hnsw_topk @ sf~1") {
      SparkEntry.queries("ann_hnsw_topk")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    }
    assert(rows.length == 9, s"expected 3 probes x top-3, got ${rows.length}")
    val below = rows.filter(_._3 < 1000000L)
    assert(below.isEmpty,
      s"${below.size} hierarchical results below perfect similarity: " +
        below.take(5).mkString(", "))
  }

  test("ann_nsw_bidir at sf≈1: reverse-edge re-selection keeps copy cliques reachable") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // The diversity invariant survives the reverse pass: re-selecting
    // each node's M edges from forward ∪ reverse candidates can only ADD
    // reachability relative to the forward graph's duplicate-collapsed
    // cliques — all 9 results at perfect 1,000,000 micro-similarity.
    val rows = timed("ann_nsw_bidir @ sf~1") {
      SparkEntry.queries("ann_nsw_bidir")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    }
    assert(rows.length == 9, s"expected 3 probes x top-3, got ${rows.length}")
    val below = rows.filter(_._3 < 1000000L)
    assert(below.isEmpty,
      s"${below.size} bidir results below perfect similarity: " +
        below.take(5).mkString(", "))
  }

  test("graph_link_predict_cut: every cascade stage count EXACTLY invariant under order-replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // The distinct co-purchase edge set is replication-invariant, so
    // degrees, the degree-ranked lists, both prefix lengths, every
    // collision pair, the generation floor, the bounds, and the
    // qualifying set are all bit-identical — only the pair build pays
    // the 10x lineitem volume. The audit row IS the invariant: seven
    // stage counts, each of which would move if any cascade relation
    // leaked replication volume.
    def row(d: String) = SparkEntry.queries("graph_link_predict_cut")(spark, d)
      .collect().head.toSeq
    val base = row("/root/testdata/sf0.1")
    val scaled = timed("graph_link_predict_cut @ sf~1")(row(dir))
    assert(scaled === base, "cascade stage counts diverged under replication")
    // And the pruned serving output (empty at this fixture's score
    // floor — the threshold's honest answer) stays identical too.
    val prunedBase = SparkEntry.queries("graph_link_predict_pruned")(
      spark, "/root/testdata/sf0.1").collect().toSeq
    val prunedScaled = timed("graph_link_predict_pruned @ sf~1")(
      SparkEntry.queries("graph_link_predict_pruned")(spark, dir)
        .collect().toSeq)
    assert(prunedScaled === prunedBase)
  }

  test("ts_fastdtw at sf~1: band identical, distance EXACTLY 100x under user-replication") {
    assume(stressEnabled, "set GRAFT_STRESS=1 to run")
    // Events replicate with identical temporal behavior, so every hourly
    // count — and every coarse block sum — is exactly 10x the base
    // series. Squared-difference costs therefore scale by exactly 100,
    // which preserves EVERY argmin in both DP levels: the coarse optimal
    // path, the projected band, and cells_refined are bit-identical,
    // and dtw_fast is exactly 100x the base distance.
    def row(d: String) = SparkEntry.queries("ts_fastdtw")(spark, d)
      .collect().head
    val base = row("/root/testdata/sf0.1")
    val scaled = timed("ts_fastdtw @ sf~1")(row(dir))
    assert(scaled.getLong(4) === base.getLong(4),
      "projected band diverged — the coarse path must be scale-free")
    assert(scaled.getLong(5) === base.getLong(5) * 100L,
      s"dtw must scale exactly 100x: base=${base.getLong(5)} " +
        s"scaled=${scaled.getLong(5)}")
  }
}

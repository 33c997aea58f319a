package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Pin.PinSyntax

/** Incremental passage dedup against a PERSISTED claim store — the
  * 100 TB reality "dedup today's shard against yesterday's corpus WITHOUT
  * re-anchoring yesterday's text". The store holds each document's
  * content-defined anchor claims ((h, doc_id), the `dd_substring`
  * fingerprints) plus a per-anchor count table; an increment:
  *
  *   1. anchors ONLY the new shard (the narrow hashing pass — the cost
  *      incremental processing saves is re-hashing the full corpus),
  *   2. joins new anchors against the store's claims/counts on the anchor
  *      hash (equi-join; the store never re-derives from text),
  *   3. applies the SAME global boilerplate cap as the batch operator —
  *      store count + new count ≤ 64 — so results match the batch run on
  *      the combined corpus exactly,
  *   4. emits pairs touching the new shard (new↔old and new↔new) with
  *      ≥2 shared rare anchors,
  *   5. appends the new claims, so the next increment sees them as "old".
  *
  * `IncrementalDedupSpec` proves increment results equal the full-batch
  * `dd_substring` restricted to new-doc pairs, through TWO increments
  * (the second pairing against the first through the store). The
  * `dd_incremental` catalog query is the oracle-checked form.
  *
  * Scale shape: claims are (long, long) rows partitioned by a 64-way
  * bucket of the anchor hash — the `AnnIndex` posting layout; an
  * increment shuffles only the NEW shard's anchors plus the store-side
  * equi-join. Per-anchor fan-out is bounded by the 64-doc cap BY
  * CONSTRUCTION (capped anchors drop out of `rare`), so the pair join
  * cannot exceed 64 partners per anchor no matter how boilerplate-ridden
  * the corpus. Streaming form: `streaming/StreamingPassageDedup` (state
  * instead of parquet; same kernel, same cap).
  */
object IncrementalDedup {

  /** Boilerplate cap — must stay equal to `dd_substring`'s (anchors in
    * more docs than this are dropped as boilerplate; simultaneously the
    * pair join's per-key fan-out bound). */
  val BoilerplateCap = 64

  /** Store bucket count: file-level layout parallelism for the claims. */
  val Buckets = 64

  /** Bump on ANY change to the anchor kernel or the store layout: the
    * catalog query's fingerprint embeds it, so persisted stores built
    * under an older hash/layout can never be silently reused. */
  val StoreFormatVersion = 1

  /** Distinct (doc_id, h) anchor claims of `docs` (doc_id, text) — the
    * same fused rolling-hash kernel as `dd_substring`. */
  def anchors(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.expr.GraftFunctions.register(spark)
    docs.selectExpr("doc_id", "explode(substring_anchors(text)) AS h").distinct()
  }

  /** Build (overwrite) the store from the base corpus. The old claims
    * tree is deleted EXPLICITLY first: the streaming sinks pass
    * `partitionOverwriteMode=dynamic` per write, but a user may still set
    * it on the session, under which a partitioned Overwrite only
    * replaces the bucket partitions present in the new data — a shrunken
    * base corpus would leave stale buckets behind and produce phantom
    * pairs. */
  def buildStore(spark: SparkSession, baseDocs: DataFrame, storeDir: String): Unit = {
    val a = anchors(spark, baseDocs)
      .withColumn("bucket", pmod(col("h"), lit(Buckets.toLong)))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/claims"), true)
    a.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(s"$storeDir/claims")
    a.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .write.mode(SaveMode.Overwrite).parquet(s"$storeDir/counts")
  }

  /** The store's doc-id space and an incoming shard must be DISJOINT:
    * a doc re-ingested under an id the store already claims would pair
    * with itself and double-count shared anchors against the batch
    * contract. Re-crawls must arrive COMPACTED (the CdcToCorpus story:
    * last-wins state first, dedup second) or under fresh ids. The guard
    * is an id-only semi join — bounded metadata next to the anchor
    * work it protects. */
  private def requireDisjoint(newA: DataFrame, storeClaims: DataFrame): Unit = {
    val clash = newA.select("doc_id").distinct()
      .join(storeClaims.select("doc_id").distinct(), "doc_id")
      .limit(5).collect().map(_.getLong(0))
    require(clash.isEmpty,
      s"shard re-uses doc ids already in the claim store (e.g. ${clash.mkString(", ")}); " +
        "compact re-crawls to current state before incremental dedup, or assign fresh ids")
  }

  /** Pairs (doc_a < doc_b, shared_anchors ≥ 2) touching the new shard,
    * computed against the persisted store — never against base text. */
  def pairsForIncrement(spark: SparkSession, newDocs: DataFrame,
                        storeDir: String): DataFrame = {
    // New-shard anchors are consumed three times (counts, new-new join,
    // new-old join) — pin once, the dd_substring discipline.
    val newA = anchors(spark, newDocs).pinned()
    val storeClaims = spark.read.parquet(s"$storeDir/claims").select("doc_id", "h")
    val storeCounts = spark.read.parquet(s"$storeDir/counts")
    requireDisjoint(newA, storeClaims)
    val newCounts = newA.groupBy(col("h")).agg(count(lit(1)).as("new_cnt"))
    // Global cap: store + new docs per anchor. Anchors absent from the
    // new shard can never pair with it — inner join from the new side.
    val rare = newCounts
      .join(storeCounts.withColumnRenamed("cnt", "old_cnt"), Seq("h"), "left")
      .filter(coalesce(col("old_cnt"), lit(0L)) + col("new_cnt") <= BoilerplateCap)
      .select("h")
    val rareNewA = newA.join(rare, "h")
    val newNew = rareNewA.as("a").join(rareNewA.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val newOld = rareNewA.as("n").join(storeClaims.as("o"), col("n.h") === col("o.h"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
    newNew.unionAll(newOld)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("long").as("shared_anchors"))
      .filter(col("shared_anchors") >= 2)
  }

  // ── MinHash/LSH band-claim store ─────────────────────────────────────
  //
  // The NEAR-dup sibling of the anchor store: persist each base doc's 16
  // minhashes and its 4 LSH band claims; an increment computes signatures
  // for the NEW shard only, finds candidates from band-claim equi-joins
  // (new↔new and new↔store), and verifies est. Jaccard ≥ 0.5 against the
  // persisted signatures — base TEXT is never re-shingled. Semantics
  // equal the batch `dd_minhash_lsh` restricted to pairs touching the
  // shard (no cap in the batch operator, so none here; a hot band bucket
  // is the salted-join/AQE-skew territory of `dd_minhash_lsh_salted`).

  /** (doc_id, mh) signatures via the fused minhash_signature kernel. */
  def signaturesOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.expr.GraftFunctions.register(spark)
    docs.selectExpr("doc_id", "minhash_signature(text) AS mh")
  }

  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("mh"),
        explode(expr("sequence(0, 3)")).as("band_idx"))
      .select(col("doc_id"), col("band_idx"),
        expr("array_join(transform(slice(mh, band_idx*4 + 1, 4), " +
          "x -> cast(x as string)), '-')").as("band_key"))

  private val EstJaccard =
    "CAST(size(filter(sequence(1, 16), " +
      "i -> element_at(ma, i) = element_at(mb, i))) AS DOUBLE) / 16.0"

  /** The ONE spelling of the band-store layout (sigs + bucketed bands):
    * build and append must not fork the format. */
  private def writeBandTables(sigs: DataFrame, storeDir: String,
      mode: SaveMode): Unit = {
    sigs.write.mode(mode).parquet(s"$storeDir/sigs")
    bandsOf(sigs).withColumn("bucket",
        pmod(expr(s"${graft.queries.DedupQueries.hSpark("band_key")}"), lit(Buckets.toLong)))
      .write.mode(mode).partitionBy("bucket").parquet(s"$storeDir/bands")
  }

  /** Build (overwrite) the band store: signatures + band claims. */
  def buildBandStore(spark: SparkSession, baseDocs: DataFrame, storeDir: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq("sigs", "bands").foreach(t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/$t"), true))
    writeBandTables(signaturesOf(spark, baseDocs).pinned(), storeDir,
      SaveMode.Overwrite)
  }

  /** Near-dup pairs (doc_a < doc_b, est_jaccard ≥ 0.5) touching the new
    * shard, against the persisted band store. */
  def bandPairsForIncrement(spark: SparkSession, newDocs: DataFrame,
                            storeDir: String): DataFrame = {
    val newSigs = signaturesOf(spark, newDocs).pinned()
    val newBands = bandsOf(newSigs).pinned()
    val storeBands = spark.read.parquet(s"$storeDir/bands")
      .select("doc_id", "band_idx", "band_key")
    val storeSigs = spark.read.parquet(s"$storeDir/sigs")
    requireDisjoint(newSigs, storeSigs)
    val newNew = newBands.as("a").join(newBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val newOld = newBands.as("n").join(storeBands.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
          col("n.band_key") === col("o.band_key"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("doc_b"))
    val pairs = newNew.unionAll(newOld).distinct()
    // Verify against signatures: each side resolves from the shard's
    // signatures or the store's — never from text.
    val allSigs = newSigs.unionAll(
      storeSigs.select("doc_id", "mh")).pinned()
    pairs
      .join(allSigs.select(col("doc_id").as("doc_a"), col("mh").as("ma")), "doc_a")
      .join(allSigs.select(col("doc_id").as("doc_b"), col("mh").as("mb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), expr(EstJaccard).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** Fold the served shard into the band store. */
  def appendBandIncrement(spark: SparkSession, newDocs: DataFrame,
                          storeDir: String): Unit = {
    val sigs = signaturesOf(spark, newDocs).pinned()
    requireDisjoint(sigs, spark.read.parquet(s"$storeDir/sigs"))
    writeBandTables(sigs, storeDir, SaveMode.Append)
  }

  /** Fold the served increment into the store: append claims, merge
    * counts (a full-outer sum keyed on the anchor hash — id-only work,
    * never text). */
  def appendIncrement(spark: SparkSession, newDocs: DataFrame, storeDir: String): Unit = {
    val newA = anchors(spark, newDocs)
      .withColumn("bucket", pmod(col("h"), lit(Buckets.toLong)))
    requireDisjoint(newA,
      spark.read.parquet(s"$storeDir/claims").select("doc_id", "h"))
    newA.write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"$storeDir/claims")
    val merged = spark.read.parquet(s"$storeDir/counts")
      .withColumnRenamed("cnt", "old_cnt")
      .join(newA.groupBy(col("h")).agg(count(lit(1)).as("new_cnt")), Seq("h"), "full_outer")
      .select(col("h"),
        (coalesce(col("old_cnt"), lit(0L)) + coalesce(col("new_cnt"), lit(0L))).as("cnt"))
    // Counts rewrite: stage to a tmp dir then swap — the read above lazily
    // streams from the same files an in-place overwrite would delete.
    stageAndSwap(spark, merged, s"$storeDir/counts")
  }

  // ── Store lifecycle: compaction + capped-anchor aging (r11) ──────────
  //
  // Every append leaves one parquet file-set per increment inside each
  // bucket partition (bands/sigs likewise), so after many increments a
  // serve pays per-file open cost proportional to store AGE, not store
  // SIZE. Compaction rewrites each table into one healthy file-set while
  // a concurrent reader never sees a half-compacted store: write to a
  // sibling `_next` dir, then delete-and-rename swap (the counts-rewrite
  // discipline; single-writer assumed, like the appends themselves).

  /** Stage `df` beside `dst` then atomically swap it in. */
  private def stageAndSwap(spark: SparkSession, df: DataFrame, dst: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val tmp = s"${dst}_next"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    fs.delete(dstPath, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dstPath)
  }

  /** Compact the anchor store after many appends: claims rewrite into one
    * file-set per bucket, and claims of CAPPED anchors age out — counts
    * only ever grow, so an anchor past the boilerplate cap can never pair
    * again and its claims are dead weight. The counts row SURVIVES the
    * expiry (dropping it would resurrect the anchor as "unseen" and let
    * `old_cnt + new_cnt <= cap` pass again), so serve results are exactly
    * unchanged: the `rare` filter already excluded those anchors before
    * their claims were dropped. `IncrementalDedupSpec` proves
    * serve-after-compact == serve-before across three increments.
    *
    * One documented softening: `requireDisjoint` checks incoming doc ids
    * against the CLAIMS table, so a store doc whose every anchor was
    * boilerplate no longer trips the guard after compaction — the dedup
    * RESULTS for such a doc are identical (capped anchors never pair). */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val counts = spark.read.parquet(s"$storeDir/counts")
    val live = spark.read.parquet(s"$storeDir/claims").select("doc_id", "h")
      .join(counts.filter(col("cnt") <= BoilerplateCap).select("h"), "h")
      .withColumn("bucket", pmod(col("h"), lit(Buckets.toLong)))
      .repartition(Buckets, col("bucket"))
      // The claims_next write must not stream lazily from the files the
      // swap is about to delete — materialize before swapping. (The write
      // itself completes before the swap, so this pin is belt-and-braces
      // against output-committer retries reading a vanished source.)
      .pinned()
    stageAndSwap(spark, live, s"$storeDir/claims", Seq("bucket"))
    stageAndSwap(spark, counts.repartition(Buckets).pinned(),
      s"$storeDir/counts")
  }

  /** Compact the band store: same file-health rewrite for sigs + bands.
    * No cap exists in the near-dup semantics, so nothing ages out —
    * this is purely the per-increment-file-set cleanup. */
  def compactBandStore(spark: SparkSession, storeDir: String): Unit = {
    val sigs = spark.read.parquet(s"$storeDir/sigs")
      .repartition(Buckets).pinned()
    stageAndSwap(spark, sigs, s"$storeDir/sigs")
    val bands = spark.read.parquet(s"$storeDir/bands")
      .repartition(Buckets, col("bucket")).pinned()
    stageAndSwap(spark, bands, s"$storeDir/bands", Seq("bucket"))
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.queries.DedupQueries.hSpark
import graft.queries.SketchQueries.{Alpha, Registers}

/** Persisted MERGEABLE sketch store — the incremental trio's third member
  * (dedup claims: `IncrementalDedup`; ANN postings: `AnnIndex.append`;
  * distinct-count registers: here). Each day's shard folds its documents
  * into per-(lang, register) HLL maxima and APPENDS them; serving reads
  * the store and register-wise-maxes across shards. Because register max
  * is a semilattice (associative, commutative, idempotent), the served
  * estimate is EXACTLY the estimate a from-scratch pass over the union
  * corpus computes — not approximately: sketch mergeability is an
  * algebraic identity, and `SketchStoreSpec` pins it bit-for-bit against
  * the batch `sk_hll_distinct` query.
  *
  * Scale shape: an append scans ONLY its shard (one narrow hash pass +
  * a (lang, register)-keyed map-side-combined MAX — ≤ langs·64 rows
  * written); serving never touches any corpus, just the ~shards·langs·64
  * register rows. Re-appending the same shard is harmless (idempotent
  * max), which is what makes at-least-once ingestion safe with no
  * dedup bookkeeping.
  */
object SketchStore {

  /** Fold `docs` (columns: lang, text) into HLL register maxima and
    * append them to the store under `shardId`. Pure DataFrame ops on the
    * input — no temp view, so it registers nothing in the session it runs
    * on and works identically on a batch relation and on a streaming
    * micro-batch. */
  def appendHll(spark: SparkSession, docs: DataFrame, storeDir: String,
      shardId: String): Unit = {
    import org.apache.spark.sql.functions._
    docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .selectExpr("lang", s"${hSpark("w")} AS h")
      .selectExpr(s"'$shardId' AS shard", "lang",
        s"CAST(h % $Registers AS INT) AS j",
        s"CAST(55 - length(bin(h div $Registers)) AS INT) AS rho")
      .groupBy(col("shard"), col("lang"), col("j"))
      .agg(max(col("rho")).cast("int").as("m"))
      .write.mode(SaveMode.Append).parquet(s"$storeDir/hll")
  }

  /** Serve the per-language distinct estimate from the store alone:
    * register-wise max across shards, then the identical integer-fold
    * estimate spelling as `sk_hll_distinct` (minus its fixture-scale
    * exact witness, which serving by design cannot and need not
    * compute). */
  def serveDistinct(spark: SparkSession, storeDir: String): DataFrame = {
    spark.read.parquet(s"$storeDir/hll")
      .createOrReplaceTempView("sketch_store_hll")
    spark.sql(
      s"""WITH maxes AS (
         |  SELECT lang, j, max(m) AS m FROM sketch_store_hll GROUP BY lang, j),
         |grid AS (
         |  SELECT lang, j FROM (SELECT DISTINCT lang FROM sketch_store_hll)
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
         |  GROUP BY f.lang, fo.mmax, fo.zero_registers)
         |SELECT lang, zero_registers, CAST(mmax AS INT) AS max_register,
         |       CAST($Alpha AS DOUBLE) * ${Registers * Registers}.0
         |         * pow(2.0, CAST(mmax AS DOUBLE)) / num AS hll_estimate
         |FROM nums""".stripMargin)
  }

  /** Fold `docs` (columns: lang, n_chars) into a per-(lang, value) LEAF
    * histogram shard for the q-digest quantile sketch and write it under
    * the shard's OWN path with overwrite — a replayed micro-batch
    * rewrites identical rows, so at-least-once delivery is idempotent
    * (counts are NOT a semilattice like HLL maxima; path-per-shard
    * overwrite is what makes the count monoid replay-safe). */
  def appendQdigest(spark: SparkSession, docs: DataFrame, storeDir: String,
      shardId: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.queries.SketchQueries.QdMax
    docs
      .select(col("lang"),
        least(col("n_chars"), lit(QdMax.toLong)).cast("long").as("id"))
      .groupBy("lang", "id")
      .agg(count(lit(1)).cast("long").as("c"))
      .write.mode(SaveMode.Overwrite).parquet(s"$storeDir/qdigest/$shardId")
  }

  /** Serve per-language quantile ESTIMATES from the store alone: shard
    * leaf histograms SUM into the global histogram (a commutative
    * monoid — bit-identical to a from-scratch pass), then the identical
    * compression + rank walk as the batch `sk_qdigest`. Serving reads
    * only sketch rows, never documents, so the exact/err witness columns
    * of the batch query are by design absent here. */
  def serveQuantiles(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.Pin.PinSyntax
    import graft.queries.SketchQueries
    import graft.queries.SketchQueries.QdK
    val leaves = spark.read.parquet(s"$storeDir/qdigest/*")
      .groupBy("lang", "id").agg(sum(col("c")).as("c")).pinned()
    val nd = leaves.groupBy("lang").agg(sum(col("c")).as("n_docs"))
      .select(col("lang"), col("n_docs"),
        greatest(expr(s"n_docs div $QdK"), lit(1L)).as("theta"))
      .pinned()
    // compressLeaves returns unpinned since r15 (one fold job) — pin
    // here: the serve SQL references the kept view more than once.
    val kept = SketchQueries.compressLeaves(leaves, nd).pinned()
    kept.createOrReplaceTempView("qd_store_kept_t")
    nd.createOrReplaceTempView("qd_store_nd_t")
    spark.sql(
      s"""WITH cum AS (
         |  SELECT lang, hi, lvl, c,
         |         sum(c) OVER (PARTITION BY lang ORDER BY hi, lvl
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM qd_store_kept_t),
         |targets AS (
         |  SELECT n.lang, g.q_pct, n.n_docs, n.theta,
         |         CAST((g.q_pct * n.n_docs + 99) div 100 AS BIGINT) AS target
         |  FROM qd_store_nd_t n
         |  CROSS JOIN (SELECT q_pct
         |              FROM VALUES (25), (50), (75), (90) AS g(q_pct)) g),
         |est AS (
         |  SELECT t.lang, t.q_pct, t.n_docs, t.theta, min(c.hi) AS est_value
         |  FROM targets t JOIN cum c ON c.lang = t.lang AND c.cum >= t.target
         |  GROUP BY t.lang, t.q_pct, t.n_docs, t.theta),
         |sketch_size AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS kept_nodes
         |  FROM qd_store_kept_t GROUP BY lang)
         |SELECT e.lang, CAST(e.q_pct AS INT) AS q_pct, e.n_docs, e.theta,
         |       e.est_value, ss.kept_nodes
         |FROM est e JOIN sketch_size ss ON ss.lang = e.lang""".stripMargin)
  }
}

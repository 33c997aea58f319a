package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Pin.PinSyntax

/** PCA top-component projection over the embedding corpus — the
  * decorrelation/compaction step (whitening, plot axes, pre-clustering
  * dimensionality cut) that sits beside `emb_rp_project`'s data-oblivious
  * JL cut: PCA is the data-AWARE version, and its trained artifact (the
  * leading eigenvector) is learned here with the same engine-exactness
  * discipline as the PQ codebooks and the BPE merges — every training
  * step is integer arithmetic, so the DuckDB oracle retrains the
  * identical component and the per-vector projections match bit-for-bit.
  *
  * The exactness recipe:
  *  - components quantize to 1e4 micro-units (`round` half-away-from-zero
  *    in both engines — the emb_pq_encode precedent);
  *  - the covariance is the integer matrix n·S2[i][j] − S1[i]·S1[j]
  *    (uncentered sums only, so every entry is an exact BIGINT — no mean
  *    subtraction in floats);
  *  - power iteration runs in integers with explicit rescaling, and every
  *    division TRUNCATES toward zero on both sides: DuckDB's integer `//`
  *    truncates (verified: -7 // 2 = -3, unlike its float `//` which
  *    floors), matching Scala's `/` — a floor-division spelling here
  *    diverges by one ulp on negative covariance entries and cascades;
  *  - the eigenvector's sign is fixed by the first nonzero component
  *    (power iteration converges up to sign);
  *  - the per-vector projection is an exact integer dot product; the
  *    single IEEE division at the end only rescales for readability.
  *
  * Scale shape (100 TB): the corpus contributes ONE map-side-combined
  * aggregation keyed by (i, j) — Dim² = 4096 keys, the k-means-style
  * constant-bounded reduction — and the iteration itself runs on the
  * driver over that Dim×Dim matrix (bounded metadata, the KMeansTrainer /
  * AnnIndex-codebook discipline: k·d longs, NOT data). Projection is one
  * narrow map with the eigenvector embedded as a literal (the
  * StreamingVectorIngest centroid trick — no join, no shuffle).
  *
  * Overflow budget: |q| ≤ 1e4, so S2 ≤ n·1e8 and |cov| ≤ n²·1e8 — safe in
  * BIGINT to n ≈ 3e5 vectors per training sample; beyond that, train on a
  * deterministic sample or drop QScale a decade (knobs, not redesigns).
  */
object PcaQueries {

  val Dim = 64
  val QScale = 10000L           // component micro-units
  val VScale = 1000000L         // eigenvector magnitude target
  val CScaleCap = 1000000000L   // pre-scale covariance to |c| ≲ 1e9
  val Iters = 12

  private def viewEmb(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
      .createOrReplaceTempView("embeddings")

  // The three catalog queries (project / top2 / topk) share ONE
  // covariance pass and one component chain per session and dir.
  // Deflation is a prefix property (component i depends only on
  // components 0..i-1, not on how many more will be trained), so serving
  // top2 from the topk chain is bit-identical to training it alone.
  private def cov(spark: SparkSession, dir: String): Array[Array[Long]] =
    graft.operators.SessionMemo.cached(spark, s"pca/cov/$dir") {
      viewEmb(spark, dir); covScaled(spark)
    }

  private def component(spark: SparkSession, dir: String, i: Int): Array[Long] =
    graft.operators.SessionMemo.cached(spark, s"pca/component/$i/$dir") {
      iterate(cov(spark, dir), (0 until i).map(component(spark, dir, _)))
    }

  /** Forwards to [[graft.operators.SessionMemo.clear]]; kept because the
    * perfbench catalog workload clears by family name. */
  private[graft] def clearSessionMemos(): Unit = graft.operators.SessionMemo.clear()

  /** First `k` components for the catalog dir. */
  private def trainedComponents(spark: SparkSession, dir: String,
      k: Int): Seq[Array[Long]] = (0 until k).map(component(spark, dir, _))

  /** Power iteration, orthogonalized after each normalization against
    * every PRIOR component in order (the sequential deflation that
    * isolates component k from components 1..k-1; empty `orths` = the
    * dominant component) over a pre-scaled covariance. Each
    * orthogonalization coefficient applies through an exact 128-bit
    * product-then-divide ((cn · v_j) / cd_j in BigInt ↔ DuckDB HUGEINT,
    * both truncating toward zero), so no staging divisions are needed
    * and both engines land identical integers. */
  private def iterate(c: Array[Array[Long]], orths: Seq[Array[Long]]): Array[Long] = {
    val cds = orths.map(vj => vj.map(x => x * x).sum)
    var v = Array.fill(Dim)(VScale)
    for (_ <- 0 until Iters) {
      val w = Array.tabulate(Dim) { i =>
        var acc = 0L; var j = 0
        while (j < Dim) { acc += c(i)(j) * v(j); j += 1 }
        acc
      }
      val nrm = math.max(1L, w.iterator.map(math.abs).max / VScale)
      v = w.map(_ / nrm)
      orths.zip(cds).foreach { case (vj, cd) =>
        val cn = (0 until Dim).map(d => v(d) * vj(d)).sum
        v = Array.tabulate(Dim)(d => v(d) - (BigInt(cn) * vj(d) / cd).toLong)
      }
    }
    if (v.find(_ != 0L).exists(_ < 0L)) v.map(x => -x) else v
  }

  /** Collect + pre-scale the exact integer covariance (see class doc). */
  private def covScaled(spark: SparkSession): Array[Array[Long]] = {
    // The outer product is generated PER ROW by a double posexplode of
    // the same quantized array — no self-join, so the corpus never
    // shuffles; only the 4096-key map-side-combined partials do. (The
    // oracle spells the same sums as a vec_id self-join; the values are
    // identical — exact integer sums are association-free.)
    val cov = spark.sql(
      s"""WITH qv AS (
         |  SELECT vec_id,
         |         transform(embedding,
         |           x -> CAST(round(CAST(x AS DOUBLE) * $QScale) AS BIGINT)) AS q
         |  FROM embeddings),
         |s2 AS (SELECT i, j, CAST(sum(qi * qj) AS BIGINT) AS s
         |       FROM qv
         |       LATERAL VIEW posexplode(q) AS i, qi
         |       LATERAL VIEW posexplode(q) AS j, qj
         |       GROUP BY i, j),
         |s1 AS (SELECT i, CAST(sum(qi) AS BIGINT) AS s
         |       FROM qv LATERAL VIEW posexplode(q) AS i, qi GROUP BY i),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
         |SELECT s2.i, s2.j, n.n * s2.s - sa.s * sb.s AS c, n.n AS n
         |FROM s2 JOIN s1 sa ON s2.i = sa.i JOIN s1 sb ON s2.j = sb.i
         |CROSS JOIN n""".stripMargin).collect()
    // Enforce the documented overflow budget (class doc): |cov| ≤ 2·n²·QScale²,
    // so n must stay below sqrt(Long.Max / (2·QScale²)) ≈ 2.1e5 at QScale=1e4.
    // Spark wraps BIGINT overflow silently under the default non-ANSI mode —
    // past the bound it would train a wrong component with no error (the
    // DuckDB oracle raises instead); fail loudly here so the budget is a
    // hard contract, not a comment.
    val nBound = math.sqrt(Long.MaxValue.toDouble / (2.0 * QScale * QScale)).toLong
    cov.headOption.foreach { r =>
      val n = r.getLong(3)
      require(n <= nBound,
        s"PCA training sample of $n vectors exceeds the exact-BIGINT covariance " +
          s"budget ($nBound at QScale=$QScale); train on a deterministic sample " +
          "or drop QScale a decade")
    }
    val c = Array.ofDim[Long](Dim, Dim)
    cov.foreach(r => c(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    val cmax = c.iterator.flatten.map(math.abs).max
    val cs = 1L + cmax / CScaleCap
    for (i <- 0 until Dim; j <- 0 until Dim) c(i)(j) = c(i)(j) / cs
    c
  }

  /** Integer power iteration over the exact covariance of the registered
    * `embeddings` view; returns the sign-fixed eigenvector (Dim longs,
    * ~VScale magnitude). All divisions truncate (see class doc). */
  private[graft] def trainTopComponentOnView(spark: SparkSession): Array[Long] =
    iterate(covScaled(spark), Nil)

  /** Top TWO components: the second runs the same iteration deflated
    * against the first (per-step orthogonalization — orthogonal
    * iteration restricted to the v1-complement). */
  private[graft] def trainTop2OnView(spark: SparkSession): (Array[Long], Array[Long]) = {
    val c = covScaled(spark)
    val v1 = iterate(c, Nil)
    (v1, iterate(c, Seq(v1)))
  }

  /** Top K components by sequential deflation: component k iterates
    * orthogonalized against components 1..k-1 (r11 — the generalization
    * of [[trainTop2OnView]] that makes `emb_pca_project` a real
    * dimensionality cut: 8 whitening axes, not a plot pair). */
  private[graft] def trainTopKOnView(spark: SparkSession, k: Int): Seq[Array[Long]] = {
    val c = covScaled(spark)
    val out = scala.collection.mutable.Buffer[Array[Long]]()
    for (_ <- 0 until k) out += iterate(c, out.toSeq)
    out.toSeq
  }

  // ── emb_pca_project ★ — per-vector projection on the trained component
  def embPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val v = trainedComponents(spark, dir, 1).head
    viewEmb(spark, dir)
    val varr = v.mkString("array(", "L, ", "L)")
    spark.sql(
      s"""SELECT vec_id, label, proj_raw,
         |       CAST(proj_raw AS DOUBLE) / ${QScale * VScale}.0 AS proj
         |FROM (
         |  SELECT vec_id, label,
         |         aggregate(transform(embedding, (x, i) ->
         |             CAST(round(CAST(x AS DOUBLE) * $QScale) AS BIGINT)
         |               * element_at($varr, i + 1)),
         |           CAST(0 AS BIGINT), (acc, e) -> acc + e) AS proj_raw
         |  FROM embeddings)""".stripMargin)
  }

  // ── emb_pca_top2 ★ — the top TWO components: v2 runs the identical
  // iteration DEFLATED against v1 (after each normalization, subtract
  // the v1 projection — exact via a 128-bit product-then-divide, DuckDB
  // HUGEINT ↔ driver BigInt, both truncating toward zero). Output: both
  // projections per vector — the 2-D map/whitening axes.
  def embPcaTop2(spark: SparkSession, dir: String): DataFrame = {
    val Seq(v1, v2) = trainedComponents(spark, dir, 2)
    viewEmb(spark, dir)
    val a1 = v1.mkString("array(", "L, ", "L)")
    val a2 = v2.mkString("array(", "L, ", "L)")
    def proj(varr: String) =
      s"""aggregate(transform(embedding, (x, i) ->
         |      CAST(round(CAST(x AS DOUBLE) * $QScale) AS BIGINT)
         |        * element_at($varr, i + 1)),
         |    CAST(0 AS BIGINT), (acc, e) -> acc + e)""".stripMargin
    spark.sql(
      s"""SELECT vec_id, label, proj1_raw, proj2_raw,
         |       CAST(proj1_raw AS DOUBLE) / ${QScale * VScale}.0 AS proj1,
         |       CAST(proj2_raw AS DOUBLE) / ${QScale * VScale}.0 AS proj2
         |FROM (
         |  SELECT vec_id, label,
         |         ${proj(a1)} AS proj1_raw,
         |         ${proj(a2)} AS proj2_raw
         |  FROM embeddings)""".stripMargin)
  }

  /** Components for `emb_pca_topk` — a real dimensionality cut (64 → 8).
    * The oracle CTE chain grows as K·Iters·K, so 8 keeps it generatable
    * and fast while being the working whitening width. */
  val TopK = 8

  // ── emb_pca_topk ★ (r11) — the top K=8 principal components, long
  // format (one row per vector × component): component k trains by the
  // identical integer iteration deflated sequentially against components
  // 1..k-1 (each orthogonalization an exact 128-bit product-then-divide,
  // both engines truncating — the emb_pca_top2 discipline, generalized).
  // The oracle retrains ALL EIGHT eigenvectors through a generated chain
  // of CTE levels. Scale shape unchanged: ONE 4096-key map-side-combined
  // covariance agg for the corpus; all k iterations run driver-side on
  // the 64×64 matrix (bounded metadata); projection is one narrow map
  // with the k eigenvectors as plan literals + a bounded posexplode
  // (k rows/vector) — no join, no shuffle.
  def embPcaTopk(spark: SparkSession, dir: String): DataFrame = {
    val vs = trainedComponents(spark, dir, TopK)
    viewEmb(spark, dir)
    def proj(varr: String) =
      s"""aggregate(transform(embedding, (x, i) ->
         |      CAST(round(CAST(x AS DOUBLE) * $QScale) AS BIGINT)
         |        * element_at($varr, i + 1)),
         |    CAST(0 AS BIGINT), (acc, e) -> acc + e)""".stripMargin
    val projArr = vs.map(v => proj(v.mkString("array(", "L, ", "L)")))
      .mkString("array(\n", ",\n", ")")
    spark.sql(
      s"""SELECT vec_id, label, CAST(comp + 1 AS INT) AS component, proj_raw,
         |       CAST(proj_raw AS DOUBLE) / ${QScale * VScale}.0 AS proj
         |FROM (SELECT vec_id, label, $projArr AS projs FROM embeddings)
         |LATERAL VIEW posexplode(projs) AS comp, proj_raw""".stripMargin)
  }

  /** Shared oracle body: covariance prologue + the v1 iteration chain,
    * through the sign-fixed `vf`. Both catalog oracles extend this. */
  private def pcaCommonSql: String = {
    val sb = new StringBuilder
    sb ++=
      s"""q AS MATERIALIZED (
         |  SELECT vec_id, CAST(i AS INTEGER) AS i,
         |         CAST(round(embedding[i]::DOUBLE * $QScale) AS BIGINT) AS qx
         |  FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS t(i)),
         |s1 AS MATERIALIZED (
         |  SELECT i, CAST(sum(qx) AS BIGINT) AS s FROM q GROUP BY i),
         |s2 AS (
         |  SELECT a.i AS i, b.i AS j, CAST(sum(a.qx * b.qx) AS BIGINT) AS s
         |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         |cov AS MATERIALIZED (
         |  SELECT s2.i, s2.j, CAST(nn.n * s2.s - sa.s * sb.s AS BIGINT) AS c
         |  FROM s2 JOIN s1 sa ON s2.i = sa.i JOIN s1 sb ON s2.j = sb.i
         |  CROSS JOIN nn),
         |cs AS (SELECT 1 + max(abs(c)) // $CScaleCap AS s FROM cov),
         |covs AS MATERIALIZED (SELECT i, j, c // s AS c FROM cov, cs),
         |v0 AS MATERIALIZED (
         |  SELECT i, CAST($VScale AS BIGINT) AS v
         |  FROM (SELECT DISTINCT i FROM q))""".stripMargin
    for (t <- 1 to Iters) {
      sb ++= s""",
         |w$t AS MATERIALIZED (
         |  SELECT c.i AS i, CAST(sum(c.c * v.v) AS BIGINT) AS w
         |  FROM covs c JOIN v${t - 1} v ON c.j = v.i GROUP BY c.i),
         |m$t AS (SELECT greatest(1, max(abs(w)) // $VScale) AS nrm FROM w$t),
         |v$t AS MATERIALIZED (SELECT i, w // nrm AS v FROM w$t, m$t)""".stripMargin
    }
    sb ++= s""",
       |sgn AS (SELECT CASE WHEN coalesce((SELECT v FROM v$Iters WHERE v != 0
       |                                   ORDER BY i LIMIT 1), 0) < 0
       |                    THEN -1 ELSE 1 END AS s),
       |vf AS MATERIALIZED (SELECT i, v * s AS v FROM v$Iters, sgn)""".stripMargin
    sb.result()
  }

  val embPcaProjectSql: String =
    s"""WITH $pcaCommonSql,
       |proj AS (
       |  SELECT e.vec_id, e.label,
       |         CAST(sum(CAST(round(e.embedding[t.i]::DOUBLE * $QScale) AS BIGINT)
       |                  * vf.v) AS BIGINT) AS proj_raw
       |  FROM embeddings e, LATERAL unnest(range(1, len(e.embedding) + 1)) AS t(i), vf
       |  WHERE vf.i = t.i
       |  GROUP BY e.vec_id, e.label)
       |SELECT vec_id, label, proj_raw,
       |       CAST(proj_raw AS DOUBLE) / ${QScale * VScale}.0 AS proj
       |FROM proj""".stripMargin

  val embPcaTop2Sql: String = {
    val sb = new StringBuilder
    sb ++= s"WITH $pcaCommonSql"
    sb ++= s""",
       |cd AS (SELECT CAST(sum(v * v) AS BIGINT) AS cd FROM vf),
       |u0 AS MATERIALIZED (
       |  SELECT i, CAST($VScale AS BIGINT) AS v
       |  FROM (SELECT DISTINCT i FROM q))""".stripMargin
    for (t <- 1 to Iters) {
      sb ++= s""",
         |uw$t AS MATERIALIZED (
         |  SELECT c.i AS i, CAST(sum(c.c * v.v) AS BIGINT) AS w
         |  FROM covs c JOIN u${t - 1} v ON c.j = v.i GROUP BY c.i),
         |um$t AS (SELECT greatest(1, max(abs(w)) // $VScale) AS nrm FROM uw$t),
         |up$t AS MATERIALIZED (SELECT i, w // nrm AS v FROM uw$t, um$t),
         |ucn$t AS (SELECT CAST(sum(p.v * f.v) AS BIGINT) AS cn
         |          FROM up$t p JOIN vf f ON p.i = f.i),
         |u$t AS MATERIALIZED (
         |  SELECT p.i,
         |         p.v - CAST((CAST(n.cn AS HUGEINT) * f.v) // d.cd AS BIGINT) AS v
         |  FROM up$t p JOIN vf f ON p.i = f.i
         |  CROSS JOIN ucn$t n CROSS JOIN cd d)""".stripMargin
    }
    sb ++= s""",
       |usgn AS (SELECT CASE WHEN coalesce((SELECT v FROM u$Iters WHERE v != 0
       |                                    ORDER BY i LIMIT 1), 0) < 0
       |                     THEN -1 ELSE 1 END AS s),
       |uf AS MATERIALIZED (SELECT i, v * s AS v FROM u$Iters, usgn),
       |proj AS (
       |  SELECT e.vec_id, e.label,
       |         CAST(sum(CAST(round(e.embedding[t.i]::DOUBLE * $QScale) AS BIGINT)
       |                  * vf.v) AS BIGINT) AS proj1_raw,
       |         CAST(sum(CAST(round(e.embedding[t.i]::DOUBLE * $QScale) AS BIGINT)
       |                  * uf.v) AS BIGINT) AS proj2_raw
       |  FROM embeddings e, LATERAL unnest(range(1, len(e.embedding) + 1)) AS t(i),
       |       vf, uf
       |  WHERE vf.i = t.i AND uf.i = t.i
       |  GROUP BY e.vec_id, e.label)
       |SELECT vec_id, label, proj1_raw, proj2_raw,
       |       CAST(proj1_raw AS DOUBLE) / ${QScale * VScale}.0 AS proj1,
       |       CAST(proj2_raw AS DOUBLE) / ${QScale * VScale}.0 AS proj2
       |FROM proj""".stripMargin
    sb.result()
  }

  /** Generated oracle for the K-component retrain: after the shared v1
    * chain (aliased f1), each component c = 2..K runs Iters levels —
    * normalize, then deflate SEQUENTIALLY against f1..f{c-1} (one cn +
    * one HUGEINT product-then-divide sub-CTE per prior component, the
    * exact spelling the driver's `iterate` applies) — then sign-fix into
    * f{c}. Projections union per component. */
  /** The full K-component training + projection chain (through the
    * per-component `pr$c` relations) — shared by the topk and whiten
    * oracles. */
  private def pcaTopkChainSql: String = {
    val sb = new StringBuilder
    sb ++= pcaCommonSql
    sb ++= s""",
       |f1 AS MATERIALIZED (SELECT i, v FROM vf),
       |cd1 AS (SELECT CAST(sum(v * v) AS BIGINT) AS cd FROM f1)""".stripMargin
    for (c <- 2 to TopK) {
      sb ++= s""",
         |c${c}u0 AS MATERIALIZED (
         |  SELECT i, CAST($VScale AS BIGINT) AS v
         |  FROM (SELECT DISTINCT i FROM q))""".stripMargin
      for (t <- 1 to Iters) {
        sb ++= s""",
           |c${c}w$t AS MATERIALIZED (
           |  SELECT c.i AS i, CAST(sum(c.c * v.v) AS BIGINT) AS w
           |  FROM covs c JOIN c${c}u${t - 1} v ON c.j = v.i GROUP BY c.i),
           |c${c}m$t AS (SELECT greatest(1, max(abs(w)) // $VScale) AS nrm FROM c${c}w$t),
           |c${c}t${t}d0 AS MATERIALIZED (
           |  SELECT i, w // nrm AS v FROM c${c}w$t, c${c}m$t)""".stripMargin
        for (j <- 1 until c) {
          sb ++= s""",
             |c${c}t${t}n$j AS (SELECT CAST(sum(p.v * f.v) AS BIGINT) AS cn
             |                  FROM c${c}t${t}d${j - 1} p JOIN f$j f ON p.i = f.i),
             |c${c}t${t}d$j AS MATERIALIZED (
             |  SELECT p.i,
             |         p.v - CAST((CAST(n.cn AS HUGEINT) * f.v) // d.cd AS BIGINT) AS v
             |  FROM c${c}t${t}d${j - 1} p JOIN f$j f ON p.i = f.i
             |  CROSS JOIN c${c}t${t}n$j n CROSS JOIN cd$j d)""".stripMargin
        }
        sb ++= s""",
           |c${c}u$t AS (SELECT i, v FROM c${c}t${t}d${c - 1})""".stripMargin
      }
      sb ++= s""",
         |c${c}sgn AS (SELECT CASE WHEN coalesce((SELECT v FROM c${c}u$Iters WHERE v != 0
         |                                        ORDER BY i LIMIT 1), 0) < 0
         |                         THEN -1 ELSE 1 END AS s),
         |f$c AS MATERIALIZED (SELECT i, v * s AS v FROM c${c}u$Iters, c${c}sgn),
         |cd$c AS (SELECT CAST(sum(v * v) AS BIGINT) AS cd FROM f$c)""".stripMargin
    }
    for (c <- 1 to TopK) {
      sb ++= s""",
         |pr$c AS (
         |  SELECT e.vec_id, e.label, CAST($c AS INTEGER) AS component,
         |         CAST(sum(CAST(round(e.embedding[t.i]::DOUBLE * $QScale) AS BIGINT)
         |                  * f.v) AS BIGINT) AS proj_raw
         |  FROM embeddings e, LATERAL unnest(range(1, len(e.embedding) + 1)) AS t(i),
         |       f$c f
         |  WHERE f.i = t.i
         |  GROUP BY e.vec_id, e.label)""".stripMargin
    }
    sb.result()
  }

  val embPcaTopkSql: String =
    s"""WITH $pcaTopkChainSql
       |SELECT vec_id, label, component, proj_raw,
       |       CAST(proj_raw AS DOUBLE) / ${QScale * VScale}.0 AS proj
       |FROM (${(1 to TopK).map(c => s"SELECT * FROM pr$c").mkString("\n      UNION ALL ")})""".stripMargin

  // ── emb_whiten ★ (r11) — PCA WHITENING: per-vector z-scores along the
  // K=8 trained components — the decorrelated, unit-variance coordinates
  // that feed distance-based consumers (clustering, ANN, outlier cuts)
  // without any one high-variance axis dominating. Engine-exact by the
  // established integer discipline: projections scale down to PdScale
  // units (truncating div, both engines), per-component mean and
  // variance use the truncating spellings s1 div n and s2 div n − mean²
  // (identical on both sides, so the ESTIMATOR is shared, not just the
  // data), the σ is floor(sqrt(double)) — IEEE sqrt is correctly
  // rounded, so both engines floor the same value (the
  // pipe_mix_temperature precedent) — and the z-score is an exact
  // integer (pd − mean)·1000 div σ.
  //
  // Scale shape: the corpus contributes the SAME single 4096-key
  // covariance agg (memoized with the other three PCA queries); the
  // whiten pass is one narrow map (components as plan literals), one
  // 8-row map-side-combined stats agg, and an 8-row broadcast join back
  // — no data-sized shuffle beyond the stats fold.
  //
  // Overflow budget: |pd| ≤ ~6e5 ⇒ s2 ≤ n·3.6e11 — BIGINT-safe to
  // n ≈ 2.5e7 vectors, comfortably past the PCA trainer's own n ≈ 3e5
  // bound (enforced in covScaled).
  val PdScale = 1000000L

  def embWhiten(spark: SparkSession, dir: String): DataFrame = {
    val vs = trainedComponents(spark, dir, TopK)
    viewEmb(spark, dir)
    def proj(varr: String) =
      s"""aggregate(transform(embedding, (x, i) ->
         |      CAST(round(CAST(x AS DOUBLE) * $QScale) AS BIGINT)
         |        * element_at($varr, i + 1)),
         |    CAST(0 AS BIGINT), (acc, e) -> acc + e)""".stripMargin
    val projArr = vs.map(v => proj(v.mkString("array(", "L, ", "L)")))
      .mkString("array(\n", ",\n", ")")
    // The projection map (8×64-term folds per vector — the query's
    // dominant cost) feeds TWO consumers (stats agg + final join): pin
    // it once or Catalyst inlines the CTE and runs it twice.
    spark.sql(
      s"""SELECT vec_id, label, CAST(comp + 1 AS INT) AS component,
         |       proj_raw div $PdScale AS pd
         |FROM (SELECT vec_id, label, $projArr AS projs FROM embeddings)
         |LATERAL VIEW posexplode(projs) AS comp, proj_raw""".stripMargin)
      .pinned()
      .createOrReplaceTempView("whiten_pd_t")
    spark.sql(
      s"""WITH pd AS (SELECT * FROM whiten_pd_t),
         |stats AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(pd) AS BIGINT) AS s1,
         |         CAST(sum(pd * pd) AS BIGINT) AS s2
         |  FROM pd GROUP BY component),
         |sd AS (
         |  SELECT component, s1 div n AS mean_pd,
         |         greatest(CAST(1 AS BIGINT),
         |           CAST(floor(sqrt(CAST(greatest(CAST(0 AS BIGINT),
         |             s2 div n - (s1 div n) * (s1 div n)) AS DOUBLE))) AS BIGINT))
         |           AS sd_pd
         |  FROM stats)
         |SELECT p.vec_id, p.label, p.component,
         |       (p.pd - s.mean_pd) * 1000 div s.sd_pd AS white_milli,
         |       s.sd_pd
         |FROM pd p JOIN sd s ON p.component = s.component""".stripMargin)
  }

  val embWhitenSql: String =
    s"""WITH $pcaTopkChainSql,
       |allp AS (${(1 to TopK).map(c => s"SELECT * FROM pr$c").mkString("\n      UNION ALL ")}),
       |pd AS (
       |  SELECT vec_id, label, component, proj_raw // $PdScale AS pd FROM allp),
       |stats AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(pd) AS BIGINT) AS s1,
       |         CAST(sum(pd * pd) AS BIGINT) AS s2
       |  FROM pd GROUP BY component),
       |sd AS (
       |  SELECT component, s1 // n AS mean_pd,
       |         greatest(CAST(1 AS BIGINT),
       |           CAST(floor(sqrt(CAST(greatest(CAST(0 AS BIGINT),
       |             s2 // n - (s1 // n) * (s1 // n)) AS DOUBLE))) AS BIGINT))
       |           AS sd_pd
       |  FROM stats)
       |SELECT p.vec_id, p.label, p.component,
       |       (p.pd - s.mean_pd) * 1000 // s.sd_pd AS white_milli,
       |       s.sd_pd
       |FROM pd p JOIN sd s ON p.component = s.component""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_pca_project" -> (embPcaProject _),
    "emb_pca_top2" -> (embPcaTop2 _),
    "emb_pca_topk" -> (embPcaTopk _),
    "emb_whiten" -> (embWhiten _))

  val oracle: Map[String, String] = Map(
    "emb_pca_project" -> embPcaProjectSql,
    "emb_pca_top2" -> embPcaTop2Sql,
    "emb_pca_topk" -> embPcaTopkSql,
    "emb_whiten" -> embWhitenSql)
}

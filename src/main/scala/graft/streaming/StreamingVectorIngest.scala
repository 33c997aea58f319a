package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous embedding ingestion into the IVF posting-list store — the
  * streaming half of the similarity-search path: vectors arrive as
  * parquet drops, each is assigned to its nearest trained coarse centroid
  * ([[graft.tools.KMeansTrainer]] output), and appended to the
  * centroid-partitioned posting layout [[graft.tools.AnnIndex]] serves
  * from — so the ANN index stays fresh without rebuild scans.
  *
  * Scale notes: assignment is STATELESS and join-free — the trained
  * centroids are a design-constant k×d table, so they embed in the plan
  * as a literal array and every incoming vector scores all k in one
  * narrow projection (no broadcast exchange, no state store, no shuffle
  * before the partitioned write). Vector norms divide every score
  * equally, so argmax needs only unit-normalized CENTROIDS — computed
  * once, driver-side. Exactly-once: the file source + checkpoint replay
  * discipline; the sink appends whole files per batch, so a replayed
  * batch overwrites rather than duplicates (parquet sink batch-id
  * manifest).
  */
object StreamingVectorIngest {

  /** Unit-normalize centroids driver-side; k and d are design constants. */
  private def unitCentroids(centroids: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] =
    centroids.sortBy(_._1).map { case (cid, c) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      (cid, if (n > 0) c.map(_ / n) else c)
    }

  /** The per-centroid dot-product array over unit centroids. */
  private def scoresExpr(cents: Seq[(Int, Seq[Double])], v: Column): Column = {
    val centsLit = typedLit(cents.map(_._2))
    transform(centsLit, c =>
      aggregate(zip_with(v, c, (a, b) => a * b), lit(0.0d), (acc, x) => acc + x))
  }

  /** The assignment column: argmax over dot(v, unit centroid), ties to
    * the lower centroid id (same tie rule as the batch assignment). */
  private def assignExpr(cents: Seq[(Int, Seq[Double])], scores: Column): Column = {
    val cidsLit = typedLit(cents.map(_._1))
    // array_position returns the FIRST index of the max (1-based): with
    // centroids sorted by id, ties already break low.
    element_at(cidsLit, array_position(scores, array_max(scores)).cast("int"))
  }

  /** Run until all currently-dropped vector files are ingested
    * (AvailableNow). Output layout: `indexDir/c_id=<k>/…` — the exact
    * partition-pruned layout the persisted-IVF serving path probes.
    *
    * Each posting row also carries its PROTOTYPICALITY at ingest time:
    * `proto_cos` = cosine to the assigned (nearest) centroid — the
    * streaming half of `emb_outlier`'s pruning metric, computed from the
    * argmax scores the assignment already evaluated (zero extra passes,
    * still stateless and join-free) — plus `is_outlier` under
    * `outlierThreshold`, so a downstream curation step can drop
    * far-from-prototype vectors without re-scanning the store. */
  def run(spark: SparkSession, dropDir: String, indexDir: String,
      checkpointDir: String, centroids: Seq[(Int, Seq[Double])],
      outlierThreshold: Double = 0.05): Unit = {
    val cents = unitCentroids(centroids)
    val schema = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    graft.expr.GraftFunctions.register(spark)
    val assigned = incoming
      .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      .withColumn("scores", scoresExpr(cents, col("v")))
      .withColumn("c_id", assignExpr(cents, col("scores")))
      // Unit centroids: cos = best dot / |v|.
      .withColumn("proto_cos", array_max(col("scores")) /
        sqrt(aggregate(col("v"), lit(0.0d), (acc, x) => acc + x * x)))
      .withColumn("is_outlier", (col("proto_cos") < outlierThreshold).cast("int"))
      // r7: each posting also carries its PQ CODES (1-based positions,
      // the fused pq_encode kernel — one more narrow column, still
      // stateless), so the streamed rows are directly servable by the
      // codes-only ADC path (AnnIndex.topkPq's posting schema) without a
      // re-encode scan.
      .withColumn("e", expr("pq_encode(embedding)"))
      .withColumn("p0", expr("cast(element_at(e, 1) + 1 AS INT)"))
      .withColumn("p1", expr("cast(element_at(e, 2) + 1 AS INT)"))
      .withColumn("p2", expr("cast(element_at(e, 3) + 1 AS INT)"))
      .withColumn("p3", expr("cast(element_at(e, 4) + 1 AS INT)"))
      .select("vec_id", "c_id", "embedding", "proto_cos", "is_outlier",
        "p0", "p1", "p2", "p3")
    MicroBatch.drainToParquet(assigned, indexDir, checkpointDir, partitionBy = Seq("c_id"))
  }
}

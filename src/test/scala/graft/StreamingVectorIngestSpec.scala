package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.KMeansTrainer
import graft.streaming.StreamingVectorIngest

/** Streaming IVF ingestion: vectors streamed in waves must land in the
  * same posting lists the batch assignment computes, in the
  * centroid-partitioned layout the persisted index serves from, without
  * duplicates across waves. */
class StreamingVectorIngestSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("vec-ingest").toString
  }

  private def blobs(ids: Range) = {
    val ss = spark; import ss.implicits._
    val rng = new scala.util.Random(9)
    val dirs = Array(0, 3, 6)
    ids.map { i =>
      val v = Array.fill(8)(rng.nextFloat() * 0.1f)
      v(dirs(i % 3)) = 1.0f + rng.nextFloat() * 0.1f
      (i.toLong, v.toSeq, i % 3)
    }.toDF("vec_id", "embedding", "label")
  }

  test("streamed postings match batch assignment, partition-pruned, no dupes across waves") {
    val all = blobs(0 until 120)
    val (centsDf, _) = KMeansTrainer.train(spark, all, k = 3, maxIters = 10)
    val cents = centsDf.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq

    val drop = s"$work/drop"; val index = s"$work/postings"; val ckpt = s"$work/ckpt"
    all.filter(col("vec_id") < 60).coalesce(1).write.parquet(s"$drop/w1")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def flatten(): Unit =
      fs.listStatus(new org.apache.hadoop.fs.Path(drop)).filter(_.isDirectory).foreach { d =>
        fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          .foreach(f => fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(drop, d.getPath.getName + "_" + f.getPath.getName)))
        fs.delete(d.getPath, true)
      }
    flatten()
    StreamingVectorIngest.run(spark, drop, index, ckpt, cents)

    // Wave 2 with the same checkpoint: only the new vectors ingest.
    all.filter(col("vec_id") >= 60).coalesce(1).write.parquet(s"$drop/w2")
    flatten()
    StreamingVectorIngest.run(spark, drop, index, ckpt, cents)

    val postings = spark.read.parquet(index)
    assert(postings.count() === 120)
    assert(postings.select("vec_id").distinct().count() === 120, "duplicate postings")

    // Streamed assignment == batch assignment, vector by vector.
    val batchAssign = KMeansTrainer.assign(spark, all, centsDf)
      .select(col("vec_id"), col("c_id").as("batch_cid"))
    val mismatches = postings.join(batchAssign, "vec_id")
      .filter(col("c_id") =!= col("batch_cid")).count()
    assert(mismatches === 0, "streamed centroid assignment diverged from batch")

    // Ingest-time prototypicality: proto_cos is the TRUE cosine to the
    // assigned centroid — cross-checked against KMeansTrainer.assign's
    // score (full cosine, same centroids) — and the outlier flag follows
    // the threshold. Blob vectors hug their centroid, so none flag.
    val batchScores = KMeansTrainer.assign(spark, all, centsDf)
      .select(col("vec_id"), col("score").as("batch_cos"))
    val drift = postings.join(batchScores, "vec_id")
      .filter(org.apache.spark.sql.functions.abs(
        col("proto_cos") - col("batch_cos")) > 1e-9).count()
    assert(drift === 0, "ingest-time proto_cos diverged from the batch cosine")
    assert(postings.filter(col("is_outlier") =!= 0).count() === 0)
    assert(postings.filter(col("proto_cos") > 0.9).count() === 120,
      "blob members must be near their prototype")

    // The layout is the partition-pruned serving shape: c_id=<k> dirs
    // exist and a single-list probe reads only its partition.
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(index))
      .map(_.getPath.getName).filter(_.startsWith("c_id=")).sorted
    assert(dirs.length === 3, s"expected 3 posting partitions, got ${dirs.mkString(",")}")
    val probe = spark.read.parquet(index).filter(col("c_id") === 0)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(c_id"),
      "list probe must prune partitions at the scan")

    // r7: every streamed posting carries its PQ codes (1-based, in
    // range), matching the batch pq_encode assignment — the streamed
    // store is directly servable by the codes-only ADC path.
    graft.expr.GraftFunctions.register(spark)
    assert(postings.filter(col("p0") < 1 || col("p0") > 16 ||
      col("p1") < 1 || col("p1") > 16 || col("p2") < 1 || col("p2") > 16 ||
      col("p3") < 1 || col("p3") > 16).count() === 0)
    all.createOrReplaceTempView("svi_all")
    val batchCodes = spark.sql(
      """SELECT vec_id, pq_encode(embedding) AS e FROM svi_all""")
      .selectExpr("vec_id", "cast(element_at(e, 1) + 1 as int) AS b0",
        "cast(element_at(e, 2) + 1 as int) AS b1",
        "cast(element_at(e, 3) + 1 as int) AS b2",
        "cast(element_at(e, 4) + 1 as int) AS b3")
    val codeDrift = postings.join(batchCodes, "vec_id")
      .filter(col("p0") =!= col("b0") || col("p1") =!= col("b1") ||
        col("p2") =!= col("b2") || col("p3") =!= col("b3")).count()
    assert(codeDrift === 0, "streamed PQ codes diverged from batch pq_encode")
  }
}

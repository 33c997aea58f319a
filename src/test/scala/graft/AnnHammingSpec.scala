package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Binary quantization (emb_binarize) + Hamming shortlist/cosine rerank
  * (ann_hamming_topk): retrieval quality against the exact cosine
  * baseline, and the invariants the oracle instantiation can't state. */
class AnnHammingSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("emb_binarize: sign words round-trip the density and stay in range") {
    val b = SparkEntry.queries("emb_binarize")(spark, dir).cache()
    try {
      assert(b.count() === 500L)
      val bad = b.filter(col("density") < 0 || col("density") > 64 ||
        col("density") =!= bit_count(col("w0")) + bit_count(col("w1"))).count()
      assert(bad === 0L)
      // Non-degenerate: codes must actually vary (not all-zero/all-one).
      assert(b.select(countDistinct(col("w0"), col("w1"))).head.getLong(0) > 400L,
        "binary codes collapsed")
    } finally b.unpersist()
  }

  test("ann_hamming_topk: shortlist+rerank recalls >= 12/15 of exact cosine top-5") {
    val exact = SparkEntry.queries("ann_bruteforce_topk")(spark, dir)
      .select(col("q_id"), col("vec_id"))
    val ham = SparkEntry.queries("ann_hamming_topk")(spark, dir)
      .select(col("q_id"), col("vec_id"))
    val overlap = exact.join(ham, Seq("q_id", "vec_id")).count()
    assert(overlap >= 12L, s"recall@5 degraded: $overlap/15")
  }

  test("ann_hamming_topk: rerank order is by true cosine, 5 rows per probe") {
    val out = SparkEntry.queries("ann_hamming_topk")(spark, dir).cache()
    try {
      assert(out.groupBy("q_id").count().filter(col("count") =!= 5).count() === 0L)
      // Within each probe, rnk order must be non-increasing cosine.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy("rnk")
      val inversions = out
        .withColumn("prev_cs", lag(col("cos_sim"), 1).over(w))
        .filter(col("prev_cs").isNotNull && col("prev_cs") < col("cos_sim"))
        .count()
      assert(inversions === 0L)
    } finally out.unpersist()
  }

  test("ann_ivfpq_topk: scores agree with global ADC and the scan is routed") {
    val ivfpq = SparkEntry.queries("ann_ivfpq_topk")(spark, dir).cache()
    try {
      assert(ivfpq.groupBy("q_id").count().filter(col("count") =!= 5).count() === 0L)
      // Cross-operator consistency: wherever the routed scan and the
      // global ADC scan (ann_pq_adc_topk) return the same candidate, the
      // integer ADC distance must be IDENTICAL — same codes, same table.
      val adc = SparkEntry.queries("ann_pq_adc_topk")(spark, dir)
        .select(col("q_id"), col("vec_id"), col("adc_dist").as("adc_global"))
      val joined = ivfpq.join(adc, Seq("q_id", "vec_id"))
      assert(joined.count() > 0L, "routed and global ADC top-k never overlap")
      assert(joined.filter(col("adc_dist") =!= col("adc_global")).count() === 0L)
      // Routing is real: each probe's results come from <= nprobe lists.
      assert(ivfpq.groupBy("q_id")
        .agg(countDistinct("centroid_id").as("lists")).filter(col("lists") > 2)
        .count() === 0L)
    } finally ivfpq.unpersist()
  }

  test("mm_phash_dedup: pigeonhole banding finds EVERY pair within threshold") {
    // The banding guarantee is exact recall at hd <= 7 — compare the
    // banded join against the brute-force pair set.
    val sigs = SparkEntry.queries("mm_phash")(spark, dir)
      .select("doc_id", "phash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, pa) <- sigs; (b, pb) <- sigs if a < b
      hd = java.lang.Long.bitCount(pa ^ pb) if hd <= 7
    } yield (a, b, hd)).toSet
    val banded = SparkEntry.queries("mm_phash_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === brute,
      s"banded ${banded.size} vs brute ${brute.size}: recall guarantee broken")
    assert(brute.nonEmpty, "fixture has no near-dup assets — test is vacuous")
  }

  test("ann_hamming_topk: stage-2 plan reranks via equi-joins (no second all-pairs)") {
    val p = SparkEntry.queries("ann_hamming_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    // Exactly one nested-loop (the stage-1 probe fan-out); the rerank
    // joins must be hash/sort-merge equi-joins on vec_id.
    val nl = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(nl <= 1, s"rerank stage fell back to a nested loop: $nl")
  }
}

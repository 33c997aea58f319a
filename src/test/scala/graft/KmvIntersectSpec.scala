package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KMV set-operation sketch (sk_kmv_intersect): estimator accuracy
  * against the exact witnesses it carries, and the degenerate-pair
  * behavior (zero intersection ⇒ exactly-zero estimate). */
class KmvIntersectSpec extends AnyFunSuite with LocalSpark {

  // sf0.01: shingle sets are 3k-11k per language, so k_used saturates at
  // K=256 and the ESTIMATOR path (not the exact-small-set path) is
  // exercised.
  private val dir = "/root/testdata/sf0.01"

  test("union estimate lands within 25% of exact when the sketch saturates") {
    val out = SparkEntry.queries("sk_kmv_intersect")(spark, dir).cache()
    try {
      assert(out.count() === 10L) // 5 langs -> 10 unordered pairs
      // exact union = exact_inter / exact_jaccard (when jaccard > 0);
      // check the estimator against it on every overlapping pair.
      val bad = out.filter(col("k_used") === 256 && col("exact_jaccard") > 0)
        .withColumn("exact_union", col("exact_inter") / col("exact_jaccard"))
        .filter(abs(col("union_est") - col("exact_union")) / col("exact_union") > 0.25)
        .count()
      assert(bad === 0L, "union estimate off by >25% on an overlapping pair")
      // Jaccard estimate tracks exact within an additive K-limited bound:
      // |rho/k - J| <= 3*sqrt(J(1-J)/k) + 1/k, loosened to 0.05 absolute
      // for the tiny true J here.
      val badJ = out.filter(col("k_used") === 256)
        .filter(abs(col("jaccard_est") - col("exact_jaccard")) > 0.05).count()
      assert(badJ === 0L)
    } finally out.unpersist()
  }

  test("zero-intersection pairs estimate exactly zero") {
    val out = SparkEntry.queries("sk_kmv_intersect")(spark, dir)
    // rho counts hashes present in BOTH signatures; disjoint sets can
    // never share a hash (the hash is of the element), so the estimate
    // is structurally zero, not approximately zero.
    val bad = out.filter(col("exact_inter") === 0 &&
      (col("rho_num") =!= 0 || col("inter_est") =!= 0.0)).count()
    assert(bad === 0L)
    // And such pairs exist in the fixture (the test is non-vacuous).
    assert(out.filter(col("exact_inter") === 0).count() >= 2L)
  }
}

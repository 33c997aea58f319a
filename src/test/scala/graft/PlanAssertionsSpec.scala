package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests (SURVEY §4): the optimizations that
  * matter at 100 TB must be visible in the executed plan, not assumed —
  * broadcast joins on dimension sides, filter pushdown reaching the
  * parquet scan, TakeOrderedAndProject for top-k, no single-reducer
  * global windows. */
class PlanAssertionsSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("C1/C2: dimension joins broadcast (no shuffled fact side)") {
    assert(plan("c1_lsn_time_join").contains("BroadcastHashJoin"))
    val c2 = plan("c2_metadata_join")
    assert("BroadcastHashJoin".r.findAllIn(c2).size == 3)
    assert(!c2.contains("SortMergeJoin"))
  }

  test("C3: delete application is a broadcast anti join") {
    val p = plan("c3_delete_anti_join")
    assert(p.contains("LeftAnti") && p.contains("Broadcast"))
  }

  test("A2/B2: keyset predicates are pushed to the parquet scan") {
    val p = plan("a2_snapshot_keyset")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,1200)]"))
  }

  test("A2/E2: ordered limits plan as TakeOrderedAndProject (no global sort)") {
    assert(plan("a2_snapshot_keyset").contains("TakeOrderedAndProject"))
    assert(plan("e2_topk").contains("TakeOrderedAndProject"))
  }

  test("E9: sessionization windows are partitioned by user (no single reducer)") {
    val p = plan("e9_sessionize")
    assert(!p.contains("Exchange SinglePartition"))
    assert(p.contains("hashpartitioning(user_id"))
  }

  test("E1: global rank has no single-reducer window") {
    // The window must be partitioned by the physical partition id — a bare
    // `Window [.. ORDER BY ..]` with an Exchange SinglePartition under it
    // is the anti-pattern.
    val p = plan("e1_global_merge")
    assert(!p.contains("Exchange SinglePartition"))
  }

  test("column pruning: projection-only query reads only needed columns") {
    val p = plan("b4_projection")
    // events has 6 physical columns; the query needs all payload cols but
    // the scan must not read `ts` (unused by the projection).
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("value:") || readSchema.contains("value:double"))
    assert(plan("a1_change_scan").linesIterator
      .filter(_.contains("ReadSchema"))
      .forall(l => !l.contains("props") && !l.contains("user_id")))
  }

  test("text_repetition is narrow: no exchange in the plan") {
    assert(!plan("text_repetition").contains("Exchange"))
  }

  test("ann_ivf_topk: no sort-merge join anywhere on the scoring path") {
    // The 16-row centroid side and the tiny query-probe side must both
    // broadcast — a SortMergeJoin would mean the full embedding table
    // shuffled for one of them. Inspect the UNDERLYING pipeline, not the
    // catalog entry: the entry returns the served-output memo (r13), a
    // checkpointed scan whose plan no longer shows the joins.
    val p = graft.queries.SimilarityQueries.annIvfTopk(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ann_ivf_topk: centroid assignment never shuffles the N side") {
    // The assignment stage (the checkpointed first statement) pairs every
    // vector with the 16-row centroid table via a broadcast nested-loop
    // cross join.
    val q =
      s"""SELECT n.vec_id, c.c_id FROM
         |  (SELECT vec_id, embedding FROM embeddings) n CROSS JOIN
         |  (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
         |   WHERE vec_id BETWEEN 100 AND 115) c""".stripMargin
    spark.read.parquet(s"$dir/embeddings.parquet").createOrReplaceTempView("embeddings")
    val p = spark.sql(q).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("pipe_curation: one combined final aggregation, partial aggregated") {
    val p = plan("pipe_curation")
    // The funnel's final per-language rollup must be map-side combined
    // (partial_ HashAggregate before the exchange).
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("custom expressions stay inside whole-stage codegen") {
    // Codegen stages print as `*(n)` prefixes; the projection holding the
    // custom expression must carry one (no interpreted fallback).
    val star = "\\*\\(\\d+\\) Project \\[.*"
    assert((star + "truncateutf8").r.findFirstIn(plan("b6_truncate_utf8")).isDefined)
    assert((star + "masktonames").r.findFirstIn(plan("f3_mask_decode")).isDefined)
  }

  test("ann_range_search: no shuffle — broadcast nested-loop with the QUERY side built") {
    // A threshold join has no equi key, so the right plan is a
    // BroadcastNestedLoopJoin whose BUILD side is the tiny query set —
    // O(Q·N) per-row work with the N side streaming straight off the
    // scan. The assertion pins (a) the build side and (b) the absence of
    // any shuffle exchange or window; either appearing means the plan
    // degraded to something that funnels the corpus.
    val p = plan("ann_range_search")
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft") ||
      p.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"range search must not shuffle:\n$p")
    assert(!p.contains("Window"))
  }

  test("emb_centroid_by_label: one map-side-combined aggregate, no join/window") {
    val p = plan("emb_centroid_by_label")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "centroid aggregate must be partial (map-side combined)")
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("pipe_quota_sample: admission window is partitioned by source") {
    val p = plan("pipe_quota_sample")
    assert(!p.contains("Exchange SinglePartition"),
      s"quota window must not funnel to one reducer:\n$p")
    assert(p.contains("hashpartitioning(source"))
  }

  test("pipe_decontaminate_bloom: prefilter is a codegen'd expression, not a closure UDF") {
    // Codegen stages only collapse when AQE finalizes: execute the SAME
    // DataFrame, then read its (now final) executed plan.
    val df = SparkEntry.queries("pipe_decontaminate_bloom")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // The stage scanning every corpus row must not fall out of
    // whole-stage codegen through a Scala UDF...
    assert(!p.contains("UDF"), "no ScalaUDF may appear in the bloom path")
    // ...and the bloom prefilter must sit inside a codegen'd (`*(n)`)
    // Filter.
    assert("\\*\\(\\d+\\) Filter [^\\n]*bloommightcontainstring".r
      .findFirstIn(p).isDefined,
      "bloom prefilter must be a codegen'd Filter stage")
  }
}

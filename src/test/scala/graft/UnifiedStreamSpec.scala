package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcPipeline, UnifiedStream}

/** Unified multi-table stream: two tables' change feeds published as one
  * stream, each produce window in global change-index order, validated by
  * the engine's own order check (the reference's strict-order assert and
  * validator, run against our output). */
class UnifiedStreamSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("unified-spec").toString
  }

  /** Stages the multi-table source's layout under `base`: `events` as one
    * change window, `orders` as a 1,500-row snapshot plus a 9-row change
    * tail. */
  private def stageSourceBase(base: String): Unit = {
    CdcPipeline.stageChangeFeed(spark, sfDir, s"$base/events/feed", nChunks = 1)
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(lit(0L).as("lsn_num"), lit(0).as("command_id"),
        lit(0L).as("seqval_num"), lit(0).as("operation"),
        col("o_orderkey").as("event_id"), col("o_orderkey").as("user_id"),
        col("o_orderstatus").as("event_type"), col("o_totalprice").as("value"),
        col("o_orderpriority").as("props"))
      .coalesce(2).write.mode("overwrite").parquet(s"$base/orders/snapshot")
    spark.sql(
      """SELECT cast(id + 1 as long) AS lsn_num, 0 AS command_id,
        |       cast(id as long) AS seqval_num, 4 AS operation,
        |       cast(id as long) AS event_id, cast(id as long) AS user_id,
        |       'U' AS event_type, cast(id as double) AS value, '' AS props
        |FROM range(9)""".stripMargin)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/orders/feed")
  }

  test("two-table unified stream publishes every window in global order") {
    val feedA = s"$work/feedA"; val feedB = s"$work/feedB"
    CdcPipeline.stageChangeFeed(spark, sfDir, feedA, nChunks = 3)
    CdcPipeline.stageOrdersSnapshotAndChanges(spark, sfDir, feedB, nSnapshotPages = 2)
    UnifiedStream.run(spark,
      Map("events" -> feedA, "orders" -> feedB),
      s"$work/unified", s"$work/ckpt")

    val out = spark.read.parquet(s"$work/unified")
    // Both tables present, nothing lost: unified row count = sum of
    // published (non-PreUpdate) rows of both feeds.
    val expected =
      spark.read.parquet(feedA).filter(col("operation") =!= 3).count() +
        spark.read.parquet(feedB).filter(col("operation") =!= 3).count()
    assert(out.count() === expected)
    assert(out.select("src").distinct().count() === 2)
    assert(out.select("batch_id").distinct().count() >= 2)

    // The strict-order production guarantee, checked like the reference
    // checks itself: zero ordering regressions inside any produce window.
    assert(UnifiedStream.orderValidation(spark, s"$work/unified").count() === 0)
  }

  test("source-driven unified stream: scheduler-paced windows publish in global order") {
    // The r6 composition: the multi-table DSv2 source (scheduler,
    // pacing, snapshot interleave) upstream of the ordered publisher.
    val base = s"$work/srcbase"
    stageSourceBase(base)

    UnifiedStream.runFromSource(spark, base, Seq("orders", "events"),
      s"$work/unified_src", s"$work/ckpt_src", batchSize = 400)

    val out = spark.read.parquet(s"$work/unified_src")
    // Exactly once across the fleet: snapshot + both change tails,
    // minus the op-3 PreUpdate images the publisher drops.
    val events = spark.read.parquet(s"$base/events/feed")
      .filter(col("operation") =!= 3).count()
    assert(out.count() === 1500 + 9 + events)
    assert(out.select("src").distinct().count() === 2)
    // Batch pacing survived the composition...
    val sizes = out.groupBy("batch_id").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 400))
    // ...and every produce window is in global change-index order.
    assert(UnifiedStream.orderValidation(spark, s"$work/unified_src").count() === 0)
  }

  test("partitioned unified stream keeps disjoint ordered ranges per window") {
    val feedA = s"$work/feedC"; val feedB = s"$work/feedD"
    CdcPipeline.stageChangeFeed(spark, sfDir, feedA, nChunks = 2)
    CdcPipeline.stageOrdersSnapshotAndChanges(spark, sfDir, feedB, nSnapshotPages = 2)
    UnifiedStream.runPartitioned(spark,
      Map("events" -> feedA, "orders" -> feedB),
      s"$work/unifiedP", s"$work/ckptP", partitions = 3)

    val out = spark.read.parquet(s"$work/unifiedP")
    val expected =
      spark.read.parquet(feedA).filter(col("operation") =!= 3).count() +
        spark.read.parquet(feedB).filter(col("operation") =!= 3).count()
    assert(out.count() === expected)
    // The write genuinely fanned out across partitions.
    assert(out.select("part").distinct().count() >= 2)
    // Total order holds: every partition internally ordered, ranges
    // disjoint and ascending with partition id.
    assert(UnifiedStream.partitionedOrderValidation(spark, s"$work/unifiedP").count() === 0)
  }

  test("source-driven PARTITIONED unified stream: scheduler windows publish as disjoint ordered ranges") {
    // VERDICT r6 #8: the 100x composition — the multi-table DSv2 source
    // (scheduler, pacing, snapshot interleave, gap handling) upstream of
    // the range-partitioned ordered layout — must carry the same
    // end-to-end guarantees the coalesce(1) path proves above.
    val base = s"$work/srcbaseP"
    stageSourceBase(base)

    UnifiedStream.runPartitionedFromSource(spark, base, Seq("orders", "events"),
      s"$work/unified_srcP", s"$work/ckpt_srcP", batchSize = 400, partitions = 3)

    val out = spark.read.parquet(s"$work/unified_srcP")
    // Exactly once across the fleet, PreUpdate images dropped.
    val events = spark.read.parquet(s"$base/events/feed")
      .filter(col("operation") =!= 3).count()
    assert(out.count() === 1500 + 9 + events)
    assert(out.select("src").distinct().count() === 2)
    // Batch pacing survived the composition...
    val sizes = out.groupBy("batch_id").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 400))
    // ...the write fanned out (windows near the batch cap split over
    // multiple ranges)...
    assert(out.select("part").distinct().count() >= 2)
    // ...and the scale layout's total-order contract holds: zero
    // intra-partition regressions, zero overlapping ranges, per window.
    assert(UnifiedStream.partitionedOrderValidation(spark, s"$work/unified_srcP").count() === 0)
  }

  test("a warm source-driven drain compiles no generated classes") {
    // Two drains of the same staged tables, each on a fresh checkpoint and
    // sink: the second runs the same generated code as the first and must
    // find all of it in the codegen cache.
    val base = s"$work/srcbaseW"
    stageSourceBase(base)
    def drain(n: Int): Long = {
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      UnifiedStream.runFromSource(spark, base, Seq("orders", "events"),
        s"$work/unified_w$n", s"$work/ckpt_w$n", batchSize = 400)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    }
    drain(1)
    assert(drain(2) === 0L)
    assert(spark.read.parquet(s"$work/unified_w2").count() ===
      spark.read.parquet(s"$work/unified_w1").count())
  }

  test("a warm source-driven drain forks no process to commit its checkpoint") {
    val base = s"$work/srcbaseF"
    stageSourceBase(base)
    def drain(n: Int): Unit =
      UnifiedStream.runFromSource(spark, base, Seq("orders", "events"),
        s"$work/unified_f$n", s"$work/ckpt_f$n", batchSize = 400)
    drain(1)
    val forks = Forks.during(Forks.CheckpointManager)(drain(2))
    assert(forks === 0, s"a warm drain forked $forks processes from a checkpoint file manager")
  }

  test("a warm source-driven drain forks no process to write its windows") {
    val base = s"$work/srcbaseWF"
    stageSourceBase(base)
    def drain(n: Int): Unit =
      UnifiedStream.runFromSource(spark, base, Seq("orders", "events"),
        s"$work/unified_wf$n", s"$work/ckpt_wf$n", batchSize = 400)
    drain(1)
    val forks = Forks.during(Forks.HadoopShell)(drain(2))
    assert(forks === 0, s"a warm drain forked $forks processes from Hadoop's shell")
    assert(spark.read.parquet(s"$work/unified_wf2").count() ===
      spark.read.parquet(s"$work/unified_wf1").count())
  }
}

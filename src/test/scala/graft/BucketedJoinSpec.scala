package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.BucketedStore

/** Bucketed-table co-located joins: the layout pays the shuffle ONCE at
  * write time, then every join/agg on the bucket key plans zero
  * exchanges. Proven from the physical plan against the identical join
  * over plain parquet. */
class BucketedJoinSpec extends AnyFunSuite with LocalSpark {

  override protected def sparkConf = Seq(
    "spark.sql.warehouse.dir" -> Files.createTempDirectory("bucketed-wh").toString,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    BucketedStore.writeBucketed(
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity"),
      "li_bucketed", "l_orderkey", buckets = 8)
    BucketedStore.writeBucketed(
      spark.read.parquet(s"$dir/orders.parquet")
        .selectExpr("o_orderkey AS l_orderkey", "o_custkey"),
      "ord_bucketed", "l_orderkey", buckets = 8)
  }

  private def shuffles(p: SparkPlan): Int =
    p.collect { case s: ShuffleExchangeExec => s }.size

  test("bucketed-by-key join plans ZERO exchanges; plain parquet pays two") {
    val bucketed = BucketedStore.bucketedJoin(
      spark, "li_bucketed", "ord_bucketed", "l_orderkey")
    assert(shuffles(bucketed.queryExecution.executedPlan) === 0,
      s"bucketed join shuffles:\n${bucketed.queryExecution.executedPlan}")

    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
      .join(spark.read.parquet(s"$dir/orders.parquet")
        .selectExpr("o_orderkey AS l_orderkey", "o_custkey"), "l_orderkey")
    assert(shuffles(plain.queryExecution.executedPlan) === 2,
      "plain join should shuffle both sides")

    // Layout changes the plan, never the answer: full multiset equality,
    // not just cardinality (a layout bug matching wrong rows while
    // preserving counts must fail here).
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity", "o_custkey")
    val b = bucketed.select(cols.head, cols.tail: _*)
    val p = plain.select(cols.head, cols.tail: _*)
    assert(b.exceptAll(p).isEmpty && p.exceptAll(b).isEmpty,
      "bucketed and plain join results differ")
    assert(b.count() > 0L)
  }

  test("aggregation on the bucket key also skips the exchange") {
    val agg = spark.table("li_bucketed")
      .groupBy("l_orderkey").sum("l_quantity")
    assert(shuffles(agg.queryExecution.executedPlan) === 0,
      s"bucketed agg shuffles:\n${agg.queryExecution.executedPlan}")
  }

  test("bucketed edges + unbucketed rank vector: ONLY the rank side shuffles") {
    // The GraphQueries claim made concrete: with the big edge relation
    // bucketed on the join key, an iteration-style join against a small
    // per-node table exchanges exactly ONE side — the small vector.
    // (shuffle.partitions is set to the bucket count so the planner can
    // align the unbucketed side to the bucketed layout.)
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val rank = spark.read.parquet(s"$dir/orders.parquet")
        .selectExpr("o_orderkey AS l_orderkey", "CAST(1 AS BIGINT) AS r")
        .groupBy("l_orderkey").sum("r")
      val joined = spark.table("li_bucketed").join(rank, "l_orderkey")
      val n = shuffles(joined.queryExecution.executedPlan)
      assert(n === 1,
        s"expected exactly one exchange (the rank side), got $n:\n" +
          joined.queryExecution.executedPlan)
      assert(joined.count() > 0L)
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingCoPurchase
import graft.streaming.StreamingCoPurchase.{BasketState, PairRow}

/** The streaming co-purchase fold must land EXACTLY the batch pair
  * supports (d10_basket_rules' `pair` CTE) on the fixture lineitem,
  * through a mid-stream restart that splits orders across waves — the
  * incremental new-item × seen-items emission is what makes each
  * unordered pair of an order emit exactly once with no completion
  * signal. */
class StreamingCoPurchaseSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("unit fold: pairs emit once, duplicates are no-ops, state accrues") {
    val (s1, o1) = StreamingCoPurchase.advance(5L, Seq(10L, 20L, 10L), None)
    assert(s1 == BasketState(Seq(10L, 20L)))
    assert(o1 == Seq(PairRow(10L, 20L)))
    // Second batch: one repeat (no-op) + one new item pairing with BOTH.
    val (s2, o2) = StreamingCoPurchase.advance(5L, Seq(20L, 7L), Some(s1))
    assert(s2 == BasketState(Seq(10L, 20L, 7L)))
    assert(o2 == Seq(PairRow(7L, 10L), PairRow(7L, 20L)))
  }

  test("two-wave stream with restart equals the batch pair supports") {
    val base = Files.createTempDirectory("scopurchase").toString
    val (drop, sink, ckpt) = (s"$base/drop", s"$base/sink", s"$base/ckpt")
    new java.io.File(drop).mkdirs()
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("CAST(l_orderkey AS LONG) AS l_orderkey",
        "CAST(l_partkey AS LONG) AS l_partkey", "l_linenumber")
    // Split mid-BASKET: every order's first lines land in wave 1 and the
    // rest in wave 2, so the restart must resume half-built baskets —
    // the hard case for exactly-once pair emission.
    li.where("l_linenumber <= 3").select("l_orderkey", "l_partkey").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=1")
    StreamingCoPurchase.run(spark, drop, sink, ckpt)
    li.where("l_linenumber > 3").select("l_orderkey", "l_partkey").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$drop/wave=2")
    StreamingCoPurchase.run(spark, drop, sink, ckpt)

    def supports(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = supports(StreamingCoPurchase.pairSupports(spark, sink))
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .createOrReplaceTempView("lineitem")
    val batch = supports(spark.sql(
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |           FROM lineitem)
        |SELECT a.p AS item_a, c.p AS item_b, CAST(count(*) AS BIGINT) AS sab
        |FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
        |GROUP BY a.p, c.p""".stripMargin))
    assert(batch.nonEmpty)
    // The handshake identity: total pairs = sum over orders of C(n,2).
    val handshake = spark.sql(
      """SELECT CAST(sum(n * (n - 1) div 2) AS BIGINT)
        |FROM (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n
        |      FROM lineitem GROUP BY l_orderkey)""".stripMargin)
      .head().getLong(0)
    assert(streamed.values.sum === handshake, "handshake identity broken")
    assert(streamed == batch,
      s"supports diverge: ${streamed.size} streamed vs ${batch.size} batch; " +
        s"sample ${(streamed.toSet diff batch.toSet).take(3)}")
  }
}

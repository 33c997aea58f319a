package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming co-purchase pair maintenance — the incremental feed of
  * `d10_basket_rules`' pair-support table: lineitem rows arrive
  * continuously, each order's DISTINCT item set is folded in state, and
  * every arriving item emits its pairs against the items ALREADY seen in
  * the same order — so each unordered pair of an order emits exactly
  * once, with no completion signal, no windowing, and no replay of the
  * basket (the handshake identity: Σ pairs = Σ C(|basket|, 2)). The
  * drained (item_a, item_b) counts equal the batch pair supports
  * row-for-row, through restarts — `StreamingCoPurchaseSpec` proves it —
  * and the association-rule metrics are one bounded aggregation over
  * this sink plus the item supports (the same arithmetic d10 runs).
  *
  * Scale notes: ONE stateful stage keyed by the order; state = the
  * order's distinct item set (basket-sized — tens of longs, the same
  * bound that makes the batch pair join feasible); emission is
  * incremental so a hot order never re-emits old pairs. A production
  * deployment expires completed orders with an event-time timeout;
  * baskets are bounded so state is too. */
object StreamingCoPurchase {

  final case class ItemIn(orderKey: Long, partKey: Long)

  final case class BasketState(items: Seq[Long])

  final case class PairRow(itemA: Long, itemB: Long)

  /** One order's fold for one micro-batch: emit (min, max)-normalized
    * pairs of each NEW item against all previously-seen items (and the
    * earlier new items of this same batch). Exposed for unit testing. */
  private[graft] def advance(orderKey: Long, incoming: Seq[Long],
      prev: Option[BasketState]): (BasketState, Seq[PairRow]) = {
    val seen = scala.collection.mutable.LinkedHashSet[Long](
      prev.map(_.items).getOrElse(Seq.empty): _*)
    val out = scala.collection.mutable.Buffer[PairRow]()
    incoming.foreach { p =>
      if (!seen.contains(p)) {
        seen.foreach(q => out += PairRow(math.min(p, q), math.max(p, q)))
        seen += p
      }
    }
    (BasketState(seen.toSeq), out.toSeq)
  }

  /** Run the pair stream over a parquet drop directory of
    * (l_orderkey, l_partkey) rows until all dropped files are processed
    * (AvailableNow). Emits one row per (order, unordered item pair),
    * exactly once; restart resumes every basket. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val incoming = MicroBatch.fileSource(spark, "l_orderkey LONG, l_partkey LONG", dropDir)
    val rows = incoming
      .selectExpr("l_orderkey", "l_partkey")
      .as[(Long, Long)]
      .map { case (o, p) => ItemIn(o, p) }
      .groupByKey(_.orderKey)
      .flatMapGroupsWithState[BasketState, PairRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (orderKey: Long, it: Iterator[ItemIn], state: GroupState[BasketState]) =>
          val (next, out) = advance(orderKey, it.map(_.partKey).toSeq,
            state.getOption)
          state.update(next)
          out.iterator
      }
    MicroBatch.drainToParquet(rows.toDF("item_a", "item_b"), sinkDir, checkpointDir)
  }

  /** Pair supports from the append sink — the batch `pair` CTE's shape
    * (item_a < item_b, count of orders containing both). */
  def pairSupports(spark: SparkSession, sinkDir: String): DataFrame = {
    spark.read.parquet(sinkDir).createOrReplaceTempView("cp_sink_t")
    spark.sql(
      """SELECT item_a, item_b, CAST(count(*) AS BIGINT) AS sab
        |FROM cp_sink_t GROUP BY item_a, item_b""".stripMargin)
  }
}

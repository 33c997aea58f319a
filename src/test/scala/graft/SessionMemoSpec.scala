package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{PinnedStages, SessionMemo}

/** `SessionMemo` is the one cross-query memo of the catalog. A
  * between-pass `reset` must leave nothing behind — no entry and no
  * shared checkpoint block — and a second pass over the memoized
  * producer/consumer families (dedup pairs → clusters, shingles → both
  * set sketches, BPE merges → encode, PCA covariance → component chain)
  * must return the first pass's rows. Two consumers of one relation
  * started together on an empty memo build it once. */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("session-memo-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** One query's rows, order-free. */
  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq.sorted

  /** [[rows]], with transient pins swept after it as between catalog
    * queries. */
  private def run(q: String): Seq[String] =
    try rows(q) finally PinnedStages.sweepTransient(spark)

  test("reset drops every entry and shared pin; a second pass returns the same rows") {
    val queries = Seq("dd_minhash_lsh", "dd_cluster", "sk_kmv_intersect",
      "sk_hll_union", "text_bpe_train", "text_bpe_encode", "emb_pca_top2",
      "emb_pca_topk")
    SessionMemo.reset(spark)
    val first = queries.map(q => q -> run(q))
    assert(SessionMemo.size > 0)
    assert(PinnedStages.sharedCount > 0)
    SessionMemo.reset(spark)
    assert(SessionMemo.size == 0)
    assert(PinnedStages.sharedCount == 0)
    val second = queries.map(q => q -> run(q))
    first.zip(second).foreach { case ((q, a), (_, b)) =>
      assert(a.nonEmpty, s"$q returned no rows")
      assert(a == b, s"$q differs after the reset")
    }
    SessionMemo.reset(spark)
  }

  test("concurrent consumers of the shingle relation build it once") {
    val queries = Seq("sk_kmv_intersect", "sk_hll_union")
    SessionMemo.reset(spark)
    val serial = queries.map(run)
    SessionMemo.reset(spark)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val concurrent =
        Await.result(Future.sequence(queries.map(q => Future(rows(q)))), 300.seconds)
      assert(PinnedStages.sharedCount == 1)
      assert(concurrent == serial)
    } finally {
      pool.shutdown()
      SessionMemo.reset(spark)
    }
  }
}

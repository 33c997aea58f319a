package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Thread safety of the partition-preserving pin (r16, VERDICT r15 #7):
  * `sharedCheckpointPartitioned` plans its AQE-off checkpoint on an
  * ISOLATED child session, so (1) the caller session's
  * `spark.sql.adaptive.enabled` is NEVER observed off — the r15
  * set/finally-restore on the shared conf raced concurrent planning —
  * (2) concurrent builds from several threads all succeed, and (3) the
  * returned relation still advertises its hash partitioning (a keyed
  * aggregation over it plans with zero Exchange). */
class PinnedConcurrencySpec extends AnyFunSuite with LocalSpark {

  test("caller-session AQE stays on during concurrent partitioned pins; layout survives") {
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    @volatile var sawOff = false
    @volatile var stop = false
    val watcher = new Thread(() => {
      while (!stop) {
        if (spark.conf.get("spark.sql.adaptive.enabled") != "true") sawOff = true
        Thread.`yield`()
      }
    })
    watcher.start()

    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val pins = Future.sequence((1 to 3).map { i =>
        Future {
          val df = spark.range(20000L * i)
            .select((col("id") % 97).as("k"), col("id").as("v"))
            .repartition(5, col("k")).sortWithinPartitions("k")
          graft.operators.PinnedStages.sharedCheckpointPartitioned(df)
        }
      })
      val pinned = Await.result(pins, 120.seconds)
      stop = true
      watcher.join()
      assert(!sawOff,
        "caller session planned without AQE during a partitioned pin build")
      pinned.foreach { p =>
        // The pin recorded hash(k, 5): a groupBy("k") consumer needs no
        // exchange at all.
        val plan = p.groupBy("k").count().queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"partitioned pin lost its layout — consumer plan re-exchanges:\n$plan")
        assert(p.groupBy("k").count().count() == 97)
      }
      // The pinned relations are registered shared: a transient sweep
      // must leave them readable.
      graft.operators.PinnedStages.sweepTransient(spark)
      pinned.foreach(p => assert(p.count() > 0))
    } finally {
      stop = true
      pool.shutdown()
      graft.operators.PinnedStages.releaseShared(spark)
    }
  }
}

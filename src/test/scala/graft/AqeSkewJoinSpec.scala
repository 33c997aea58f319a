package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join handling — the runtime half of this repo's skew story.
  * The compile-time half is explicit salting (`SaltedAggSpec`,
  * `dd_minhash_lsh_salted`); this spec pins down that the RUNTIME
  * re-plan also works under our session shape: a join with one hot key
  * gets its skewed partition split by AQE instead of serializing one
  * straggler task. Guards against config drift (AQE or skew-join
  * accidentally disabled by a future session-builder change). */
class AqeSkewJoinSpec extends AnyFunSuite with LocalSpark {

  override protected def sparkConf = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Tiny thresholds so test-sized data counts as skewed.
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  test("a hot-key join is split by AQE (skew=true in the final plan)") {
    val ss = spark; import ss.implicits._
    // 50k rows on ONE key + a sprinkle of others vs a small dimension.
    val facts = (1 to 50000).map(i => (1L, s"payload_$i")) ++
      (1 to 200).map(i => (1L + i % 7, s"p$i"))
    val dims = (1L to 8L).map(k => (k, s"dim_$k"))
    val joined = facts.toDF("k", "payload").repartition(4)
      .join(dims.toDF("k", "name"), Seq("k"))
    // Execute THIS DataFrame's own queryExecution (count() would wrap it
    // in a new one and leave this plan unfinalized).
    val n = joined.collect().length
    assert(n == facts.size)
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("skew=true"),
      s"AQE did not split the skewed partition:\n$finalPlan")
  }
}

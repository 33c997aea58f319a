package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The skew-salting pattern (SURVEY §4 / README scale notes): a heavily
  * skewed aggregation key (events has only ~15 user_ids, so one reducer
  * would own a whole key's rows) is salted into N sub-keys, partially
  * aggregated, then re-aggregated — two balanced shuffles instead of one
  * skewed one, with results identical to the direct aggregation. */
class SaltedAggSpec extends AnyFunSuite with LocalSpark {

  test("salted two-phase aggregation equals the direct aggregation") {
    val ev = graft.fixtures.SyntheticCdc.events(spark, "/root/testdata/sf0.001")
    val salted = ev
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("c"), max(col("event_id")).as("m"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("events"), max(col("m")).as("max_event_id"))
    val direct = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("events"), max(col("event_id")).as("max_event_id"))
    assert(salted.except(direct).count() === 0 && direct.except(salted).count() === 0)
    // Both shuffles of the salted plan key on (user_id, salt) then user_id:
    // the first spreads each hot key over 16 reducers.
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(user_id") &&
      plan.contains("salt"))
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, ExpressionUtils}

/** Bridge to Spark's `private[sql]` API: Column ↔ Catalyst Expression,
  * session function registration, and re-homing a DataFrame on a session.
  *
  * `org.apache.spark.sql.classic.ExpressionUtils` is `private[sql]` in
  * Spark 4, so third-party Catalyst expressions need this one-file shim in
  * an `org.apache.spark.sql` subpackage to wrap/unwrap `Column`s. This is
  * the only file outside the `graft` package.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a custom Catalyst expression under a SQL function name for
    * the session (so `spark.sql` text can call it). `sessionState` is
    * `private[sql]`, hence this lives in the bridge. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** `df`'s rows as a DataFrame planned in `spark`: a scan over
    * `df.queryExecution.toRdd`, so every job an action on the result
    * submits runs under `spark`'s artifact state instead of `df`'s.
    * `graft.streaming.MicroBatch.drainEach` re-homes every streaming
    * micro-batch this way; its doc says why. */
  def onSession(spark: SparkSession, df: DataFrame): DataFrame =
    ClassicConversions.castToImpl(spark)
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
}

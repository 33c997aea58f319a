package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CdcQueries

/** SCD Type-2 history build (c12) + point-in-time probe join (c13):
  * the version table must PARTITION each key's change axis — no overlaps,
  * no gaps between an open and its close, exactly one current version for
  * keys whose last event is not a delete — and every PIT probe must land
  * in at most one version. These are the invariants the DuckDB oracle
  * cannot state (it only hash-compares one instantiation).
  */
class Scd2Spec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("versions partition each key's seq axis: no overlap, chain links exactly") {
    val v = CdcQueries.c12Scd2(spark, dir).cache()
    try {
      // Ordered per key, each version must start strictly after the
      // previous one and the previous one's valid_to must be <= the next
      // version's start (a delete between them leaves a gap — allowed;
      // an overlap is not).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("version_seq")
      val overlaps = v
        .withColumn("prev_to", lag(col("valid_to_seq"), 1).over(w))
        .filter(col("prev_to").isNotNull && col("prev_to") > col("version_seq"))
        .count()
      assert(overlaps === 0L, "overlapping versions")

      // Every non-current version closes at a real subsequent event.
      val badClose = v.filter(!col("is_current") &&
        col("valid_to_seq") <= col("version_seq")).count()
      assert(badClose === 0L, "version closing at or before its own start")
    } finally v.unpersist()
  }

  test("exactly one current version per key unless the key ends deleted") {
    val v = CdcQueries.c12Scd2(spark, dir)
    val currentCounts = v.groupBy("user_id")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_current"))
    assert(currentCounts.filter(col("n_current") > 1).count() === 0L)

    // A key with zero current versions must have a delete as its LAST
    // event among {1,2,4} — verify against the raw change log.
    val lastOp = graft.fixtures.SyntheticCdc.changeRows(spark, dir)
      .filter(col("operation").isin(1, 2, 4))
      .groupBy("user_id")
      .agg(max(struct(col("seqval_num"), col("operation"))).as("last"))
      .select(col("user_id"), col("last.operation").as("last_op"))
    val zeroCurrent = currentCounts.filter(col("n_current") === 0)
      .join(lastOp, "user_id")
    assert(zeroCurrent.filter(col("last_op") =!= 1).count() === 0L,
      "key with no current version whose last event is not a delete")
  }

  test("closed_by_delete marks exactly the versions a delete closes") {
    val v = CdcQueries.c12Scd2(spark, dir)
    val deletes = graft.fixtures.SyntheticCdc.changeRows(spark, dir)
      .filter(col("operation") === 1)
      .select(col("user_id"), col("seqval_num").as("del_seq"))
    // Every closed_by_delete version's valid_to_seq must be a real delete
    // event of the same key.
    val orphan = v.filter(col("closed_by_delete"))
      .join(deletes,
        v("user_id") === deletes("user_id") &&
          v("valid_to_seq") === deletes("del_seq"), "left_anti")
      .count()
    assert(orphan === 0L, "closed_by_delete without a matching delete event")
  }

  test("each PIT probe matches at most one version and matches are live") {
    val pit = CdcQueries.c13PointInTime(spark, dir).cache()
    try {
      assert(pit.count() > 0L)
      val dups = pit.groupBy("user_id", "as_of_seq").count()
        .filter(col("count") > 1).count()
      assert(dups === 0L, "probe matched more than one version")
    } finally pit.unpersist()
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GlobalOrder

/** TeraSort-style global rank: the reliable-checkpoint pinning path (the
  * 100 TB-sort configuration, where localCheckpoint's executor-storage
  * materialization is the wrong trade) must produce ranks identical to
  * the default local path. */
class GlobalOrderSpec extends AnyFunSuite with LocalSpark {

  test("reliable checkpoint() path ranks identically to the localCheckpoint default") {
    val ckpt = Files.createTempDirectory("global-order-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    // Keys arrive shuffled (hash of id), with a total order on k.
    val df = spark.range(0, 5000)
      .select((col("id") * 2654435761L % 5000).as("salt"), col("id").as("k"))
      .repartition(8, col("salt"))
      .drop("salt")
    val local = GlobalOrder.withGlobalRank(df, Seq(col("k")), "rank")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set(GlobalOrder.ReliableCheckpointConf, "true")
    val reliable =
      try GlobalOrder.withGlobalRank(df, Seq(col("k")), "rank")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset(GlobalOrder.ReliableCheckpointConf)
    assert(local.size === 5000 && reliable.size === 5000)
    assert(local === reliable)
    // Rank is the dense 1..N enumeration of the key order (k = id here,
    // so rank must be k + 1) — checks correctness, not just agreement.
    assert(local.forall { case (k, rank) => rank === k + 1 })
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SyntheticCdc
import graft.streaming.StreamingScd2
import graft.tools.Scd2Maintain

/** SCD2 maintenance equivalences: the incremental batch tool over any
  * seq-monotone split equals the one-shot build, and the streaming form
  * (through a checkpoint restart) emits exactly the batch operator's
  * closed versions while its state holds exactly the open ones. */
class Scd2MaintainSpec extends AnyFunSuite with LocalSpark {

  private var work: String = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("scd2-maintain").toString
  }

  private def changes: DataFrame =
    SyntheticCdc.changeRows(spark, dir)
      .select("user_id", "seqval_num", "lsn_num", "operation",
        "event_type", "value")

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "version tables differ")
  }

  test("increment over three monotone batches equals the one-shot build") {
    val all = changes.cache()
    try {
      val cut1 = 2000L; val cut2 = 4000L
      val h1 = Scd2Maintain.build(all.filter(col("seqval_num") < cut1))
      val h2 = Scd2Maintain.increment(h1,
        all.filter(col("seqval_num") >= cut1 && col("seqval_num") < cut2))
      val h3 = Scd2Maintain.increment(h2, all.filter(col("seqval_num") >= cut2))
      assertSameRows(h3, Scd2Maintain.build(all))
    } finally all.unpersist()
  }

  test("increment with an empty new batch is the identity") {
    val all = changes
    val h = Scd2Maintain.build(all)
    val h2 = Scd2Maintain.increment(h, all.filter(col("seqval_num") < 0))
    assertSameRows(h2, h)
  }

  test("streaming SCD2 through a restart emits exactly the batch closed versions") {
    val drop = s"$work/drop"; val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    new java.io.File(drop).mkdirs()
    val all = changes.cache()
    try {
      // Wave 1, drain, then RESTART the query for wave 2 (same checkpoint).
      all.filter(col("seqval_num") < 3000).coalesce(1)
        .write.mode("append").parquet(drop)
      StreamingScd2.run(spark, drop, sink, ckpt)
      all.filter(col("seqval_num") >= 3000).coalesce(1)
        .write.mode("append").parquet(drop)
      StreamingScd2.run(spark, drop, sink, ckpt)

      val streamed = StreamingScd2.closedRows(spark, sink)
      val batchClosed = queries.CdcQueries.c12Scd2(spark, dir)
        .filter(!col("is_current"))
        .drop("is_current")
      assertSameRows(streamed, batchClosed)
      // Exactly-once: no version emitted twice across the restart.
      assert(streamed.groupBy("user_id", "version_seq").count()
        .filter(col("count") > 1).count() === 0L)
    } finally all.unpersist()
  }

  test("advance: delete closes without opening; reinsert reopens") {
    import StreamingScd2.{ChangeIn, OpenVersion}
    val (s1, out1) = StreamingScd2.advance(7L, Seq(
      ChangeIn(7L, 10L, 1L, 2, "a", 1.0),
      ChangeIn(7L, 11L, 1L, 1, "x", 0.0),
      ChangeIn(7L, 12L, 2L, 4, "b", 2.0)), None)
    assert(out1.map(v => (v.versionSeq, v.closedByDelete)) ===
      Seq((10L, true)))
    assert(s1 === Some(OpenVersion(12L, 2L, "b", 2.0)))
    // PreUpdate (3) is ignored entirely.
    val (s2, out2) = StreamingScd2.advance(7L,
      Seq(ChangeIn(7L, 13L, 2L, 3, "c", 3.0)), s1)
    assert(out2.isEmpty && s2 === s1)
  }
}

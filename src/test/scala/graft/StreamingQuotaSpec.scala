package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingQuota

/** Streaming token-budget admission: quotas must hold WITHIN a run
  * (across micro-batches) and ACROSS restarts (spent budget recovered
  * from the checkpoint), with the batch operator's boundary rule — a
  * document is admitted iff its tokens START within budget. */
class StreamingQuotaSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("streaming-quota").toString
  }

  private def flattenDrop(drop: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(drop)).filter(_.isDirectory).foreach { d =>
      fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(f => fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(drop, d.getPath.getName + "_" + f.getPath.getName)))
      fs.delete(d.getPath, true)
    }
  }

  test("budgets fill across micro-batches and survive a restart") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drop = s"$work/drop"; val sink = s"$work/verdicts"; val ckpt = s"$work/ckpt"

    // Wave 1: two files → two micro-batches.
    docs.filter(col("doc_id") < 150).coalesce(1).write.parquet(s"$drop/w1")
    docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
      .coalesce(1).write.parquet(s"$drop/w1b")
    flattenDrop(drop)
    StreamingQuota.run(spark, drop, sink, ckpt)

    val w1 = spark.read.parquet(sink).collect()
    assert(w1.nonEmpty)
    // Boundary rule per source: every admitted doc STARTED within budget,
    // every rejected doc found the budget already full. Verify against
    // the strongest invariant: cumAfter - estTokens < quota for admits.
    w1.foreach { r =>
      val q = StreamingQuota.quotaFor(r.getAs[String]("source")).get
      if (r.getAs[Boolean]("admitted"))
        assert(r.getAs[Long]("cumAfter") - r.getAs[Long]("estTokens") < q)
    }
    val spentW1 = spark.read.parquet(sink)
      .groupBy("source").agg(max("cumAfter").as("spent"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // At least one source must have filled (rejections exist) — otherwise
    // the test is vacuous.
    assert(w1.exists(!_.getAs[Boolean]("admitted")), "no source filled its quota")

    // Wave 2 after "restart": more documents for the same sources.
    docs.filter(col("doc_id") >= 300).coalesce(1).write.parquet(s"$drop/w2")
    flattenDrop(drop)
    StreamingQuota.run(spark, drop, sink, ckpt)

    val after = spark.read.parquet(sink)
    // Spent budget is monotone and was RECOVERED, not reset: wave-2
    // admissions start from wave-1's spent level, so no source's final
    // spent can be below its wave-1 level, and any source that was full
    // admits nothing more.
    val spentW2 = after.groupBy("source").agg(max("cumAfter").as("spent"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spentW1.foreach { case (src, s1) =>
      assert(spentW2(src) >= s1, s"$src budget went backwards")
      if (s1 >= StreamingQuota.quotaFor(src).get) {
        val lateAdmits = after.filter(col("source") === src &&
          col("admitted") && col("cumAfter") > s1).count()
        assert(lateAdmits === 0, s"full source $src admitted after restart")
      }
    }
    // The ledger reads cleanly and spent never exceeds quota + one doc.
    StreamingQuota.budgetSummary(spark, sink).collect().foreach { r =>
      val src = r.getAs[String]("source")
      val spent = r.getAs[Long]("budget_spent")
      val maxDoc = after.filter(col("source") === src)
        .agg(max("estTokens")).head().getLong(0)
      assert(spent <= StreamingQuota.quotaFor(src).get + maxDoc)
    }
  }

  test("unconfigured source (quota None) rejects everything and spends nothing") {
    assert(StreamingQuota.quotaFor("not-a-source").isEmpty)
    val st = org.apache.spark.sql.streaming.TestGroupState.create[Long](
      org.apache.spark.api.java.Optional.empty[Long](),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      0L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val out = StreamingQuota.admitBatch(None)(
      Seq(StreamingQuota.DocIn(1L, "not-a-source", 100L, 5L),
        StreamingQuota.DocIn(2L, "not-a-source", 1L, 7L)), st).toList
    assert(out.size === 2 && out.forall(!_.admitted))
    // The ledger stays at 0 spent — "unconfigured", distinguishable from
    // a configured source that exhausted a 0 budget (which cannot occur:
    // configured quotas are positive).
    assert(out.forall(_.cumAfter === 0L))
    assert(st.get === 0L)
  }
}

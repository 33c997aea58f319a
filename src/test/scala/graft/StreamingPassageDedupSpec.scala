package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingPassageDedup

/** Streaming passage dedup: batch-identical confirmed pairs on a drained
  * stream (below the boilerplate cap the two operators agree EXACTLY),
  * cross-restart pairing through the checkpointed anchor state, and the
  * cap's freeze semantics at the unit level. */
class StreamingPassageDedupSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("streaming-passage").toString
  }

  /** Lift each wave's part-files out of its write directory so the file
    * stream sees them (same helper as StreamingQuotaSpec). */
  private def flattenDrop(drop: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(drop)).filter(_.isDirectory).foreach { d =>
      fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(f => fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(drop, d.getPath.getName + "_" + f.getPath.getName)))
      fs.delete(d.getPath, true)
    }
  }

  test("drained stream confirms exactly the batch dd_substring pairs, across a restart") {
    val drop = s"$work/drop"; val sink = s"$work/events"; val ckpt = s"$work/ckpt"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    // Wave 1: the original documents.
    docs.coalesce(1).write.parquet(s"$drop/w1")
    flattenDrop(drop)
    StreamingPassageDedup.run(spark, drop, sink, ckpt)

    // Wave 2 after a "restart": the re-crawled duplicates the batch
    // corpus synthesizes (every 5th doc under doc_id+100000) — their
    // pairs REQUIRE the wave-1 anchor claims recovered from the
    // checkpoint, since each duplicate shares anchors only with its
    // wave-1 original (plus organic overlaps).
    docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .coalesce(1).write.parquet(s"$drop/w2")
    flattenDrop(drop)
    StreamingPassageDedup.run(spark, drop, sink, ckpt)

    val streamed = StreamingPassageDedup.confirmedPairs(spark, sink)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("dd_substring")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(streamed === batch,
      s"stream/batch divergence: only-stream=${(streamed -- batch).take(5)} " +
        s"only-batch=${(batch -- streamed).take(5)}")
  }

  test("observe: co-occurrence fan-out, idempotent re-claims, and the cap freeze") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def st(init: Option[Seq[Long]]) = TestGroupState.create[Seq[Long]](
      init.map(org.apache.spark.api.java.Optional.of[Seq[Long]])
        .getOrElse(org.apache.spark.api.java.Optional.empty[Seq[Long]]()),
      GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)

    // First three claimants of one anchor: 0+1+2 events, canonical order.
    val s1 = st(None)
    val ev = StreamingPassageDedup.observe(7L,
      Seq(3L, 1L, 2L).map(StreamingPassageDedup.AnchorRow(_, 7L)), s1).toList
    assert(ev.map(e => (e.docA, e.docB)) === List((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(s1.get === Seq(1L, 2L, 3L))
    // Replay of a known doc emits nothing and leaves state unchanged.
    val s2 = st(Some(Seq(1L, 2L, 3L)))
    assert(StreamingPassageDedup.observe(7L,
      Seq(StreamingPassageDedup.AnchorRow(2L, 7L)), s2).isEmpty)
    assert(s2.get === Seq(1L, 2L, 3L))
    // At the cap the anchor freezes: no events, no growth.
    val full = (1L to StreamingPassageDedup.BoilerplateCap.toLong).toSeq
    val s3 = st(Some(full))
    assert(StreamingPassageDedup.observe(7L,
      Seq(StreamingPassageDedup.AnchorRow(999L, 7L)), s3).isEmpty)
    assert(s3.get.size === StreamingPassageDedup.BoilerplateCap)
  }
}

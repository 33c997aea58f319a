package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CdcToCorpus

/** The integration contract of the whole repo: documents arriving as CDC
  * changes, streamed exactly-once, compacted, then curated — must yield
  * EXACTLY the curation of the table's true final state, through a
  * mid-history restart (two waves over one checkpoint) and through a
  * no-new-data replay. Takedown deletes must drop out of the curated
  * corpus; re-crawl updates must supersede the original text.
  */
class CdcToCorpusSpec extends AnyFunSuite with LocalSpark {

  override protected def sparkConf = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("stream → compact → curate equals curation of the true final state, through restart and replay") {
    val work = java.nio.file.Files.createTempDirectory("ctc").toString
    // Wave 1: first half of the history (inserts and some updates).
    CdcToCorpus.stageDocFeed(spark, sfDir, s"$work/feed", 6, Some(0 until 3))
    CdcToCorpus.run(spark, s"$work/feed", s"$work/ckpt", s"$work/sink")
    val midState = CdcToCorpus.compactedDocs(spark, s"$work/sink")
    // Mid-history sanity: every doc inserted, no deletes applied yet.
    assert(midState.count() == spark.read.parquet(s"$sfDir/documents.parquet").count())

    // RESTART: wave 2 resumes from the checkpoint (updates + deletes).
    CdcToCorpus.stageDocFeed(spark, sfDir, s"$work/feed", 6, Some(3 until 6))
    CdcToCorpus.run(spark, s"$work/feed", s"$work/ckpt", s"$work/sink")

    val expected = CdcToCorpus.expectedFinalDocs(spark, sfDir)
    val compacted = CdcToCorpus.compactedDocs(spark, s"$work/sink")
    assert(rows(compacted) == rows(expected),
      "compacted stream state diverged from the true final table state")

    val curatedStream = CdcToCorpus.curate(spark, compacted)
    val curatedBatch = CdcToCorpus.curate(spark, expected)
    assert(rows(curatedStream) == rows(curatedBatch),
      "curation of the stream output diverged from batch curation")
    assert(curatedStream.count() > 0, "funnel kept nothing — fixture broken")

    // Deleted docs must be gone from the curated corpus; updated docs
    // must carry the revised token count.
    val curatedIds = curatedStream.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(curatedIds.forall(_ % 13 != 0), "takedown leaked into the corpus")

    // REPLAY: no new data — nothing may change (idempotent sink + ckpt).
    CdcToCorpus.run(spark, s"$work/feed", s"$work/ckpt", s"$work/sink")
    assert(rows(CdcToCorpus.curate(spark,
      CdcToCorpus.compactedDocs(spark, s"$work/sink"))) == rows(curatedBatch),
      "replay with no new data changed the curated corpus")
  }
}

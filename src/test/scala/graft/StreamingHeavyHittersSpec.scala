package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.TestGroupState
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingHeavyHitters
import graft.streaming.StreamingHeavyHitters.{HhReport, MgState}

/** Streaming Misra–Gries heavy hitters: the no-false-negative contract
  * (final streamed report ⊇ the batch operator's exact heavy-hitter
  * set) must hold across micro-batches AND a restart, with per-language
  * state bounded at K counters regardless of stream length. */
class StreamingHeavyHittersSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("streaming-hh").toString
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

  test("foldBatch: report bar admits exactly mg*K > (K/1024 - 1)*n") {
    val state = TestGroupState.create[MgState](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout, 0L,
      org.apache.spark.api.java.Optional.empty(), hasTimedOut = false)
    // 4096 grams: "hot" 100 times, the rest singletons. n = 4096,
    // bar = 3n/K = 3 → hot (100) reports, singletons (1) do not.
    val grams = Seq.fill(100)("hot") ++ (1 to 3996).map(i => s"g$i")
    val out = StreamingHeavyHitters.foldBatch("en", grams.iterator, state).toList
    assert(out.exists(_.gram == "hot"))
    assert(!out.exists(_.gram == "g1"))
    val st = state.get
    assert(st.n == 4096L && st.counts.size <= StreamingHeavyHitters.K)
    assert(st.counts("hot") == 100L)
  }

  test("final report after restart covers the batch-exact heavy hitters") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drop = s"$work/drop"; val sink = s"$work/reports"; val ckpt = s"$work/ckpt"

    // Wave 1: two files → two micro-batches; then STOP (AvailableNow).
    docs.filter(col("doc_id") < 120).coalesce(1).write.parquet(s"$drop/w1")
    docs.filter(col("doc_id") >= 120 && col("doc_id") < 250)
      .coalesce(1).write.parquet(s"$drop/w1b")
    flattenDrop(drop)
    StreamingHeavyHitters.run(spark, drop, sink, ckpt)

    // Wave 2 after "restart": the rest of the corpus; summaries must
    // resume from the checkpointed state, not restart from zero.
    docs.filter(col("doc_id") >= 250).coalesce(1).write.parquet(s"$drop/w2")
    flattenDrop(drop)
    StreamingHeavyHitters.run(spark, drop, sink, ckpt)

    val streamed = StreamingHeavyHitters.latestReport(spark, sink)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

    // Batch-exact heavy hitters over the same corpus.
    val batch = SparkEntry.queries("text_heavy_hitters")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

    assert(batch.nonEmpty)
    val missed = batch.diff(streamed)
    assert(missed.isEmpty,
      s"streamed report must have no false negatives; missed $missed")

    // n recovered across the restart: the final report's nSeen equals
    // the whole corpus's per-lang gram count (state not reset by wave 2).
    val nByLang = StreamingHeavyHitters.latestReport(spark, sink)
      .select("lang", "nSeen").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactN = spark.sql(
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT lang, explode(transform(sequence(1, size(split(text, ' ')) - 1),
         |    i -> i)) FROM parquet.`$sfDir/documents.parquet`
         |  WHERE size(split(text, ' ')) >= 2)
         |GROUP BY lang""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nByLang == exactN, s"nSeen drifted: $nByLang vs $exactN")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CorpusIngest

/** Streaming corpus ingestion: state-store dedup must hold WITHIN a run
  * (across micro-batches) and ACROSS restarts (checkpoint recovery). */
class CorpusIngestSpec extends AnyFunSuite with LocalSpark {

  override protected def sparkConf = Seq("spark.sql.streaming.schemaInference" -> "false")
  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("corpus-ingest").toString
  }

  test("stream dedups across micro-batches and restarts; gate precedes state") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drop = s"$work/drop"; val sink = s"$work/curated"; val ckpt = s"$work/ckpt"

    // Wave 1: two files (two micro-batches at maxFilesPerTrigger=1), the
    // second file re-delivers every 5th document — intra-run duplicates
    // that cross a batch boundary.
    docs.filter(col("doc_id") < 300)
      .coalesce(1).write.parquet(s"$drop/w1")
    docs.filter(col("doc_id") < 300 && col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
      .coalesce(1).write.mode("append").parquet(s"$drop/w1b")
    // The reader globs the drop dir; move files flat.
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(drop)).foreach { d =>
      fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
        .foreach(f => fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(drop, d.getPath.getName + "_" + f.getPath.getName)))
      fs.delete(d.getPath, true)
    }
    CorpusIngest.run(spark, drop, sink, ckpt, minQuality = 0.6)

    val afterW1 = spark.read.parquet(sink)
    // No content hash appears twice: the re-delivered docs were dropped.
    assert(afterW1.groupBy("content_hash").count().filter(col("count") > 1).count() === 0)
    // The quality gate actually rejected something (not vacuous).
    val w1Expected = docs.filter(col("doc_id") < 300)
    assert(afterW1.count() < w1Expected.count())
    val kept = afterW1.count()

    // Wave 2 after "restart": same checkpoint, new file that re-delivers
    // wave-1 documents plus genuinely new ones.
    docs.filter(col("doc_id") >= 300 || col("doc_id") < 50)
      .coalesce(1).write.parquet(s"$drop/w2")
    fs.listStatus(new org.apache.hadoop.fs.Path(drop))
      .filter(_.isDirectory).foreach { d =>
        fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          .foreach(f => fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(drop, d.getPath.getName + "_" + f.getPath.getName)))
        fs.delete(d.getPath, true)
      }
    CorpusIngest.run(spark, drop, sink, ckpt, minQuality = 0.6)

    val afterW2 = spark.read.parquet(sink)
    // Still globally unique — wave-1 repeats were recognized via the
    // RECOVERED state store, not re-admitted.
    assert(afterW2.groupBy("content_hash").count().filter(col("count") > 1).count() === 0)
    assert(afterW2.count() > kept)
    // The admission ledger reads cleanly.
    val summary = CorpusIngest.admissionSummary(spark, sink).collect()
    assert(summary.nonEmpty && summary.forall(_.getLong(1) > 0))
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingNearDup

/** Streaming MinHash/LSH near-dup rejection: exact re-deliveries collide
  * on every band and must be rejected, within a run and across restarts;
  * admitted documents are signature-unique. */
class StreamingNearDupSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("near-dup").toString
  }

  test("near-dups are rejected across batches and restarts") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drop = s"$work/drop"; val sink = s"$work/admitted"; val ckpt = s"$work/ckpt"

    // Wave 1, file A: 200 originals. File B (second micro-batch): every
    // 4th doc re-delivered verbatim under a new id — an exact near-dup
    // (all 4 bands collide) crossing a batch boundary.
    docs.filter(col("doc_id") < 200).coalesce(1)
      .write.parquet(s"$work/a")
    docs.filter(col("doc_id") < 200 && col("doc_id") % 4 === 0)
      .withColumn("doc_id", col("doc_id") + 500000).coalesce(1)
      .write.parquet(s"$work/b")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def drainInto(src: String, name: String): Unit =
      fs.listStatus(new org.apache.hadoop.fs.Path(src))
        .filter(_.getPath.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, i) =>
          fs.mkdirs(new org.apache.hadoop.fs.Path(drop))
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(drop, s"${name}_$i.parquet"))
        }
    drainInto(s"$work/a", "a"); drainInto(s"$work/b", "b")

    StreamingNearDup.run(spark, drop, sink, ckpt)
    val afterW1 = spark.read.parquet(sink)
    // Every re-delivered doc was rejected.
    assert(afterW1.filter(col("doc_id") >= 500000).count() === 0)
    // Admitted docs are signature-unique (the gate's invariant).
    graft.expr.GraftFunctions.register(spark)
    val sigDups = afterW1.join(docs, "doc_id")
      .select(expr("minhash_signature(text)").cast("string").as("sig"))
      .groupBy("sig").count().filter(col("count") > 1).count()
    assert(sigDups === 0)
    val admitted1 = afterW1.count()
    assert(admitted1 > 0 && admitted1 <= 200)

    // Wave 2 after restart: re-deliver 50 wave-1 docs under fresh ids
    // plus 100 genuinely new docs. The claim table must survive the
    // restart: all re-deliveries rejected, new content admitted.
    docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 900000)
      .unionByName(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400))
      .coalesce(1).write.parquet(s"$work/c")
    drainInto(s"$work/c", "c")
    StreamingNearDup.run(spark, drop, sink, ckpt)

    val afterW2 = spark.read.parquet(sink)
    assert(afterW2.filter(col("doc_id") >= 900000).count() === 0,
      "re-delivered content must be rejected via the RECOVERED claim table")
    assert(afterW2.count() > admitted1, "novel content must still be admitted")
  }

  test("a second wave on the same checkpoint compiles no generated classes") {
    // Each run call is a query start, the shape of a restarting service.
    // The second wave's generated code is the first wave's, so it must
    // all come from the codegen cache, the stateful claim stage included.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drop = s"$work/warm_drop"; val sink = s"$work/warm_admitted"
    val ckpt = s"$work/warm_ckpt"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def wave(lo: Int, hi: Int): Long = {
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi).coalesce(1)
        .write.parquet(s"$work/warm_$lo")
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/warm_$lo"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          fs.mkdirs(new org.apache.hadoop.fs.Path(drop))
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(drop, s"w$lo.parquet"))
        }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      StreamingNearDup.run(spark, drop, sink, ckpt)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    }
    wave(0, 150)
    assert(wave(150, 300) === 0L, "the second wave recompiled generated classes")
    assert(spark.read.parquet(sink).filter(col("doc_id") >= 150).count() > 0,
      "the second wave admitted nothing")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingDecontaminate

/** Streaming decontamination: contaminated documents never reach the
  * sink, clean ones always do, and the gate agrees with the batch
  * operator's semantics across micro-batches and restarts. */
class StreamingDecontaminateSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("stream-decon").toString
  }

  test("contaminated docs are blocked across batches and restarts") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drop = s"$work/drop"; val eval = s"$work/eval"
    val sink = s"$work/clean"; val ckpt = s"$work/ckpt"

    // Benchmark slice = the batch operator's doc_id % 11 = 0 rule.
    docs.filter(col("doc_id") % 11 === 0).write.parquet(eval)

    // Wave 1: two files -> two micro-batches.
    docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") < 250)
      .coalesce(1).write.parquet(s"$work/w1")
    docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") >= 250 && col("doc_id") < 350)
      .coalesce(1).write.parquet(s"$work/w2")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def flatten(): Unit =
      fs.listStatus(new org.apache.hadoop.fs.Path(work))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("w"))
        .foreach { d =>
          fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
            .foreach(f => fs.rename(f.getPath,
              new org.apache.hadoop.fs.Path(drop, d.getPath.getName + "_" + f.getPath.getName)))
          fs.delete(d.getPath, true)
        }
    fs.mkdirs(new org.apache.hadoop.fs.Path(drop))
    flatten()
    StreamingDecontaminate.run(spark, drop, eval, sink, ckpt)

    // Model: the batch operator's own hit rule.
    val evalSh = spark.read.parquet(eval)
      .selectExpr("explode(transform(sequence(1, greatest(size(split(text,' ')) - 4, 1)), " +
        "i -> concat_ws(' ', slice(split(text,' '), i, 5)))) AS sh")
      .where("size(split(sh, ' ')) = 5").distinct()
    def contaminatedOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.selectExpr("doc_id",
          "explode(transform(sequence(1, greatest(size(split(text,' ')) - 4, 1)), " +
            "i -> concat_ws(' ', slice(split(text,' '), i, 5)))) AS sh")
        .where("size(split(sh, ' ')) = 5")
        .join(evalSh, "sh").select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet

    val wave1 = docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") < 350)
    val dirty1 = contaminatedOf(wave1)
    val sunk1 = spark.read.parquet(sink).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sunk1.intersect(dirty1).isEmpty, "a contaminated doc reached the sink")
    assert(sunk1 == wave1.collect().map(_.getAs[Long]("doc_id")).toSet -- dirty1)

    // Wave 2 after restart: same checkpoint; only NEW files process.
    docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") >= 350)
      .coalesce(1).write.parquet(s"$work/w3")
    flatten()
    StreamingDecontaminate.run(spark, drop, eval, sink, ckpt)

    val all = docs.filter(col("doc_id") % 11 =!= 0)
    val dirtyAll = contaminatedOf(all)
    val sunk2 = spark.read.parquet(sink).select("doc_id").collect().map(_.getLong(0))
    assert(sunk2.length == sunk2.distinct.length, "restart re-emitted documents")
    assert(sunk2.toSet == all.collect().map(_.getAs[Long]("doc_id")).toSet -- dirtyAll)
  }

  test("a second wave on the same checkpoint compiles no generated classes") {
    // Each run call is a query start, the shape of a restarting service.
    // The second wave's generated code is the first wave's, so it must
    // all come from the codegen cache.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drop = s"$work/warm_drop"; val eval = s"$work/warm_eval"
    val sink = s"$work/warm_clean"; val ckpt = s"$work/warm_ckpt"
    docs.filter(col("doc_id") % 11 === 0).write.parquet(eval)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def wave(lo: Int, hi: Int): Long = {
      docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.parquet(s"$work/warm_$lo")
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/warm_$lo"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .foreach { f =>
          fs.mkdirs(new org.apache.hadoop.fs.Path(drop))
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(drop, s"w$lo.parquet"))
        }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      StreamingDecontaminate.run(spark, drop, eval, sink, ckpt)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
    }
    wave(0, 200)
    assert(wave(200, 400) === 0L, "the second wave recompiled generated classes")
    assert(spark.read.parquet(sink).filter(col("doc_id") >= 200).count() > 0,
      "the second wave admitted nothing")
  }

  test("every run releases the eval-set pin it took") {
    // A restarting service calls run again and again on one session; each
    // call pins the eval shingle set, so each call must also release it.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val drop = s"$work/pin_drop"; val eval = s"$work/pin_eval"
    val sink = s"$work/pin_clean"; val ckpt = s"$work/pin_ckpt"
    docs.filter(col("doc_id") % 11 === 0).write.parquet(eval)
    docs.filter(col("doc_id") % 11 =!= 0 && col("doc_id") < 100).write.parquet(drop)
    graft.operators.PinnedStages.sweepTransient(spark)
    val baseline = spark.sparkContext.getPersistentRDDs.size
    (1 to 3).foreach { call =>
      StreamingDecontaminate.run(spark, drop, eval, sink, ckpt)
      assert(spark.sparkContext.getPersistentRDDs.size === baseline,
        s"run call $call left a pinned RDD behind")
    }
  }
}

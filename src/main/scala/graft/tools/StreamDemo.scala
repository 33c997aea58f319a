package graft.tools

import java.nio.file.Files

import graft.streaming.CdcPipeline

/** CLI driver for the streaming CDC pipeline: stages the synthetic change
  * feed from a testdata dir, runs the Structured Streaming pipeline to a
  * parquet sink, and prints published-log / compacted-state counts.
  *
  * Usage: runMain graft.tools.StreamDemo [sfDir] [workDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = args.lift(1).getOrElse(
      Files.createTempDirectory("graft-stream-demo").toString)
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    val feed = s"$work/feed"; val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    CdcPipeline.stageChangeFeed(spark, sfDir, feed, nChunks = 5)
    CdcPipeline.runToParquet(spark, feed, sink, ckpt)

    val log = spark.read.parquet(s"$sink/log")
    val state = CdcPipeline.compactedState(spark, sink)
    val batches = log.select("batch_id").distinct().count()
    println(s"""{"published": ${log.count()}, "tombstones": ${log.filter("isTombstone").count()}, """ +
      s""""batches": $batches, "state_keys": ${state.count()}, "work": "$work"}""")
    spark.stop()
  }
}

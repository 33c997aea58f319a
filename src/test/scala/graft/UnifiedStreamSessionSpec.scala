package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.UnifiedStream

/** The unified publisher's window writes replace only their own
  * `batch_id` partition, and they do it without touching the caller's
  * session: a session-wide dynamic overwrite mode would silently turn
  * every later partitioned overwrite in that session dynamic. */
class UnifiedStreamSessionSpec extends AnyFunSuite with LocalSpark {

  private val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("unified-session").toString
  }

  private def published(sink: String): Seq[String] =
    spark.read.parquet(sink).collect().map(_.toString).sorted.toSeq

  test("runFromSource leaves the session conf alone; a replayed batch rewrites only its window") {
    val base = s"$work/base"
    // 1,000 changes in three files, drained in 300-row windows.
    Seq((0, 400), (400, 700), (700, 1000)).foreach { case (from, until) =>
      spark.sql(
        s"""SELECT cast(id / 3 + 1 as long) AS lsn_num, cast(id % 3 as int) AS command_id,
           |       cast(id as long) AS seqval_num, cast(2 + id % 3 as int) AS operation,
           |       cast(id as long) AS event_id, cast(id % 70 as long) AS user_id,
           |       'e' AS event_type, cast(id as double) AS value, '' AS props
           |FROM range($from, $until)""".stripMargin)
        .coalesce(1).write.mode("append").parquet(s"$base/events/feed")
    }
    val sink = s"$work/sink"; val ckpt = s"$work/ckpt"
    spark.conf.unset(overwriteMode)
    val before = spark.conf.get(overwriteMode)

    UnifiedStream.runFromSource(spark, base, Seq("events"), sink, ckpt, batchSize = 300)
    assert(spark.conf.get(overwriteMode) === before)
    val first = published(sink)
    val batches = spark.read.parquet(sink).select("batch_id").distinct().count()
    assert(batches >= 3)
    assert(UnifiedStream.orderValidation(spark, sink).count() === 0)

    // Crash after the last window was written but before its commit: the
    // restarted query replays that batch from its offset pair. Only its
    // own partition is overwritten — the other windows stay as published.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val last = commits.maxBy(_.getName.toLong)
    assert(last.delete())
    new java.io.File(s"$ckpt/commits/.${last.getName}.crc").delete()

    UnifiedStream.runFromSource(spark, base, Seq("events"), sink, ckpt, batchSize = 300)
    assert(spark.conf.get(overwriteMode) === before)
    assert(published(sink) === first)
    assert(spark.read.parquet(sink).filter(col("batch_id") === last.getName.toLong)
      .count() > 0)
  }
}

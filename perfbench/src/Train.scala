package graft.perfbench

import java.nio.file.Paths

import graft.streaming.{BrokerSink, CdcPipeline, UnifiedStream}

/** Loads the classes every workload uses, once, so that the build can
  * record them in a JVM class-data archive: each run then starts its
  * session without parsing and verifying them again. It measures
  * nothing. `Train <work dir>` */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(work)
    val spec = FeedSpec(keys = 500, hotKeys = 5, hotShare = 0.5, deleteShare = 0.1,
      snapshotRows = 200, events = 1000)
    val feed = FeedGen.generate(spec, 0L)
    FeedGen.writeWindows(feed.changes, work.resolve("t/feed"), 2000)
    FeedGen.write(feed.snapshot, work.resolve("t/snapshot/snapshot.parquet"))
    UnifiedStream.runFromSource(spark, work.toString, Seq("t"),
      work.resolve("sink").toString, work.resolve("ckpt1").toString)
    UnifiedStream.orderValidation(spark, work.resolve("sink").toString).count()
    CdcPipeline.run(spark, work.resolve("t/feed").toString, work.resolve("ckpt2").toString,
      BrokerSink.transactional("train", "cdc"))
    BrokerSink.compactedState(spark, "train", "cdc").collect()
    val data = work.resolve("catalog")
    CatalogData.generate(data, CatalogMix.dataSeed)
    CatalogMix.mix.foreach { case (_, q) =>
      CatalogMix.digest(graft.SparkEntry.queries(q)(spark, data.toString).collect())
    }
    spark.stop()
  }
}

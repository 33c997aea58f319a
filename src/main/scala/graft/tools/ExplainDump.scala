package graft.tools

import java.nio.file.{Files, Paths}

/** Plan-audit dump (r15): for each named catalog query, write the
  * FORMATTED physical plan of the final DataFrame to
  * `<outDir>/<name>_final.txt`, and — via [[graft.operators.Pin]]'s
  * explain hook — the plan of every stage the query pins to
  * `<outDir>/<name>_pinNN.txt` (the pinned builds are where the
  * interesting plans live; the returned Dataset is often just a block
  * scan over them). Usage:
  * `runMain graft.tools.ExplainDump <sfDir> <outDir> <q1,q2,...>`.
  * Runs at the given SF so join strategies (broadcast thresholds, AQE
  * decisions) are the ones the bench actually sees. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val names = args(2).split(',').toSeq
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    spark.conf.set(graft.operators.Pin.ExplainDirKey, outDir)
    names.foreach { name =>
      spark.conf.set(graft.operators.Pin.ExplainTagKey, name)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/${name}_final.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      graft.operators.PinnedStages.sweepTransient(spark)
      println(s"[explaindump] $name done")
    }
    spark.stop()
  }
}

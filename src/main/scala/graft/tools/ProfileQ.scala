package graft.tools
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(','))
    // Extra session confs come in as Spark's own `spark.*` JVM properties:
    // sbt 'set javaOptions += "-Dspark.sql.adaptive.enabled=false"' \
    //   "runMain graft.tools.ProfileQ <sfDir> <q1,q2>"
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.conf.set(graft.operators.Pin.TimeKey, "true")
    (1 to 2).foreach { pass =>
      names.foreach { n =>
        spark.conf.set(graft.operators.Pin.ExplainTagKey, n)
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val cnt = df.count()
        val tAll = (System.nanoTime() - t0) / 1e9
        println(f"[profileq] pass$pass $n rows=$cnt build=$tBuild%.3f total=$tAll%.3f")
        graft.operators.PinnedStages.sweepTransient(spark)
      }
      graft.operators.SessionMemo.reset(spark)
    }
    spark.stop()
  }
}

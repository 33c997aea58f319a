package graft.tools

/** Dev helper: print the formatted physical plan of one catalog query and
  * time N evaluations — the `.explain`-and-iterate loop the build rules
  * prescribe, packaged. Usage:
  *   runMain graft.tools.PlanProbe <sfDir> <queryName> [passes=2] [explain=1]
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2
    val doExplain = args.length <= 3 || args(3) == "1"
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    (1 to passes).foreach { p =>
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val n = df.count()
      println(f"[probe] pass $p: $name -> $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (p == 1 && doExplain) df.explain("formatted")
      graft.operators.PinnedStages.sweepTransient(spark)
    }
    spark.stop()
  }
}

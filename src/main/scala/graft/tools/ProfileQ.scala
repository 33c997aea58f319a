package graft.tools
import org.apache.spark.sql.SparkSession
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(','))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set(graft.operators.Pin.TimeKey, "true")
    // Dev knob: extra session confs, e.g.
    // SPARK_GRAFT_PROFILE_CONF="spark.sql.adaptive.enabled=false"
    sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach(_.split(';')
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
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

package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft process builds its local Spark session: every
  * main, tool and spec starts here, so a session-wide decision (a static
  * conf that must exist before the first `SparkContext`) is made once.
  *
  * `local[cpus]` with one shuffle partition per core, a UTC session time
  * zone and no web UI. The `conf` pairs are applied last, so they win
  * over those defaults; static confs (`spark.sql.extensions`,
  * `spark.sql.warehouse.dir`) go here too. Logs at WARN. */
object GraftSession {

  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val spark = (defaults ++ conf)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite's own local session from [[GraftSession.local]]: built in
  * `beforeAll`, stopped in `afterAll`. Override `cpus` and `sparkConf`
  * for the suite's core count and extra confs; a suite with more set-up
  * calls `super.beforeAll()` first. */
trait LocalSpark extends BeforeAndAfterAll { this: Suite =>

  protected def cpus: Int = 4
  protected def sparkConf: Seq[(String, String)] = Nil
  protected var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = GraftSession.local(cpus, sparkConf: _*)
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop()
    finally super.afterAll()
}

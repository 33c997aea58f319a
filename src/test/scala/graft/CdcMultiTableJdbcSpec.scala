package graft

import java.nio.file.Files
import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AnsiTranspile.hex20
import graft.streaming.CdcPipeline

/** The multi-table scheduler over the LIVE JDBC backend: the same fleet
  * (a snapshotting table + a lagging table) loaded into both embedded
  * Derby and the parquet layout must drain through identical batches —
  * the round-6 JDBC mode and the round-6 global scheduler composed. */
class CdcMultiTableJdbcSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val jdbcUrl = "jdbc:derby:memory:graftfleet"
  private var work: String = _
  private var conn: Connection = _
  private val batchSize = 100

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("cdc-multi-jdbc").toString
    conn = DriverManager.getConnection(s"$jdbcUrl;create=true")
    val st = conn.createStatement()
    st.executeUpdate("""CREATE SCHEMA "cdc"""")

    def createCt(name: String): Unit = st.executeUpdate(
      s"""CREATE TABLE "cdc"."${name}_CT" (
         |  "__$$start_lsn" CHAR(20) NOT NULL,
         |  "__$$command_id" INT NOT NULL,
         |  "__$$seqval" CHAR(20) NOT NULL,
         |  "__$$operation" INT NOT NULL,
         |  "event_id" BIGINT, "user_id" BIGINT, "event_type" VARCHAR(32),
         |  "value" DOUBLE, "props" VARCHAR(64))""".stripMargin)
    createCt("events"); createCt("orders")
    st.executeUpdate(
      """CREATE TABLE "dbo"."orders_snap" (
        |  "user_id" BIGINT NOT NULL, "event_id" BIGINT NOT NULL,
        |  "event_type" VARCHAR(8), "value" DOUBLE, "props" VARCHAR(32))""".stripMargin)
    st.close()

    // Table "events": a 1000-row backlog (lagging from trigger 1).
    CdcPipeline.stageChangeFeed(spark, sfDir, s"$work/events/feed", nChunks = 1)
    insertCt("events", spark.read.parquet(s"$work/events/feed"))

    // Table "orders": 1500-row snapshot + a 7-row change tail.
    val snapDf = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(lit(0L).as("lsn_num"), lit(0).as("command_id"),
        lit(0L).as("seqval_num"), lit(0).as("operation"),
        col("o_orderkey").as("event_id"), col("o_orderkey").as("user_id"),
        col("o_orderstatus").as("event_type"), col("o_totalprice").as("value"),
        col("o_orderpriority").as("props"))
    snapDf.coalesce(2).write.mode("overwrite").parquet(s"$work/orders/snapshot")
    val insS = conn.prepareStatement(
      """INSERT INTO "dbo"."orders_snap" VALUES (?, ?, ?, ?, ?)""")
    snapDf.collect().foreach { r =>
      insS.setLong(1, r.getLong(5)); insS.setLong(2, r.getLong(4))
      insS.setString(3, r.getString(6)); insS.setDouble(4, r.getDouble(7))
      insS.setString(5, r.getString(8)); insS.addBatch()
    }
    insS.executeBatch(); insS.close()
    val ordersFeed = spark.sql(
      """SELECT cast(id + 1 as long) AS lsn_num, 0 AS command_id,
        |       cast(id as long) AS seqval_num, 4 AS operation,
        |       cast(id as long) AS event_id, cast(id as long) AS user_id,
        |       'U' AS event_type, cast(id as double) AS value, '' AS props
        |FROM range(7)""".stripMargin)
    ordersFeed.coalesce(1).write.mode("overwrite").parquet(s"$work/orders/feed")
    insertCt("orders", ordersFeed)
  }

  private def insertCt(table: String, rows: DataFrame): Unit = {
    val ins = conn.prepareStatement(
      s"""INSERT INTO "cdc"."${table}_CT" VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)""")
    rows.collect().foreach { r =>
      ins.setString(1, hex20(r.getLong(0))); ins.setInt(2, r.getInt(1))
      ins.setString(3, hex20(r.getLong(2))); ins.setInt(4, r.getInt(3))
      ins.setLong(5, r.getLong(4)); ins.setLong(6, r.getLong(5))
      ins.setString(7, r.getString(6)); ins.setDouble(8, r.getDouble(7))
      ins.setString(9, r.getString(8)); ins.addBatch()
    }
    ins.executeBatch(); ins.close()
  }

  override def afterAll(): Unit = {
    if (conn != null) conn.close()
    try DriverManager.getConnection(s"$jdbcUrl;drop=true")
    catch { case _: java.sql.SQLException => () }
    super.afterAll()
  }

  private def runFleet(sink: String, ckpt: String,
      options: Map[String, String]): Unit = {
    val reader = spark.readStream.format("graft.sources.CdcMultiTableProvider")
      .option("tables", "orders,events")
      .option("batchSize", batchSize.toString)
    val q = options.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.sparkSession.conf
          .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id").parquet(sink)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  test("the JDBC fleet matches the parquet fleet batch-for-batch, lagging table first") {
    runFleet(s"$work/sinkP", s"$work/ckptP", Map("baseDir" -> work))
    runFleet(s"$work/sinkJ", s"$work/ckptJ", Map(
      "jdbcUrl" -> jdbcUrl, "snapshotTable.orders" -> "dbo.orders_snap"))

    val p = spark.read.parquet(s"$work/sinkP")
    val j = spark.read.parquet(s"$work/sinkJ")
    assert(p.count() === j.count())
    assert(p.except(j).count() === 0 && j.except(p).count() === 0)
    assert(j.count() === 1500 + 1000 + 7)

    // The global scheduler held over JDBC: events' backlog (lagging from
    // trigger 1) drains before any orders snapshot page commits.
    val lastEventsFull = j.filter(col("table_name") === "events")
      .groupBy("batch_id").count()
      .filter(col("count") === batchSize.toLong)
      .agg(max("batch_id")).head().getAs[Number](0).longValue()
    val firstOrdersPage = j
      .filter(col("table_name") === "orders" && col("operation") === 0)
      .agg(min("batch_id")).head().getAs[Number](0).longValue()
    assert(lastEventsFull < firstOrdersPage,
      s"snapshot page $firstOrdersPage ran before the backlog drained at $lastEventsFull")
  }
}

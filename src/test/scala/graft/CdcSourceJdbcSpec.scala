package graft

import java.nio.file.Files
import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AnsiTranspile.hex20
import graft.streaming.CdcPipeline

/** The DSv2 CDC source's JDBC mode (round-6 integration): the SAME
  * offset/admission mechanics as the parquet mode, but boundary probes
  * and partition reads issue [[graft.sources.SqlServerDialect]]'s keyset
  * SQL against a LIVE embedded database (Derby, via the Derby-proven
  * [[graft.sources.AnsiTranspile]]). Every scenario loads one fixture
  * into BOTH backends and asserts the two modes produce identical rows —
  * including identical batch assignment, since the boundary probes must
  * pick the same page edges (reference polling shapes:
  * `cdc_kafka/sql_queries.py:218-309,312-367`,
  * `tracked_tables.py:263-352`).
  */
class CdcSourceJdbcSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private val jdbcUrl = "jdbc:derby:memory:graftsrc"
  private var work: String = _
  private var conn: Connection = _

  // One change row with NULL value columns rides along in BOTH backends:
  // CDC value columns are nullable by construction (SURVEY §1.2), and the
  // readers must surface NULL, not throw (round-5 finding: the parquet
  // Group reader crashed on a null props).
  private val nullRow =
    (200L, 0, 2000L, 2, 2000L, 42L, null: String, null: java.lang.Double, null: String)

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("cdc-source-jdbc").toString

    // Parquet backend fixture: the staged feed plus the null-bearing row.
    CdcPipeline.stageChangeFeed(spark, sfDir, s"$work/feed", nChunks = 2)
    spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          nullRow._1, nullRow._2, nullRow._3, nullRow._4, nullRow._5,
          nullRow._6, nullRow._7, nullRow._8, nullRow._9)),
        graft.sources.CdcTableProvider.schema)
      .coalesce(1).write.mode("append").parquet(s"$work/feed")

    // JDBC backend fixture: the same rows in a live change table.
    conn = DriverManager.getConnection(s"$jdbcUrl;create=true")
    val st = conn.createStatement()
    st.executeUpdate("""CREATE SCHEMA "cdc"""")
    st.executeUpdate(
      """CREATE TABLE "cdc"."events_CT" (
        |  "__$start_lsn" CHAR(20) NOT NULL,
        |  "__$command_id" INT NOT NULL,
        |  "__$seqval" CHAR(20) NOT NULL,
        |  "__$operation" INT NOT NULL,
        |  "event_id" BIGINT, "user_id" BIGINT, "event_type" VARCHAR(32),
        |  "value" DOUBLE, "props" VARCHAR(64))""".stripMargin)
    st.close()
    val rows = spark.read.parquet(s"$work/feed").collect()
    val ins = conn.prepareStatement(
      """INSERT INTO "cdc"."events_CT" VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)""")
    rows.foreach { r =>
      ins.setString(1, hex20(r.getLong(0))); ins.setInt(2, r.getInt(1))
      ins.setString(3, hex20(r.getLong(2))); ins.setInt(4, r.getInt(3))
      ins.setLong(5, r.getLong(4)); ins.setLong(6, r.getLong(5))
      if (r.isNullAt(6)) ins.setNull(7, java.sql.Types.VARCHAR)
      else ins.setString(7, r.getString(6))
      if (r.isNullAt(7)) ins.setNull(8, java.sql.Types.DOUBLE)
      else ins.setDouble(8, r.getDouble(7))
      if (r.isNullAt(8)) ins.setNull(9, java.sql.Types.VARCHAR)
      else ins.setString(9, r.getString(8))
      ins.addBatch()
    }
    ins.executeBatch(); ins.close()

    // Snapshot dimension fixture (orders): parquet staging dir + live
    // base table with the same rows, composite pk (user_id, event_id).
    val snapDf = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(lit(0L).as("lsn_num"), lit(0).as("command_id"),
        lit(0L).as("seqval_num"), lit(0).as("operation"),
        col("o_orderkey").as("event_id"), col("o_orderkey").as("user_id"),
        col("o_orderstatus").as("event_type"), col("o_totalprice").as("value"),
        col("o_orderpriority").as("props"))
    snapDf.coalesce(2).write.mode("overwrite").parquet(s"$work/snapshot")
    val st2 = conn.createStatement()
    st2.executeUpdate(
      """CREATE TABLE "dbo"."orders_snap" (
        |  "user_id" BIGINT NOT NULL, "event_id" BIGINT NOT NULL,
        |  "event_type" VARCHAR(8), "value" DOUBLE, "props" VARCHAR(32))""".stripMargin)
    st2.close()
    val insS = conn.prepareStatement(
      """INSERT INTO "dbo"."orders_snap" VALUES (?, ?, ?, ?, ?)""")
    snapDf.collect().foreach { r =>
      insS.setLong(1, r.getLong(5)); insS.setLong(2, r.getLong(4))
      insS.setString(3, r.getString(6)); insS.setDouble(4, r.getDouble(7))
      insS.setString(5, r.getString(8)); insS.addBatch()
    }
    insS.executeBatch(); insS.close()
  }

  override def afterAll(): Unit = {
    if (conn != null) conn.close()
    try DriverManager.getConnection(s"$jdbcUrl;drop=true")
    catch { case _: java.sql.SQLException => () } // drop "fails" with 08006
    super.afterAll()
  }

  private def runStream(sink: String, ckpt: String,
      options: Map[String, String]): Unit = {
    val reader = spark.readStream.format("graft.sources.CdcTableProvider")
      .option("tableName", "events").option("batchSize", "300")
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

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() === b.count())
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("JDBC change scan matches the parquet path row-for-row, batch-for-batch") {
    runStream(s"$work/sinkP", s"$work/ckptP",
      Map("feedDir" -> s"$work/feed"))
    runStream(s"$work/sinkJ", s"$work/ckptJ",
      Map("jdbcUrl" -> jdbcUrl, "captureInstance" -> "events"))

    val p = spark.read.parquet(s"$work/sinkP")
    val j = spark.read.parquet(s"$work/sinkJ")
    // Identical rows AND identical batch assignment: the two backends'
    // boundary probes must pick the same window edges.
    assertSameRows(p, j)
    assert(j.count() === 1001)
    // Pacing held on the JDBC side too.
    val sizes = j.groupBy("batch_id").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 300) && sizes.length >= 4)
  }

  test("NULL value columns surface as NULL through both backends") {
    val j = spark.read.parquet(s"$work/sinkJ").filter(col("event_id") === 2000L)
    val p = spark.read.parquet(s"$work/sinkP").filter(col("event_id") === 2000L)
    Seq(j, p).foreach { df =>
      val r = df.select("event_type", "value", "props", "user_id").head()
      assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
      assert(r.getLong(3) === 42L)
    }
  }

  test("JDBC snapshot backfill + changes match the parquet path, pages drain first") {
    runStream(s"$work/sinkPS", s"$work/ckptPS",
      Map("feedDir" -> s"$work/feed", "snapshotDir" -> s"$work/snapshot"))
    runStream(s"$work/sinkJS", s"$work/ckptJS",
      Map("jdbcUrl" -> jdbcUrl, "captureInstance" -> "events",
        "snapshotTable" -> "dbo.orders_snap"))

    val p = spark.read.parquet(s"$work/sinkPS")
    val j = spark.read.parquet(s"$work/sinkJS")
    assertSameRows(p, j)

    // The interleaving policy holds in JDBC mode: every snapshot page
    // commits before the first change window (E6/G3).
    val snapMax = j.filter(col("operation") === 0)
      .agg(max("batch_id")).head().getAs[Number](0).longValue()
    val changeMin = j.filter(col("operation") =!= 0)
      .agg(min("batch_id")).head().getAs[Number](0).longValue()
    assert(snapMax < changeMin)
    // Pages walk the key space strictly downward (reverse keyset).
    val pageBounds = j.filter(col("operation") === 0)
      .groupBy("batch_id")
      .agg(min("user_id").as("lo"), max("user_id").as("hi"), count(lit(1)).as("n"))
      .orderBy("batch_id").collect()
    assert(pageBounds.forall(_.getAs[Number](3).longValue() <= 300))
    pageBounds.sliding(2).foreach {
      case Array(a, b) => assert(
        b.getAs[Number](2).longValue() < a.getAs[Number](1).longValue(),
        s"pages must descend: $a then $b")
      case _ => ()
    }
    // The completed-snapshot sentinel reached the offset log (G3).
    val offsetFiles = new java.io.File(s"$work/ckptJS/offsets")
      .listFiles().sortBy(_.getName)
    val last = scala.io.Source.fromFile(offsetFiles.last).getLines().toSeq.last
    assert(last.contains("\"done\""), last)
  }

  test("JDBC restart resumes from the checkpoint with no duplicates") {
    runStream(s"$work/sinkJ", s"$work/ckptJ",
      Map("jdbcUrl" -> jdbcUrl, "captureInstance" -> "events"))
    assert(spark.read.parquet(s"$work/sinkJ").count() === 1001)
  }
}

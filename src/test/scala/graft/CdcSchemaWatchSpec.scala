package graft

import java.nio.file.Files
import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AnsiTranspile.hex20

/** G6 exercised IN-STREAM: a capture-instance schema change under a
  * running (or restarted) JDBC-mode query terminates it with the
  * re-snapshot decision in the message — the reference's
  * detect-and-terminate answer (`main.py:358-409`), not a silent
  * mis-projection. */
class CdcSchemaWatchSpec extends AnyFunSuite with LocalSpark {

  private val jdbcUrl = "jdbc:derby:memory:graftevo"
  private var work: String = _
  private var conn: Connection = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("cdc-schema-watch").toString
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
    val ins = conn.prepareStatement(
      """INSERT INTO "cdc"."events_CT" VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)""")
    (0 until 20).foreach { i =>
      ins.setString(1, hex20(i / 8L)); ins.setInt(2, 0)
      ins.setString(3, hex20(i.toLong)); ins.setInt(4, 2)
      ins.setLong(5, i.toLong); ins.setLong(6, i % 5L)
      ins.setString(7, "e"); ins.setDouble(8, i.toDouble); ins.setString(9, "")
      ins.addBatch()
    }
    ins.executeBatch(); ins.close()
  }

  override def afterAll(): Unit = {
    if (conn != null) conn.close()
    try DriverManager.getConnection(s"$jdbcUrl;drop=true")
    catch { case _: java.sql.SQLException => () }
    super.afterAll()
  }

  private def runStream(sink: String, ckpt: String): Unit = {
    val q = spark.readStream.format("graft.sources.CdcTableProvider")
      .option("jdbcUrl", jdbcUrl)
      .option("captureInstance", "events")
      .option("tableName", "events")
      .option("batchSize", "8")
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
    try q.processAllAvailable() finally q.stop()
  }

  test("a mid-life ALTER TABLE terminates the query with the G6 decision, not a mis-projection") {
    // Healthy first run.
    runStream(s"$work/sink", s"$work/ckpt")
    assert(spark.read.parquet(s"$work/sink").count() === 20)

    // The capture instance gains a column (all-NULL, freshly added).
    val st = conn.createStatement()
    st.executeUpdate("""ALTER TABLE "cdc"."events_CT" ADD COLUMN "extra" INT""")
    st.close()

    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream(s"$work/sink", s"$work/ckpt")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("schema changed under a running query"), all)
    // Freshly-added all-NULL nullable column: the G6 decision says no
    // re-snapshot needed — but the query still terminates for restart.
    assert(all.contains("Re-snapshot decision: false"), all)

    // A NON-NULL value appearing in the new column flips the decision.
    val st2 = conn.createStatement()
    st2.executeUpdate("""UPDATE "cdc"."events_CT" SET "extra" = 7 WHERE "event_id" = 3""")
    st2.close()
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream(s"$work/sink", s"$work/ckpt")
    }
    val all2 = messages(e2).mkString("\n")
    assert(all2.contains("Re-snapshot decision: true"), all2)
    assert(all2.contains("non-null"), all2)
  }

  test("a NEWER capture instance terminates the query under terminateOnCaptureInstanceChange; older ones and the default flag do not") {
    val st = conn.createStatement()
    st.executeUpdate(
      """CREATE TABLE "cdc"."orders_CT" (
        |  "__$start_lsn" CHAR(20) NOT NULL,
        |  "__$command_id" INT NOT NULL,
        |  "__$seqval" CHAR(20) NOT NULL,
        |  "__$operation" INT NOT NULL,
        |  "event_id" BIGINT, "user_id" BIGINT, "event_type" VARCHAR(32),
        |  "value" DOUBLE, "props" VARCHAR(64))""".stripMargin)
    // Mirrored CDC catalog (unquoted columns: the generated query
    // references them unquoted, so both sides fold to Derby uppercase).
    st.executeUpdate(
      """CREATE TABLE "cdc"."change_tables" (
        |  source_object_id INT, capture_instance VARCHAR(128),
        |  create_date TIMESTAMP, start_lsn VARCHAR(22))""".stripMargin)
    st.executeUpdate("""INSERT INTO "cdc"."change_tables" VALUES
      (42, 'orders', TIMESTAMP('2024-01-01 00:00:00'), '00000000000000010000')""")
    st.close()
    val ins = conn.prepareStatement(
      """INSERT INTO "cdc"."orders_CT" VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)""")
    (0 until 6).foreach { i =>
      ins.setString(1, hex20(i.toLong)); ins.setInt(2, 0)
      ins.setString(3, hex20(i.toLong)); ins.setInt(4, 2)
      ins.setLong(5, i.toLong); ins.setLong(6, i.toLong)
      ins.setString(7, "o"); ins.setDouble(8, i.toDouble); ins.setString(9, "")
      ins.addBatch()
    }
    ins.executeBatch(); ins.close()

    def run(watch: Boolean): Unit = {
      val q = spark.readStream.format("graft.sources.CdcTableProvider")
        .option("jdbcUrl", jdbcUrl)
        .option("captureInstance", "orders")
        .option("tableName", "orders")
        .option("batchSize", "8")
        .option("terminateOnCaptureInstanceChange", watch.toString)
        .load()
        .writeStream
        .option("checkpointLocation", s"$work/ckpt_ci")
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.sparkSession.conf
            .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite").partitionBy("batch_id")
            .parquet(s"$work/sink_ci")
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // Healthy: ours is the latest (and only) instance.
    run(watch = true)
    assert(spark.read.parquet(s"$work/sink_ci").count() === 6)

    // An OLDER coexisting instance (we already migrated past it) must
    // NOT fire the watch.
    val st2 = conn.createStatement()
    st2.executeUpdate("""INSERT INTO "cdc"."change_tables" VALUES
      (42, 'orders_v0', TIMESTAMP('2023-01-01 00:00:00'), '00000000000000000000')""")
    st2.close()
    run(watch = true)

    // A create_date TIE (SQL Server stores ~3ms precision, so a new
    // instance can land in the same instant) must break toward the
    // higher start_lsn — the newer instance — not nondeterministically
    // return the followed one and miss the switch forever (ADVICE r7).
    val stTie = conn.createStatement()
    stTie.executeUpdate("""INSERT INTO "cdc"."change_tables" VALUES
      (42, 'orders_tied', TIMESTAMP('2024-01-01 00:00:00'), '00000000000000018000')""")
    stTie.close()
    def messagesOf(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messagesOf(t.getCause)
    val eTie = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(watch = true)
    }
    assert(messagesOf(eTie).mkString("\n").contains("newer capture instance 'orders_tied'"))
    val stTie2 = conn.createStatement()
    stTie2.executeUpdate(
      """DELETE FROM "cdc"."change_tables" WHERE capture_instance = 'orders_tied'""")
    stTie2.close()

    // A NEWER instance for the same source table terminates for
    // supervisor restart...
    val st3 = conn.createStatement()
    st3.executeUpdate("""INSERT INTO "cdc"."change_tables" VALUES
      (42, 'orders_v2', TIMESTAMP('2025-06-01 00:00:00'), '00000000000000020000')""")
    st3.close()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(watch = true)
    }
    val all = messages(e).mkString("\n")
    assert(all.contains("newer capture instance 'orders_v2'"), all)
    // ...and the flag's default (off, like the reference) leaves the
    // same catalog state running.
    run(watch = false)
  }
}

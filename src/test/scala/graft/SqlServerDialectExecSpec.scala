package graft

import java.sql.{Connection, DriverManager}

import scala.math.Ordering.Implicits._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.TrackedFieldMeta
import graft.sources.SqlServerDialect

/** Executes the dialect's generated SQL against a LIVE embedded database
  * (Derby, which ships in the Spark distribution) — the round-trip the
  * unit tests can't give: if the generated text stopped parsing, stopped
  * seek-paging completely, or drifted from the parquet-path semantics,
  * this spec fails (reference behavior `cdc_kafka/sql_queries.py:218-309`).
  *
  * Derby speaks ANSI, not T-SQL, so the spec applies a MECHANICAL
  * transpile to the real generated text — substitute the DECLARE binds
  * with literals, `TOP (n)` → `FETCH FIRST n ROWS ONLY`, strip lock
  * hints, `[x]` → `"x"`, quote the `__$`/`__` system identifiers — and
  * nothing else: the query STRUCTURE (the 3-branch UNION ALL seek
  * decomposition, the keyset predicates, the ordering) executes as
  * generated. LSN/seqval land as fixed-width hex CHAR(20), whose
  * lexicographic order is exactly the binary order (the same property the
  * reference relies on for its hex-rendered LSNs).
  */
class SqlServerDialectExecSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var conn: Connection = _

  private val valueFields = Seq("user_id", "event_type", "value", "props")
  private val nFixture = 2000

  override def beforeAll(): Unit = {
    super.beforeAll()
    conn = DriverManager.getConnection("jdbc:derby:memory:graftdb;create=true")
    loadFixture()
  }

  override def afterAll(): Unit = {
    if (conn != null) conn.close()
    try DriverManager.getConnection("jdbc:derby:memory:graftdb;drop=true")
    catch { case _: java.sql.SQLException => () } // drop "fails" with 08006
    super.afterAll()
  }

  // ---- T-SQL -> Derby mechanical transpile: shared with the source's
  // JDBC mode (graft.sources.AnsiTranspile), proven here first.
  private def transpile(tsql: String, binds: Seq[String]): String =
    graft.sources.AnsiTranspile(tsql, binds)

  private def hex20(n: Long): String = graft.sources.AnsiTranspile.hex20(n)
  private def lit(s: String): String = graft.sources.AnsiTranspile.lit(s)

  // ---- fixture: the synthetic change table, loaded over JDBC --------

  private def loadFixture(): Unit = {
    val st = conn.createStatement()
    st.executeUpdate("""CREATE SCHEMA "cdc"""")
    st.executeUpdate(
      """CREATE TABLE "cdc"."events_CT" (
        |  "__$start_lsn" CHAR(20) NOT NULL,
        |  "__$command_id" INT NOT NULL,
        |  "__$seqval" CHAR(20) NOT NULL,
        |  "__$operation" INT NOT NULL,
        |  "__$update_mask" VARCHAR(8),
        |  "user_id" BIGINT, "event_type" VARCHAR(32),
        |  "value" DOUBLE, "props" VARCHAR(64))""".stripMargin)
    // start_lsn/tran_end_time are referenced UNQUOTED by the generated
    // join (`ltm.start_lsn`) — create them unquoted so Derby's uppercase
    // folding matches on both sides.
    st.executeUpdate(
      """CREATE TABLE "cdc"."lsn_time_mapping" (
        |  start_lsn CHAR(20) NOT NULL, tran_end_time TIMESTAMP)""".stripMargin)
    // A snapshot-side table with a COMPOSITE pk to exercise the expanded
    // keyset branches (user_id is non-unique; event_id breaks ties).
    st.executeUpdate(
      """CREATE TABLE "dbo"."events" (
        |  "user_id" BIGINT NOT NULL, "event_id" BIGINT NOT NULL,
        |  "event_type" VARCHAR(32), "value" DOUBLE)""".stripMargin)
    st.close()

    val rows = graft.fixtures.SyntheticCdc.changeRows(spark, sfDir)
      .filter(col("event_id") < nFixture)
      .select("lsn_num", "command_id", "seqval_num", "operation", "mask_int",
        "user_id", "event_type", "value", "props", "ts")
      .collect()
    val ins = conn.prepareStatement(
      """INSERT INTO "cdc"."events_CT" VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)""")
    rows.foreach { r =>
      ins.setString(1, hex20(r.getLong(0))); ins.setInt(2, r.getInt(1))
      ins.setString(3, hex20(r.getLong(2))); ins.setInt(4, r.getInt(3))
      ins.setString(5, r.getInt(4).toString); ins.setLong(6, r.getLong(5))
      ins.setString(7, r.getString(6)); ins.setDouble(8, r.getDouble(7))
      ins.setString(9, r.getString(8)); ins.addBatch()
    }
    ins.executeBatch(); ins.close()

    val ltm = conn.prepareStatement(
      """INSERT INTO "cdc"."lsn_time_mapping" VALUES (?, ?)""")
    rows.groupBy(_.getLong(0)).foreach { case (lsn, g) =>
      ltm.setString(1, hex20(lsn))
      ltm.setTimestamp(2, new java.sql.Timestamp(
        g.map(_.getTimestamp(9).getTime).max))
      ltm.addBatch()
    }
    ltm.executeBatch(); ltm.close()

    val snap = conn.prepareStatement("""INSERT INTO "dbo"."events" VALUES (?, ?, ?, ?)""")
    rows.foreach { r =>
      snap.setLong(1, r.getLong(5)); snap.setLong(2, r.getLong(2))
      snap.setString(3, r.getString(6)); snap.setDouble(4, r.getDouble(7))
      snap.addBatch()
    }
    snap.executeBatch(); snap.close()
  }

  private def runQuery(sql: String): Vector[Vector[AnyRef]] = {
    val st = conn.createStatement()
    val rs = st.executeQuery(sql)
    val n = rs.getMetaData.getColumnCount
    val out = Vector.newBuilder[Vector[AnyRef]]
    while (rs.next()) out += (1 to n).map(rs.getObject).toVector
    rs.close(); st.close()
    out.result()
  }

  // ---- A1: change scan pages through the live DB --------------------

  test("maxChangeIndexQuery returns the table ceiling (the startPoint=latest probe) over a live DB") {
    val got = runQuery(transpile(
      SqlServerDialect.maxChangeIndexQuery("events"), Seq.empty))
    assert(got.size === 1)
    // Oracle: the max by the 4-component order, computed client-side
    // over the raw table (hex20 strings sort like the binary LSNs).
    val expected = runQuery(
      """SELECT "__$start_lsn", "__$command_id", "__$seqval", "__$operation"
        |FROM "cdc"."events_CT"""".stripMargin)
      .maxBy(r => (r(0).toString, r(1).asInstanceOf[Number].intValue(),
        r(2).toString, r(3).asInstanceOf[Number].intValue()))
    assert(got.head === expected)
  }

  test("changeQuery pages the full change feed in index order with no dupes or gaps (A1)") {
    val batch = 333 // deliberately splits transactions across page edges
    val sqlT = SqlServerDialect.changeQuery("events", valueFields, batch)
    val maxLsn = hex20(Long.MaxValue)

    // The scan is strictly-after the cursor; the fixture's first record
    // sits at exactly (0, 0, 0), so start one command below it (a real
    // SQL Server min LSN is always above the zero sentinel).
    var cursor = (hex20(0L), -1, hex20(0L))
    var pages = 0
    val seen = Vector.newBuilder[(String, Int, String, Int)]
    var done = false
    while (!done && pages < 100) {
      val page = runQuery(transpile(sqlT,
        Seq(lit(cursor._1), cursor._2.toString, lit(cursor._3), lit(maxLsn))))
      pages += 1
      if (page.isEmpty) done = true
      else {
        assert(page.size <= batch)
        page.foreach { r =>
          seen += ((r(2).toString, r(3).asInstanceOf[Number].intValue(),
            r(4).toString, r(0).asInstanceOf[Number].intValue()))
        }
        val last = page.last
        cursor = (last(2).toString, last(3).asInstanceOf[Number].intValue(),
          last(4).toString)
      }
    }
    val got = seen.result()

    // Strict global order across page boundaries (op monotone within eq).
    got.sliding(2).foreach {
      case Seq(a, b) =>
        assert((a._1, a._2, a._3) < ((b._1, b._2, b._3)),
          s"page walk not strictly increasing: $a then $b")
      case _ => ()
    }

    // Parquet-path oracle: same rows, same order, ops {1,2,4} only.
    val exp = graft.fixtures.SyntheticCdc.changeRows(spark, sfDir)
      .filter(col("event_id") < nFixture && col("operation").isin(1, 2, 4))
      .select("lsn_hex", "command_id", "seqval_hex", "operation")
      .orderBy("lsn_hex", "command_id", "seqval_hex", "operation")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .toVector
    assert(got.size === exp.size)
    assert(got === exp)
  }

  test("changeQuery joins lsn_time_mapping: every row carries its transaction end time") {
    val sqlT = SqlServerDialect.changeQuery("events", valueFields, 10000)
    val rows = runQuery(transpile(sqlT,
      Seq(lit(hex20(0L)), "0", lit(hex20(0L)), lit(hex20(Long.MaxValue)))))
    assert(rows.nonEmpty)
    assert(rows.forall(_(1) != null), "__event_time must come from the ltm join")
    // Spot-check one transaction: its event time is the ltm row's time.
    val ltm = runQuery("""SELECT start_lsn, tran_end_time FROM "cdc"."lsn_time_mapping"""")
      .map(r => r(0).toString -> r(1).toString).toMap
    rows.take(50).foreach(r => assert(r(1).toString === ltm(r(2).toString)))
  }

  // ---- A2: snapshot reverse-keyset pages through the live DB --------

  test("snapshotQuery reverse-keyset paging visits every row exactly once (A2, composite pk)") {
    val pk = Seq(
      TrackedFieldMeta("user_id", "bigint", 0, 0),
      TrackedFieldMeta("event_id", "bigint", 0, 0))
    val batch = 450
    val fields = Seq("user_id", "event_id", "event_type", "value")

    // First page: unbounded walk from the top.
    var sqlT = SqlServerDialect.snapshotQuery("dbo", "events", fields,
      removedFields = Set.empty, pk, firstRead = true, batch)
    var page = runQuery(transpile(sqlT, Seq("0")))
    val seen = Vector.newBuilder[(Long, Long)]
    var pages = 0
    while (page.nonEmpty && pages < 100) {
      pages += 1
      assert(page.size <= batch)
      // Pages are DESC by (user_id, event_id), strictly.
      val keys = page.map(r => (r(6).asInstanceOf[Number].longValue(),
        r(7).asInstanceOf[Number].longValue()))
      keys.sliding(2).foreach {
        case Seq(a, b) => assert(a > b, s"not strictly descending: $a then $b")
        case _ => ()
      }
      seen ++= keys
      val lastKey = keys.last
      sqlT = SqlServerDialect.snapshotQuery("dbo", "events", fields,
        removedFields = Set.empty, pk, firstRead = false, batch)
      page = runQuery(transpile(sqlT, Seq(lastKey._1.toString, lastKey._2.toString)))
    }
    val got = seen.result()
    val exp = graft.fixtures.SyntheticCdc.changeRows(spark, sfDir)
      .filter(col("event_id") < nFixture)
      .select(col("user_id"), col("seqval_num"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toVector.sorted.reverse
    assert(got.size === exp.size, "keyset walk must visit every row exactly once")
    assert(got === exp)
  }

  test("snapshotQuery surfaces dropped columns as NULL with the capture schema intact (B5)") {
    val pk = Seq(TrackedFieldMeta("user_id", "bigint", 0, 0),
      TrackedFieldMeta("event_id", "bigint", 0, 0))
    val sqlT = SqlServerDialect.snapshotQuery("dbo", "events",
      Seq("user_id", "event_id", "event_type", "value"),
      removedFields = Set("event_type"), pk, firstRead = true, 10)
    val rows = runQuery(transpile(sqlT, Seq("0")))
    assert(rows.nonEmpty)
    assert(rows.forall(_(8) == null), "removed column must render as NULL")
    assert(rows.forall(_(6) != null))
  }
}

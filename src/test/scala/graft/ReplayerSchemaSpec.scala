package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SchemaInference
import graft.sources.SchemaInference.CatalogRow
import graft.tools.Replayer

/** Replayer MERGE semantics (A11) and catalog-driven schema inference
  * (A4) over in-memory fixtures. */
class ReplayerSchemaSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2

  test("replayer applies deletes, updates, inserts with last-wins batches") {
    val ss = spark
    import ss.implicits._
    val target = Seq(
      (1L, 10L, "old", 1.0), (2L, 11L, "stay", 2.0), (3L, 12L, "doomed", 3.0))
      .toDF("userId", "seqvalNum", "eventType", "value")
    // log: key 1 updated twice (second wins), key 3 deleted (tombstone),
    // key 9 inserted; operation 4=update, 2=insert, 1=delete.
    val log = Seq(
      (1L, 1L, 0, 20L, 4, "upd-a", 10.0, false),
      (1L, 1L, 0, 25L, 4, "upd-b", 11.0, false),
      (3L, 1L, 0, 30L, 1, "del", 0.0, false),
      (3L, 1L, 0, 30L, 1, "del", 0.0, true), // tombstone
      (9L, 1L, 0, 40L, 2, "new", 9.0, false))
      .toDF("userId", "lsnNum", "commandId", "seqvalNum", "operation",
        "eventType", "value", "isTombstone")

    val merged = Replayer.applyLog(spark, log, target)
      .orderBy("userId").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(merged.toSeq == Seq(
      (1L, 25L, "upd-b", 11.0), // last update in batch won
      (2L, 11L, "stay", 2.0),   // untouched target row survives
      (9L, 40L, "new", 9.0)))   // insert landed; key 3 gone
  }

  test("all-PK-columns table: merge degrades to insert-if-absent") {
    val ss = spark
    import ss.implicits._
    // Every column is part of the key (reference replayer.py:394-404: the
    // WHEN MATCHED UPDATE SET clause would be empty, so the generated
    // MERGE carries only WHEN NOT MATCHED INSERT). Matched keys must stay
    // single, unmatched keys must land, nothing is "updated".
    val target = Seq((1L, "a"), (2L, "b")).toDF("k1", "k2")
    val batch = Seq((2L, "b"), (3L, "c")).toDF("k1", "k2")
    val merged = Replayer.merge(target, batch, Seq("k1", "k2"))
      .orderBy("k1").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(merged.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("generic merge matches the hardcoded applyLog layout on mixed tables") {
    val ss = spark
    import ss.implicits._
    // An all-NULL update must still be detected as a MATCH (presence
    // marker, not payload non-nullness) and overwrite wholesale.
    val target = Seq((1L, Some("x")), (2L, Some("y"))).toDF("k", "v")
    val batch = Seq((1L, None: Option[String]), (3L, Some("z"))).toDF("k", "v")
    val merged = Replayer.merge(target, batch, Seq("k"))
      .orderBy("k").collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(merged.toSeq == Seq((1L, None), (2L, Some("y")), (3L, Some("z"))))
  }

  test("generic merge matches a map model on 50 random scenarios") {
    val ss = spark
    import ss.implicits._
    val rng = new scala.util.Random(11)
    (1 to 50).foreach { i =>
      // Random target and batch over a small key space; batch unique per
      // key (the operator's documented precondition).
      val target = (0 until rng.nextInt(20))
        .map(_ => (rng.nextInt(15).toLong, Option(rng.nextInt(100)).filter(_ => rng.nextBoolean())))
        .distinctBy(_._1)
      val batch = (0 until rng.nextInt(20))
        .map(_ => (rng.nextInt(15).toLong, Option(rng.nextInt(100)).filter(_ => rng.nextBoolean())))
        .distinctBy(_._1)
      // Model: MERGE = map overwrite, batch wins on matched keys.
      val expected = (target.toMap ++ batch.toMap).toSeq.sorted
      val got = Replayer.merge(
        target.toDF("k", "v"), batch.toDF("k", "v"), Seq("k"))
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
        .toSeq.sorted
      assert(got == expected, s"scenario $i: target=$target batch=$batch")
    }
  }

  test("schema inference assembles tables from catalog rows (A4)") {
    val rows = Seq(
      CatalogRow("dbo", "orders", "dbo_orders", "0a", "id", "bigint", 1, 1, 0, 0),
      CatalogRow("dbo", "orders", "dbo_orders", "0a", "total", "decimal", 2, 0, 18, 2),
      CatalogRow("dbo", "orders", "dbo_orders", "0a", "memo", "nvarchar", 3, 0, 0, 0),
      // a newer capture instance for the same table wins
      CatalogRow("dbo", "orders", "dbo_orders_v2", "0b", "id", "bigint", 1, 1, 0, 0),
      CatalogRow("dbo", "orders", "dbo_orders_v2", "0b", "total", "decimal", 2, 0, 18, 2),
      CatalogRow("dbo", "audit", "dbo_audit", "0a", "at", "datetime2", 1, 0, 0, 0))
    val tables = SchemaInference.fromCatalogRows(rows,
      excludeRegex = Some(".*audit.*"))
    assert(tables.map(_.fqName) == Seq("dbo.orders"))
    val t = tables.head
    assert(t.captureInstanceName == "dbo_orders_v2")
    assert(t.topicName == "dbo_orders_cdc")
    assert(t.keyFields.map(_.name) == Seq("id"))
    assert(t.valueSchema.fields.map(_.name).toSeq == Seq("id", "total"))
    assert(t.valueSchema("total").dataType.typeName == "decimal(18,2)")
    // value schema is all-nullable; key schema is not (SURVEY §1.2)
    assert(t.valueSchema.fields.forall(_.nullable))
    assert(t.keySchema.fields.forall(!_.nullable))
  }
}

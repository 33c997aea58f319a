package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ChangeIndex, Policies, SchemaEvolution}
import graft.model.SchemaEvolution.{ColumnInfo, Probes}

/** Unit tests for the operational policies (A9/F12/G5) and the ported
  * schema-evolution decision (G6). */
class ModelPoliciesSpec extends AnyFunSuite {

  test("partition sizing: 1 per 10 rows/s, floor 1, cap 100 (A9)") {
    assert(Policies.partitionCount(0) == 1)
    assert(Policies.partitionCount(9.9) == 1)
    assert(Policies.partitionCount(55) == 5)
    assert(Policies.partitionCount(999) == 99)
    assert(Policies.partitionCount(5000) == 100)
  }

  test("topic naming template (F12)") {
    assert(Policies.topicName("dbo", "orders") == "dbo_orders_cdc")
    assert(Policies.topicName("s", "t", "cdc.{schema}.{table}") == "cdc.s.t")
  }

  test("admission plan: lagging tables preempt snapshots (E6)") {
    val all = Seq("a", "b", "c")
    assert(Policies.admissionPlan(all, Set.empty) == (all, true))
    assert(Policies.admissionPlan(all, Set("b")) == (Seq("b"), false))
    assert(Policies.admissionPlan(all, Set("c", "a")) == (Seq("a", "c"), false))
  }

  test("heartbeat: only after 2x interval, recognizable shape (E8)") {
    val ceiling = ChangeIndex.lsnFromLong(500)
    assert(Policies.heartbeatIndex(1000, 1000 + 359, ceiling).isEmpty)
    val hb = Policies.heartbeatIndex(1000, 1000 + 360, ceiling)
    assert(hb.isDefined && hb.get.isProbablyHeartbeat)
    assert(java.util.Arrays.equals(hb.get.lsn, ceiling))
  }

  test("clock skew: median of sampled deltas (F9)") {
    assert(Policies.clockSkewMillis(Seq((1000L, 900L))) == 100L)
    assert(Policies.clockSkewMillis(
      Seq((1000L, 900L), (1000L, 1010L), (1000L, 950L))) == 50L)
  }

  test("LSN gap detection (G5)") {
    val lo = ChangeIndex(ChangeIndex.lsnFromLong(10), 0, ChangeIndex.lsnFromLong(0), 0)
    val hi = ChangeIndex(ChangeIndex.lsnFromLong(20), 0, ChangeIndex.lsnFromLong(0), 0)
    assert(Policies.onLsnGap(minAvailable = lo, stored = hi, Policies.FailOnGap).isEmpty)
    assert(Policies.onLsnGap(minAvailable = hi, stored = lo, Policies.ResnapshotOnGap)
      .contains(Policies.ResnapshotOnGap))
    // A cursor at the floor's immediate predecessor missed nothing.
    assert(Policies.onLsnGap(minAvailable = hi, stored = ChangeIndex.predecessor(hi),
      Policies.FailOnGap).isEmpty)
  }

  private val base = Map(
    "id" -> ColumnInfo("bigint", isNullable = false),
    "qty" -> ColumnInfo("smallint"),
    "name" -> ColumnInfo("varchar"))
  private val probes = Probes(oldInstanceAvailable = true, tableIsSmall = true)

  test("G6: no changes → no re-snapshot") {
    val d = SchemaEvolution.requiresNewSnapshot(base, base, probes)
    assert(!d.resnapshot)
  }

  test("G6: old instance gone → re-snapshot") {
    val d = SchemaEvolution.requiresNewSnapshot(base, base,
      probes.copy(oldInstanceAvailable = false))
    assert(d.resnapshot)
  }

  test("G6: removed column → re-snapshot, unless policy disabled") {
    val newer = base - "name"
    assert(SchemaEvolution.requiresNewSnapshot(base, newer, probes).resnapshot)
    assert(!SchemaEvolution.requiresNewSnapshot(base, newer, probes,
      resnapshotForColumnDrops = false).resnapshot)
  }

  test("G6: int-widening type change keeps the serialized type → no re-snapshot") {
    val newer = base + ("qty" -> ColumnInfo("int"))
    assert(!SchemaEvolution.requiresNewSnapshot(base, newer, probes).resnapshot)
  }

  test("G6: serialized type change → re-snapshot") {
    val newer = base + ("qty" -> ColumnInfo("varchar"))
    val d = SchemaEvolution.requiresNewSnapshot(base, newer, probes)
    assert(d.resnapshot && d.reason.contains("qty"))
  }

  test("G6: is_computed flip → re-snapshot") {
    val newer = base + ("qty" -> ColumnInfo("smallint", isComputed = true))
    assert(SchemaEvolution.requiresNewSnapshot(base, newer, probes).resnapshot)
  }

  test("G6: added NOT NULL column → re-snapshot") {
    val newer = base + ("extra" -> ColumnInfo("int", isNullable = false))
    assert(SchemaEvolution.requiresNewSnapshot(base, newer, probes).resnapshot)
  }

  test("G6: added nullable column on small table → probe decides") {
    val newer = base + ("extra" -> ColumnInfo("int"))
    assert(SchemaEvolution.requiresNewSnapshot(base, newer,
      probes.copy(colHasNonNull = _ == "extra")).resnapshot)
    assert(!SchemaEvolution.requiresNewSnapshot(base, newer,
      probes.copy(colHasNonNull = _ => false)).resnapshot)
  }

  test("G6: added nullable column on large table → recency heuristic decides") {
    val newer = base + ("extra" -> ColumnInfo("int"))
    val large = probes.copy(tableIsSmall = false)
    assert(SchemaEvolution.requiresNewSnapshot(base, newer, large).resnapshot)
    assert(!SchemaEvolution.requiresNewSnapshot(base, newer,
      large.copy(recentlyAddedCols = Set("extra"))).resnapshot)
    // ...but a leading-indexed column is probed directly even when large.
    assert(SchemaEvolution.requiresNewSnapshot(base, newer,
      large.copy(leadingIndexedCols = Set("extra"),
        colHasNonNull = _ => true)).resnapshot)
  }
}

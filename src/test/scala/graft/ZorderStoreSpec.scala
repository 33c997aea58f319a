package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ZorderStore

/** ZorderStore's physical claim, asserted from the observable a storage
  * claim must produce — the scan's own `numFiles` metric: a
  * multi-dimensional point lookup against the z-clustered layout reads
  * ONE partition directory of the dozens written, returns exactly the
  * full-scan answer, and the driver-side Morton bucketing agrees with
  * the SQL writer's (the persisted normalizer keeps them in step). */
class ZorderStoreSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"
  private var store: String = _
  private var buckets: Long = 0L

  override def beforeAll(): Unit = {
    super.beforeAll()
    store = Files.createTempDirectory("zstore").toString
    buckets = ZorderStore.write(spark, sfDir, store)
  }

  /** Files the scan ACTUALLY selected after partition pruning (the
    * FileSourceScanExec metric — `df.inputFiles` reports the relation's
    * full listing and would hide the pruning). */
  private def scannedFiles(df: DataFrame): Long = {
    df.count() // materialize so the metric is populated
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("the layout materializes many z-partitions") {
    assert(buckets >= 16, s"only $buckets z-buckets — layout degenerate")
  }

  test("point lookups prune to one partition directory and stay exact") {
    val probes = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("l_partkey", "l_suppkey")
      .distinct().orderBy("l_partkey", "l_suppkey").limit(5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val totalFiles =
      spark.read.parquet(s"$store/data").inputFiles.length.toLong
    probes.foreach { case (pk, sk) =>
      val hit = ZorderStore.lookup(spark, store, pk, sk)
      val pruned = scannedFiles(hit)
      assert(pruned * 8 <= totalFiles,
        s"probe ($pk, $sk) scanned $pruned of $totalFiles files — no pruning")
      val expected = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .where(s"l_partkey = $pk AND l_suppkey = $sk").count()
      assert(hit.count() === expected, s"probe ($pk, $sk) lost rows")
      assert(expected > 0L, "vacuous probe")
    }
  }

  test("2-D range queries prune via the extent zone map and stay exact") {
    // A small rectangle in both dimensions: the z-layout keeps each
    // bucket narrow in BOTH partkey and suppkey, so the extent
    // enumeration drops most directories; insertion order would keep
    // every file (pipe_zorder's extent contrast pins that).
    val (pLo, pHi, sLo, sHi) = (100L, 130L, 1L, 4L)
    val hit = ZorderStore.rangeQuery(spark, store, pLo, pHi, sLo, sHi)
    val totalFiles =
      spark.read.parquet(s"$store/data").inputFiles.length.toLong
    val pruned = scannedFiles(hit)
    assert(pruned * 2 <= totalFiles,
      s"range scanned $pruned of $totalFiles files — zone map not pruning")
    val expected = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(s"l_partkey BETWEEN $pLo AND $pHi AND l_suppkey BETWEEN $sLo AND $sHi")
    val exp = expected.count()
    assert(hit.count() === exp, "range query lost/gained rows")
    assert(exp > 0L, "vacuous range probe")
    // Row-equal, not just count-equal.
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    assert(hit.selectExpr(cols: _*).exceptAll(expected.selectExpr(cols: _*)).isEmpty
      && expected.selectExpr(cols: _*).exceptAll(hit.selectExpr(cols: _*)).isEmpty)
  }

  test("an empty-rectangle range returns empty without error") {
    val none = ZorderStore.rangeQuery(spark, store, 1L, 2L, 99999L, 99999L)
    assert(none.count() === 0L)
  }

  test("a miss scans at most one directory and returns empty") {
    val miss = ZorderStore.lookup(spark, store, 12345L, 54321L)
    assert(miss.count() === 0L)
    assert(scannedFiles(miss) * 8 <=
      spark.read.parquet(s"$store/data").inputFiles.length)
  }
}

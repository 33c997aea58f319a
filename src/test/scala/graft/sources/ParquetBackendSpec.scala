package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark
import graft.model.{ChangeIndex, Policies}

/** The parquet backend's boundary probes come from a driver-side key
  * index ([[ParquetKeyIndex]]). Each case walks a feed the way the
  * stream does and checks every probe against the Spark aggregation the
  * probes used to run — kept here, and only here, as the oracle — while
  * the feed changes under the index: files land, are rewritten in place,
  * and are deleted by retention. */
class ParquetBackendSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2
  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("parquet-backend").toString
  }

  // ---- the oracle: the Spark-aggregation probes, as they were --------

  private def oracleChangeBoundary(feedDir: String, start: ChangeIndex,
      batchSize: Int): Option[(ChangeIndex, Long)] = {
    val (sl, sc, ss, so) = ChangeIndex.parts(start)
    val r = spark.read.schema(CdcTableProvider.schema).parquet(feedDir)
      .filter(struct(col("lsn_num"), col("command_id"), col("seqval_num"), col("operation")) >
        struct(lit(sl).as("lsn_num"), lit(sc).as("command_id"),
          lit(ss).as("seqval_num"), lit(so).as("operation")))
      .orderBy(col("lsn_num"), col("command_id"), col("seqval_num"), col("operation"))
      .limit(batchSize)
      .agg(count(lit(1)).as("n"),
        max(struct(col("lsn_num"), col("command_id"),
          col("seqval_num"), col("operation"))).as("hi"))
      .head()
    if (r.getLong(0) == 0L) None
    else {
      val s = r.getStruct(1)
      Some((ChangeIndex(ChangeIndex.lsnFromLong(s.getLong(0)), s.getInt(1),
        ChangeIndex.lsnFromLong(s.getLong(2)), s.getInt(3)), r.getLong(0)))
    }
  }

  private def oracleExtreme(feedDir: String, lowest: Boolean): Option[ChangeIndex] = {
    val idx = struct(col("lsn_num"), col("command_id"), col("seqval_num"), col("operation"))
    val r = spark.read.schema(CdcTableProvider.schema).parquet(feedDir)
      .agg(if (lowest) min(idx) else max(idx)).head()
    if (r.isNullAt(0)) None
    else {
      val s = r.getStruct(0)
      Some(ChangeIndex(ChangeIndex.lsnFromLong(s.getLong(0)), s.getInt(1),
        ChangeIndex.lsnFromLong(s.getLong(2)), s.getInt(3)))
    }
  }

  private def oracleSnapshotBoundary(snapDir: String, below: Option[(Long, Long)],
      batchSize: Int): Option[(Long, Long)] = {
    val base = spark.read.schema(CdcTableProvider.schema).parquet(snapDir)
    val bounded = below.map { case (k, e) =>
      base.filter(col("user_id") < k || (col("user_id") === k && col("event_id") < e))
    }.getOrElse(base)
    val r = bounded.orderBy(col("user_id").desc, col("event_id").desc)
      .limit(batchSize)
      .agg(count(lit(1)).as("n"),
        min(struct(col("user_id"), col("event_id"))).as("lo"))
      .head()
    if (r.getLong(0) == 0L) None
    else Some((r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))
  }

  // ---- fixtures ------------------------------------------------------

  /** Change rows (lsn, command_id, seqval, operation) as one parquet file
    * named `name` in `dir`, replacing any file of that name. */
  private def writeChanges(dir: String, name: String,
      keys: Seq[(Long, Int, Long, Int)]): Unit = {
    val session = spark
    import session.implicits._
    writeFile(dir, name, keys.toDF("lsn_num", "command_id", "seqval_num", "operation")
      .select(col("lsn_num"), col("command_id"), col("seqval_num"), col("operation"),
        col("seqval_num").as("event_id"), col("lsn_num").as("user_id"),
        lit("e").as("event_type"), lit(1.0).as("value"), lit("").as("props")))
  }

  /** Snapshot keys (user_id, event_id) as one parquet file. */
  private def writeSnapshot(dir: String, name: String, keys: Seq[(Long, Long)]): Unit = {
    val session = spark
    import session.implicits._
    writeFile(dir, name, keys.toDF("user_id", "event_id")
      .select(lit(0L).as("lsn_num"), lit(0).as("command_id"), lit(0L).as("seqval_num"),
        lit(0).as("operation"), col("event_id"), col("user_id"),
        lit("s").as("event_type"), lit(1.0).as("value"), lit("").as("props")))
  }

  private def writeFile(dir: String, name: String, df: DataFrame): Unit = {
    val tmp = Files.createTempDirectory(Paths.get(work), "w").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(dir))
    Files.move(part.toPath, Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
  }

  private def idx(l: Long, c: Int, s: Long, o: Int): ChangeIndex =
    ChangeIndex(ChangeIndex.lsnFromLong(l), c, ChangeIndex.lsnFromLong(s), o)

  private val veryLowest = idx(Long.MinValue, Int.MinValue, Long.MinValue, Int.MinValue)

  /** Walks the change feed from `from` as the stream does, checking every
    * boundary against the oracle; returns the position reached. At most
    * `steps` windows (all of them by default). */
  private def walkChanges(b: ParquetBackend, feed: String, from: ChangeIndex,
      batchSize: Int, steps: Int = Int.MaxValue): ChangeIndex = {
    var at = from
    var n = 0
    var done = false
    while (!done && n < steps) {
      val got = b.changeBoundary(at)
      assert(got === oracleChangeBoundary(feed, at, batchSize), s"window after ${ChangeIndex.parts(at)}")
      got match {
        case Some((end, _)) => at = end; n += 1
        case None => done = true
      }
    }
    at
  }

  private def checkExtremes(b: ParquetBackend, feed: String): Unit = {
    assert(b.minAvailableChange() === oracleExtreme(feed, lowest = true))
    assert(b.maxAvailableChange() === oracleExtreme(feed, lowest = false))
  }

  private def rows(parts: Array[InputPartition]): Seq[String] =
    parts.toSeq.flatMap { p =>
      val r = CdcPredicateReaderFactory.createReader(p)
      val out = Iterator.continually(r).takeWhile(_.next())
        .map(x => (0 until 9).map(i => if (x.get.isNullAt(i)) "null"
          else x.get.get(i, CdcTableProvider.schema(i).dataType).toString).mkString(","))
        .toList
      r.close()
      out
    }.sorted

  private def allFiles(dir: String): Array[String] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => new org.apache.hadoop.fs.Path(f.getAbsolutePath).toUri.toString)

  // ---- cases ---------------------------------------------------------

  test("interleaved key ranges across files, with signed components, match the oracle") {
    val feed = s"$work/interleaved"
    val rnd = new scala.util.Random(7)
    // Three files whose key ranges overlap, unsorted within each file,
    // with negative components in every position of the index.
    val keys = (0 until 300).map { i =>
      (rnd.nextInt(40).toLong - 20, rnd.nextInt(5) - 2, i.toLong * (if (i % 3 == 0) -1 else 1),
        1 + rnd.nextInt(4))
    }
    keys.grouped(100).zipWithIndex.foreach { case (g, i) =>
      writeChanges(feed, s"f$i.parquet", rnd.shuffle(g))
    }
    val b = new ParquetBackend(feed, None, 37)
    checkExtremes(b, feed)
    walkChanges(b, feed, veryLowest, 37)
    // A position that moved back re-reads files the walk released.
    walkChanges(b, feed, veryLowest, 37, steps = 3)
    walkChanges(b, feed, idx(0, 0, 0, 0), 37)
  }

  test("a file landing between triggers is picked up by the next probe") {
    val feed = s"$work/growing"
    writeChanges(feed, "a.parquet", (1L to 50L).map(l => (l, 0, l, 2)))
    val b = new ParquetBackend(feed, None, 20)
    val at = walkChanges(b, feed, ChangeIndex.Lowest, 20, steps = 2)
    // The new file both continues the feed and lands keys inside the
    // not-yet-admitted range of the first one.
    writeChanges(feed, "b.parquet", (45L to 90L).map(l => (l, 1, l, 2)))
    checkExtremes(b, feed)
    walkChanges(b, feed, at, 20)
    writeChanges(feed, "c.parquet", (91L to 95L).map(l => (l, 0, l, 2)))
    checkExtremes(b, feed)
    walkChanges(b, feed, idx(90, 1, 90, 2), 20)
  }

  test("a file rewritten in place is re-read") {
    val feed = s"$work/rewritten"
    writeChanges(feed, "a.parquet", (1L to 40L).map(l => (l, 0, l, 2)))
    writeChanges(feed, "b.parquet", (41L to 60L).map(l => (l, 0, l, 2)))
    val b = new ParquetBackend(feed, None, 15)
    val at = walkChanges(b, feed, ChangeIndex.Lowest, 15, steps = 1)
    checkExtremes(b, feed)
    // New content, new length: keys both before and after the position.
    writeChanges(feed, "a.parquet", (2L to 90L by 2).map(l => (l, 3, l, 1)))
    checkExtremes(b, feed)
    walkChanges(b, feed, at, 15)
  }

  test("a file deleted by retention moves the minimum and G5 fires") {
    val feed = s"$work/retention"
    writeChanges(feed, "a.parquet", (1L to 50L).map(l => (l, 0, l, 2)))
    writeChanges(feed, "b.parquet", (51L to 100L).map(l => (l, 0, l, 2)))
    val b = new ParquetBackend(feed, None, 20)
    val stored = walkChanges(b, feed, ChangeIndex.Lowest, 20, steps = 1)
    assert(LsnGap.resolve(b, "t", stored, Policies.FailOnGap) === LsnGap.Proceed)
    Files.delete(Paths.get(feed, "a.parquet"))
    checkExtremes(b, feed)
    assert(b.minAvailableChange() === Some(idx(51, 0, 51, 2)))
    intercept[CdcLsnGapException](LsnGap.resolve(b, "t", stored, Policies.FailOnGap))
    walkChanges(b, feed, stored, 20)
  }

  test("snapshot pages with duplicate user_id straddling page boundaries match the oracle") {
    val snap = s"$work/snapshot"
    val rnd = new scala.util.Random(11)
    // Few distinct user_ids (some negative), unique event_ids, spread
    // over three files with overlapping key ranges.
    val keys = rnd.shuffle((0 until 400).map(e => (rnd.nextInt(12).toLong - 4, e.toLong - 50)))
    keys.grouped(150).zipWithIndex.foreach { case (g, i) =>
      writeSnapshot(snap, s"s$i.parquet", g)
    }
    writeChanges(s"$work/snapfeed", "a.parquet", Seq((1L, 0, 1L, 2)))
    for (batchSize <- Seq(23, 400, 1000)) {
      val b = new ParquetBackend(s"$work/snapfeed", Some(snap), batchSize)
      var below: Option[(Long, Long)] = None
      var pages = 0
      var done = false
      while (!done) {
        val got = b.snapshotPageBoundary(below)
        assert(got === oracleSnapshotBoundary(snap, below, batchSize), s"page below $below")
        if (got.isEmpty) done = true else { below = got; pages += 1 }
      }
      assert(pages === (400 + batchSize - 1) / batchSize)
    }
  }

  test("a window inside one file of a multi-file feed plans exactly one partition") {
    val feed = s"$work/pruned"
    Seq(0, 1, 2).foreach { f =>
      writeChanges(feed, s"f$f.parquet",
        (1L to 100L).map(l => (f * 100 + l, 0, l, 2)))
    }
    val b = new ParquetBackend(feed, None, 30)
    val (start, end) = ((120L, 0, 20L, 2), (150L, 0, 50L, 2))
    val planned = b.changePartitions(start, end)
    assert(planned.length === 1)
    assert(planned.head.asInstanceOf[ChangeRangePartition].file.endsWith("f1.parquet"))
    // The same rows as planning every file of the feed.
    val everyFile = allFiles(feed).map(f => ChangeRangePartition(f, start, end): InputPartition)
    assert(rows(planned).size === 30)
    assert(rows(planned) === rows(everyFile))
    // A window spanning a file boundary plans both files.
    assert(b.changePartitions((180L, 0, 80L, 2), (220L, 0, 20L, 2)).length === 2)

    val snap = s"$work/pruned_snapshot"
    Seq(0, 1, 2).foreach { f =>
      writeSnapshot(snap, s"s$f.parquet", (1L to 100L).map(k => (f * 100 + k, k)))
    }
    val sb = new ParquetBackend(feed, Some(snap), 30)
    val (upper, lower) = (Some((260L, 60L)), (230L, 30L))
    val page = sb.snapshotPartitions(upper, lower)
    assert(page.length === 1)
    val everySnap = allFiles(snap).map(f => SnapshotRangePartition(f, upper, lower): InputPartition)
    assert(rows(page).size === 30)
    assert(rows(page) === rows(everySnap))
  }
}

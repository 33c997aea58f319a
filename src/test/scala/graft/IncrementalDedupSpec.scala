package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.IncrementalDedup

/** The incremental-store contract: dedupping shard N against the
  * persisted claim store yields EXACTLY the full-batch `dd_substring`
  * pairs touching shard N — through TWO increments, where the second
  * shard's duplicates pair against both the base corpus and the first
  * increment purely through the store (the base text is never rescanned).
  * Also pins the combined boilerplate cap: an anchor pushed past 64 docs
  * BY an increment stops generating pairs, exactly as the batch operator
  * would drop it.
  */
class IncrementalDedupSpec extends AnyFunSuite with LocalSpark {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.expr.GraftFunctions.register(spark)
  }

  /** ≥128-char docs so every doc carries several 64-char windows; shared
    * passages are long verbatim runs (the operator's target). */
  private def passage(tag: Int): String =
    (0 until 6).map(i => s"passage$tag segment$i carries deterministic shared content across copies").mkString(" ")

  private def unique(id: Long): String =
    (0 until 6).map(i => s"doc$id token${i}x${id * 31 + i} novel filler material with no duplicate run").mkString(" ")

  /** Full-batch pairs over `docs` — the dd_substring reference fold. */
  private def batchPairs(docs: DataFrame): Set[(Long, Long, Long)] = {
    docs.createOrReplaceTempView("idd_batch")
    spark.sql(
      s"""WITH anchors AS (
         |  SELECT DISTINCT doc_id, h
         |  FROM idd_batch LATERAL VIEW explode(substring_anchors(text)) AS h),
         |rare AS (SELECT h FROM anchors GROUP BY h HAVING count(*) <= ${IncrementalDedup.BoilerplateCap}),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS shared_anchors
         |  FROM anchors a
         |  JOIN rare r ON a.h = r.h
         |  JOIN anchors b ON b.h = a.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT * FROM pairs WHERE shared_anchors >= 2""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def increments(pairs: DataFrame): Set[(Long, Long, Long)] =
    pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def touching(full: Set[(Long, Long, Long)], ids: Set[Long]) =
    full.filter(p => ids.contains(p._1) || ids.contains(p._2))

  test("two increments match full-batch pairs touching each shard, via the store only") {
    val ss = spark; import ss.implicits._
    // Base: originals 0..19 (0..9 share passages pairwise), shard 1:
    // re-crawls of 0..4 + fresh docs, shard 2: re-crawls of base AND of
    // shard 1 + fresh docs.
    val base = ((0L until 10L).map(i => (i, passage((i % 5).toInt))) ++
      (10L until 20L).map(i => (i, unique(i)))).toDF("doc_id", "text")
    val shard1 = ((100L until 105L).map(i => (i, passage((i % 5).toInt))) ++
      (105L until 110L).map(i => (i, unique(i)))).toDF("doc_id", "text")
    val shard2 = ((200L until 203L).map(i => (i, passage((i % 5).toInt))) ++
      Seq((203L, unique(107L)), (204L, unique(204L)))).toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("idd-store").toString
    IncrementalDedup.buildStore(spark, base, dir)

    val got1 = increments(IncrementalDedup.pairsForIncrement(spark, shard1, dir))
    val full1 = batchPairs(base.unionAll(shard1))
    assert(got1 == touching(full1, (100L until 110L).toSet),
      "increment 1 diverged from batch-on-combined")
    assert(got1.nonEmpty, "fixture should produce cross-shard pairs")

    IncrementalDedup.appendIncrement(spark, shard1, dir)
    val got2 = increments(IncrementalDedup.pairsForIncrement(spark, shard2, dir))
    val full2 = batchPairs(base.unionAll(shard1).unionAll(shard2))
    assert(got2 == touching(full2, (200L until 205L).toSet),
      "increment 2 diverged from batch-on-combined")
    // 203 duplicates a SHARD-1 doc (107): the pair must arrive through
    // the store's accumulated claims, not any rescan of shard 1.
    assert(got2.exists(p => p._1 == 107L && p._2 == 203L),
      s"shard2 must pair against shard1 through the store: $got2")
  }

  /** Full-batch MinHash/LSH pairs over `docs` — the dd_minhash_lsh fold. */
  private def batchLshPairs(docs: DataFrame): Set[(Long, Long, Double)] = {
    docs.createOrReplaceTempView("idd_lsh_batch")
    spark.sql(
      """WITH mh_t AS (
        |  SELECT doc_id, minhash_signature(text) AS mh FROM idd_lsh_batch),
        |bands AS (
        |  SELECT doc_id, band_idx,
        |         array_join(transform(slice(mh, band_idx*4 + 1, 4),
        |           x -> cast(x as string)), '-') AS band_key
        |  FROM mh_t LATERAL VIEW explode(sequence(0, 3)) AS band_idx),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        |   AND a.doc_id < b.doc_id),
        |cand AS (
        |  SELECT p.doc_a, p.doc_b,
        |         CAST(size(filter(sequence(1, 16),
        |           i -> element_at(ma.mh, i) = element_at(mb.mh, i))) AS DOUBLE) / 16.0
        |           AS est_jaccard
        |  FROM pairs p
        |  JOIN mh_t ma ON ma.doc_id = p.doc_a
        |  JOIN mh_t mb ON mb.doc_id = p.doc_b)
        |SELECT doc_a, doc_b, est_jaccard FROM cand WHERE est_jaccard >= 0.5""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("band store: two increments match full-batch LSH pairs touching each shard") {
    val ss = spark; import ss.implicits._
    // Near-dups: identical passages (exact signature match) plus unique
    // fillers; shard 2 re-crawls a shard-1 passage so its pair must
    // resolve purely through the persisted store.
    val base = ((0L until 6L).map(i => (i, passage((i % 3).toInt))) ++
      (10L until 14L).map(i => (i, unique(i)))).toDF("doc_id", "text")
    val shard1 = (Seq((100L, passage(0)), (101L, passage(7))) ++
      (102L until 104L).map(i => (i, unique(i)))).toDF("doc_id", "text")
    val shard2 = Seq((200L, passage(7)), (201L, passage(1)), (202L, unique(202L)))
      .toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("idd-band").toString
    IncrementalDedup.buildBandStore(spark, base, dir)

    def got(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def touching(full: Set[(Long, Long, Double)], ids: Set[Long]) =
      full.filter(p => ids.contains(p._1) || ids.contains(p._2))

    val got1 = got(IncrementalDedup.bandPairsForIncrement(spark, shard1, dir))
    val full1 = batchLshPairs(base.unionAll(shard1))
    assert(got1 == touching(full1, Set(100L, 101L, 102L, 103L)))
    assert(got1.nonEmpty, "fixture should produce near-dup pairs")

    IncrementalDedup.appendBandIncrement(spark, shard1, dir)
    val got2 = got(IncrementalDedup.bandPairsForIncrement(spark, shard2, dir))
    val full2 = batchLshPairs(base.unionAll(shard1).unionAll(shard2))
    assert(got2 == touching(full2, Set(200L, 201L, 202L)))
    // 200 duplicates ONLY the shard-1 doc 101 (passage(7) is in no base
    // doc): the pair must arrive through the appended store claims.
    assert(got2.exists(p => p._1 == 101L && p._2 == 200L),
      s"shard2 must pair against shard1 through the store: $got2")
  }

  /** Count the parquet data files under a store table — the file-health
    * number compaction exists to restore (appends leave one file-set per
    * increment). */
  private def parquetFiles(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("_"))
  }

  test("serve-after-compact equals serve-before across three increments; capped claims age out") {
    import org.apache.spark.sql.functions._
    val ss = spark; import ss.implicits._
    val cap = IncrementalDedup.BoilerplateCap
    // Base: passage-sharing originals, unique docs, AND 70 copies of a
    // boilerplate passage — past the cap from day one, so the store
    // carries dead claims for compaction to age out.
    val base = ((0L until 10L).map(i => (i, passage((i % 5).toInt))) ++
      (10L until 20L).map(i => (i, unique(i))) ++
      (300L until 370L).map(i => (i, passage(9)))).toDF("doc_id", "text")
    val shard1 = ((100L until 105L).map(i => (i, passage((i % 5).toInt))) ++
      (105L until 110L).map(i => (i, unique(i)))).toDF("doc_id", "text")
    val shard2 = (Seq((200L, passage(1)), (201L, unique(107L))) ++
      (202L until 205L).map(i => (i, unique(i)))).toDF("doc_id", "text")
    // 401 re-duplicates the TEXT of shard-2's doc 201 (= unique(107)).
    val shard3 = (Seq((400L, passage(2)), (401L, unique(107L)), (402L, passage(9))) ++
      (403L until 405L).map(i => (i, unique(i)))).toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("idd-compact").toString
    IncrementalDedup.buildStore(spark, base, dir)
    IncrementalDedup.appendIncrement(spark, shard1, dir)
    IncrementalDedup.appendIncrement(spark, shard2, dir)

    val before = increments(IncrementalDedup.pairsForIncrement(spark, shard3, dir))
    val filesBefore = parquetFiles(s"$dir/claims")
    IncrementalDedup.compact(spark, dir)
    val filesAfter = parquetFiles(s"$dir/claims")
    assert(filesAfter < filesBefore,
      s"compaction must shrink the claims file count ($filesBefore -> $filesAfter)")

    val after = increments(IncrementalDedup.pairsForIncrement(spark, shard3, dir))
    assert(after == before, "serve-after-compact diverged from serve-before")
    // And both equal the batch contract over the full 3-increment corpus.
    val full = batchPairs(
      base.unionAll(shard1).unionAll(shard2).unionAll(shard3))
    assert(after == touching(full, (400L until 405L).toSet))
    assert(after.nonEmpty, "fixture should produce cross-increment pairs")
    // 401 duplicates shard-2's 201 — provable only through the compacted
    // store (shard 2 text was never rescanned).
    assert(after.exists(p => p._1 == 201L && p._2 == 401L))
    // 402 is a fresh copy of the CAPPED boilerplate: must stay silent.
    assert(!after.exists(p => p._1 == 402L || p._2 == 402L))

    // Aging: no claim survives for a capped anchor, but its COUNT row
    // does (dropping it would resurrect the anchor as unseen).
    val claims = spark.read.parquet(s"$dir/claims")
    val counts = spark.read.parquet(s"$dir/counts")
    val capped = counts.filter(col("cnt") > cap)
    assert(capped.count() > 0, "fixture should have a capped anchor")
    assert(claims.join(capped, "h").count() === 0,
      "capped anchors' claims must age out at compaction")
  }

  test("band store: serve-after-compact equals serve-before") {
    val ss = spark; import ss.implicits._
    val base = ((0L until 6L).map(i => (i, passage((i % 3).toInt))) ++
      (10L until 14L).map(i => (i, unique(i)))).toDF("doc_id", "text")
    val shard1 = (Seq((100L, passage(0)), (101L, passage(7))) ++
      (102L until 104L).map(i => (i, unique(i)))).toDF("doc_id", "text")
    val shard2 = Seq((200L, passage(7)), (201L, passage(1)), (202L, unique(202L)))
      .toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("idd-band-compact").toString
    IncrementalDedup.buildBandStore(spark, base, dir)
    IncrementalDedup.appendBandIncrement(spark, shard1, dir)

    def got(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = got(IncrementalDedup.bandPairsForIncrement(spark, shard2, dir))
    val filesBefore = parquetFiles(s"$dir/bands")
    IncrementalDedup.compactBandStore(spark, dir)
    assert(parquetFiles(s"$dir/bands") < filesBefore,
      "compaction must shrink the bands file count")
    val after = got(IncrementalDedup.bandPairsForIncrement(spark, shard2, dir))
    assert(after == before, "band serve-after-compact diverged")
    assert(after.exists(p => p._1 == 101L && p._2 == 200L),
      "the through-the-store pair must survive compaction")
  }

  test("an increment pushing an anchor past the cap silences it, as batch would") {
    val ss = spark; import ss.implicits._
    val boiler = passage(9)
    // 40 base copies + 30 new copies = 70 > cap: batch drops the anchor
    // entirely, so the increment must produce NO pairs for it.
    val base = (0L until 40L).map(i => (i, boiler)).toDF("doc_id", "text")
    val shard = (100L until 130L).map(i => (i, boiler)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("idd-cap").toString
    IncrementalDedup.buildStore(spark, base, dir)
    val got = increments(IncrementalDedup.pairsForIncrement(spark, shard, dir))
    val full = batchPairs(base.unionAll(shard))
    assert(touching(full, (100L until 130L).toSet).isEmpty, "batch itself should cap")
    assert(got.isEmpty, s"capped anchor leaked ${got.size} pairs")
  }
}

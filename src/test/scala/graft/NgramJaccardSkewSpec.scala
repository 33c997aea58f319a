package graft

import org.scalatest.funsuite.AnyFunSuite

/** dd_ngram_jaccard's salted block join under adversarial skew: ONE
  * dominant source with uniform document lengths, so the unsalted
  * (source, size_bucket) block join would put essentially every
  * candidate pair on a single shuffle key (the round-5 perf_weak
  * finding). The max-pairs-per-shuffle-key is the max-task bound for
  * the join: salting with R salts must cut it ~R× while producing
  * exactly the same pair set. */
class NgramJaccardSkewSpec extends AnyFunSuite with LocalSpark {

  private val salts = 4

  override def beforeAll(): Unit = {
    super.beforeAll()
    // 400 docs, 390 of them in one source with one size bucket: the
    // dominant block a boilerplate-heavy crawl produces.
    spark.sql(
      """SELECT id AS doc_id,
        |       if(id < 390, 'hot_source', concat('src_', id % 5)) AS source,
        |       if(id < 390, 3, cast(id % 7 as int)) AS size_bucket
        |FROM range(400)""".stripMargin)
      .createOrReplaceTempView("skew_ids")
  }

  private def pairs(sql: String) = spark.sql(sql)

  test("salting cuts the dominant block's max shuffle-key pair count ~R times") {
    // Unsalted bound: pairs per (source, size_bucket).
    val unsaltedMax = pairs(
      """WITH pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.source, b.size_bucket
        |  FROM skew_ids a JOIN skew_ids b
        |    ON a.source = b.source AND a.size_bucket = b.size_bucket
        |   AND a.doc_id < b.doc_id)
        |SELECT max(n) FROM (SELECT count(*) AS n FROM pairs
        |                    GROUP BY source, size_bucket)""".stripMargin)
      .head().getLong(0)

    // Salted bound: pairs per (source, size_bucket, salt) — the actual
    // production CTEs from DedupQueries.
    val saltedMax = pairs(
      graft.queries.DedupQueries.ngramPairSql("skew_ids", salts) +
        """
          |SELECT max(n) FROM (SELECT count(*) AS n FROM pairs
          |                    GROUP BY source, size_bucket, salt)""".stripMargin)
      .head().getLong(0)

    // 390 docs in the hot block: unsalted ~76k pairs on one key.
    assert(unsaltedMax === 390L * 389 / 2)
    // Salt split is pmod(doc_id, R) on the smaller side: each of the R
    // keys gets ~1/R of the pairs. Allow 1.3x slack for residue skew.
    assert(saltedMax <= (unsaltedMax / salts * 1.3).toLong,
      s"salted max $saltedMax vs unsalted $unsaltedMax")
  }

  test("the salted pair set is exactly the unsalted pair set") {
    val unsalted = pairs(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM skew_ids a JOIN skew_ids b
        |  ON a.source = b.source AND a.size_bucket = b.size_bucket
        | AND a.doc_id < b.doc_id""".stripMargin)
    val salted = pairs(
      graft.queries.DedupQueries.ngramPairSql("skew_ids", salts) +
        "\nSELECT doc_a, doc_b FROM pairs")
    assert(salted.count() === unsalted.count(), "no pair may meet twice")
    assert(salted.except(unsalted).count() === 0 &&
      unsalted.except(salted).count() === 0)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** KmvBottomK custom aggregate: exact bottom-k semantics, dedup of
  * repeated values, and partial-merge invariance (the semilattice law the
  * shuffle relies on). */
class KmvAggSpec extends AnyFunSuite with LocalSpark {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.expr.GraftFunctions.register(spark)
  }

  test("keeps the k smallest distinct values, ascending") {
    val ss = spark; import ss.implicits._
    val vals = Seq(50L, 10L, 30L, 10L, 20L, 40L, 30L, 5L)
    vals.toDF("h").createOrReplaceTempView("t")
    val got = spark.sql("SELECT kmv_bottomk(h, 4) AS bk FROM t")
      .collect().head.getSeq[Long](0)
    assert(got == Seq(5L, 10L, 20L, 30L))
  }

  test("sub-k input returns all distinct values; nulls ignored") {
    val ss = spark; import ss.implicits._
    Seq(Some(3L), None, Some(1L), Some(3L)).toDF("h").createOrReplaceTempView("t2")
    val got = spark.sql("SELECT kmv_bottomk(h, 256) AS bk FROM t2")
      .collect().head.getSeq[Long](0)
    assert(got == Seq(1L, 3L))
  }

  test("partial-merge invariance: any partitioning yields the same sketch") {
    val ss = spark; import ss.implicits._
    val rnd = new scala.util.Random(11)
    val data = List.fill(5000)((rnd.nextInt(7).toString, rnd.nextLong()))
    val one = data.toDF("g", "h").coalesce(1)
    val many = data.toDF("g", "h").repartition(13)
    one.createOrReplaceTempView("one"); many.createOrReplaceTempView("many")
    val a = spark.sql("SELECT g, kmv_bottomk(h, 32) AS bk FROM one GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val b = spark.sql("SELECT g, kmv_bottomk(h, 32) AS bk FROM many GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
  }

  test("agg result matches the windowed bottom-k spelling on real data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("documents")
    val viaAgg = spark.sql(
      """WITH words AS (
        |  SELECT DISTINCT lang, word
        |  FROM (SELECT lang, split(text, ' ') AS w FROM documents)
        |  LATERAL VIEW explode(w) AS word),
        |hashed AS (SELECT lang,
        |    cast(conv(substr(md5(word), 1, 15), 16, 10) as bigint) AS h FROM words)
        |SELECT lang, kmv_bottomk(h, 64) AS bk FROM hashed GROUP BY lang""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val viaWindow = spark.sql(
      """WITH words AS (
        |  SELECT DISTINCT lang, word
        |  FROM (SELECT lang, split(text, ' ') AS w FROM documents)
        |  LATERAL VIEW explode(w) AS word),
        |hashed AS (SELECT lang,
        |    cast(conv(substr(md5(word), 1, 15), 16, 10) as bigint) AS h FROM words),
        |ranked AS (SELECT lang, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rnk FROM hashed)
        |SELECT lang, sort_array(collect_list(h)) AS bk
        |FROM ranked WHERE rnk <= 64 GROUP BY lang""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg == viaWindow)
  }

  test("sk_kmv_distinct plan: partial KmvBottomK before the exchange") {
    val p = SparkEntry.queries("sk_kmv_distinct")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // partial_kmv_bottomk proves map-side folding: the shuffle carries
    // K-bounded serialized buffers, not raw hashes. Must NOT weaken this
    // to a bare "kmv_bottomk" — that also matches the final aggregate and
    // would pass even with partial aggregation disabled.
    assert(p.contains("partial_kmv_bottomk"), s"no partial aggregate in:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
  }
}

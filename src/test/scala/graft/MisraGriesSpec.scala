package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MisraGriesCandidates: the n/K recall guarantee on a skewed stream
  * whose vocabulary exceeds K (the regime the documents fixture never
  * reaches — its per-language vocab is smaller than any sane K, so the
  * oracle gate alone would leave eviction and lossy merge untested), the
  * mergeability bound across arbitrary partitionings, and the plan shape
  * `text_heavy_hitters` relies on (partial aggregation before the
  * exchange). This is the spec that pins the GUARANTEE; the DuckDB
  * oracle pins only final-output parity.
  */
class MisraGriesSpec extends AnyFunSuite with LocalSpark {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.expr.GraftFunctions.register(spark)
  }

  /** Zipf-ish stream: ~40k-item tail vocabulary (far above K) plus a few
    * planted heavy items. Deterministic seed. */
  private def skewed(n: Int, heavy: Map[String, Int]): Seq[String] = {
    val rnd = new scala.util.Random(7)
    val tail = Seq.fill(n)("tail_" + rnd.nextInt(40000))
    val planted = heavy.flatMap { case (s, c) => Seq.fill(c)(s) }.toSeq
    rnd.shuffle(tail ++ planted)
  }

  test("every item above n/K survives eviction when vocabulary >> K") {
    val ss = spark; import ss.implicits._
    val k = 64
    // 30k tail rows + three planted items, each far above n/K = ~500.
    val heavy = Map("alpha" -> 2000, "beta" -> 1200, "gamma" -> 700)
    val data = skewed(30000, heavy)
    data.toDF("w").repartition(8).createOrReplaceTempView("mg_sk")
    val got = spark.sql(s"SELECT mg_candidates(w, $k) AS c FROM mg_sk")
      .collect().head.getSeq[String](0).toSet
    assert(got.size <= k, s"summary exceeded K: ${got.size}")
    heavy.keys.foreach(h => assert(got.contains(h), s"heavy item $h evicted"))
  }

  test("merge preserves the bound: recall holds under any partitioning") {
    val ss = spark; import ss.implicits._
    val k = 32
    val heavy = Map("hh1" -> 1500, "hh2" -> 900)
    val data = skewed(20000, heavy)
    // 1 partition vs 17: the merged summaries may differ in their tail
    // survivors (fold order), but the guaranteed items must be in BOTH.
    for (parts <- Seq(1, 17)) {
      data.toDF("w").repartition(parts).createOrReplaceTempView(s"mg_p$parts")
      val set = spark.sql(s"SELECT mg_candidates(w, $k) AS c FROM mg_p$parts")
        .collect().head.getSeq[String](0).toSet
      assert(set.size <= k)
      heavy.keys.foreach(h => assert(set.contains(h), s"$h lost at $parts partitions"))
    }
  }

  test("grouped summaries stay independent and nulls are ignored") {
    val ss = spark; import ss.implicits._
    val rows = Seq.fill(500)(("g1", "common")) ++
      (1 to 400).map(i => ("g1", s"rare_$i")) ++
      Seq.fill(300)(("g2", "other")) ++ Seq(("g2", null: String))
    rows.toDF("g", "w").repartition(5).createOrReplaceTempView("mg_grp")
    val m = spark.sql("SELECT g, mg_candidates(w, 8) AS c FROM mg_grp GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(m("g1").contains("common")) // 500 > 900/8
    assert(m("g2") == Set("other"))    // null never enters the summary
  }

  test("text_heavy_hitters output is the exact heavy-hitter set") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("text_heavy_hitters")(spark, dir)
    // Recompute naively (full groupBy) and compare as sets: the sketch
    // prefilter must not change the final answer.
    spark.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("documents")
    val naive = spark.sql(
      """WITH ws AS (SELECT lang, split(text, ' ') AS w FROM documents),
        |grams AS (
        |  SELECT lang, gram
        |  FROM (SELECT lang, transform(sequence(1, size(w) - 1),
        |                i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) AS gs
        |        FROM ws WHERE size(w) >= 2)
        |  LATERAL VIEW explode(gs) AS gram),
        |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY lang),
        |exact AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS cnt
        |          FROM grams GROUP BY lang, gram)
        |SELECT e.lang, e.gram, e.cnt FROM exact e JOIN tot t ON e.lang = t.lang
        |WHERE e.cnt * 1024 > t.n""".stripMargin)
    val a = got.select("lang", "gram", "cnt").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val b = naive.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(a == b, s"sketch-verified set diverged: ${a.diff(b)} / ${b.diff(a)}")
    assert(a.nonEmpty)
  }

  test("plan: partial mg_candidates before the exchange") {
    // The query pins its summary pass eagerly (pass 1 of two), so probe
    // the aggregation plan directly: partial_mg_candidates is the whole
    // point — the shuffle carries K-bounded serialized summaries per
    // group, not the raw items.
    val ss = spark; import ss.implicits._
    Seq(("en", "a b"), ("en", "b c"), ("de", "x y"))
      .toDF("lang", "gram").createOrReplaceTempView("mg_plan_t")
    val p = spark.sql(
      "SELECT lang, count(*), mg_candidates(gram, 4096) FROM mg_plan_t GROUP BY lang")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_mg_candidates"), s"no partial aggregate in:\n$p")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The PPJoin candidate-filter predicates — the positional (first shared
  * prefix token) bound and the PPJoin+-style suffix-slot bound
  * (cnt shared prefix tokens + remaining slots after the LAST one) —
  * exercised directly on crafted (size, prefix-position) layouts: the
  * fixture corpora rarely trigger them (their qualifying pairs share
  * EARLY prefix tokens — the dd_prefix_stats audit measures each stage),
  * so this spec is the evidence each bound FIRES when a shared token
  * layout leaves too little remaining overlap to reach α = ⌈(n+m)/3⌉,
  * and never fires when the overlap can still reach it. Over-pruning is
  * separately excluded by the oracle equality of dd_prefix_jaccard
  * against the naive all-pairs definition at both SFs. */
class PrefixJaccardSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2

  /** Run the exact cand-CTE shape over a hand-built prefix relation. */
  private def surviving(rows: Seq[(Long, String, Long, Long)]): Set[(Long, Long)] = {
    val ss = spark; import ss.implicits._
    rows.toDF("doc_id", "g", "rn", "n").createOrReplaceTempView("prefix_t")
    spark.sql(
      """SELECT a.doc_id AS d1, b.doc_id AS d2
        |FROM prefix_t a JOIN prefix_t b
        |  ON a.g = b.g AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |HAVING least(max(least(a.n - a.rn, b.n - b.rn)) + 1,
        |             count(*) + least(a.n - max(a.rn), b.n - max(b.rn)))
        |       >= (a.n + b.n + 2) div 3""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("a late-prefix-only match is pruned; an early match at the same sizes is not") {
    // Sets of 40 tokens: α = ceil(80/3) = 27.
    // Pair (1,2): only common token at position 20 in both — remaining
    // overlap bound min(20,20)+1 = 21 < 27 → PRUNE.
    // Pair (3,4): common token at position 1 — bound min(39,39)+1 = 40
    // ≥ 27 → keep for verification.
    val rows = Seq(
      (1L, "late", 20L, 40L), (2L, "late", 20L, 40L),
      (3L, "early", 1L, 40L), (4L, "early", 1L, 40L))
    assert(surviving(rows) === Set((3L, 4L)))
  }

  test("the suffix-slot bound prunes what the positional bound alone would keep") {
    // Pair (1,2) shares two tokens at ranks 1 and 20 (n = 40 each,
    // α = 27). Positional (first-token) bound: min(39,39)+1 = 40 ≥ 27 —
    // kept by PPJoin alone. Suffix-slot bound: every OTHER common token
    // must rank after the last shared prefix token on both sides, so
    // overlap ≤ 2 + min(40−20, 40−20) = 22 < 27 → prune, and the prune
    // is provably safe (22 is a true upper bound on the overlap).
    // Pair (3,4) shares two EARLY tokens (ranks 1, 2): suffix-slot bound
    // 2 + 38 = 40 ≥ 27 — two witnesses must tighten only when the last
    // one sits deep.
    val rows = Seq(
      (1L, "late", 20L, 40L), (2L, "late", 20L, 40L),
      (1L, "early", 1L, 40L), (2L, "early", 1L, 40L),
      (3L, "e1", 1L, 40L), (4L, "e1", 1L, 40L),
      (3L, "e2", 2L, 40L), (4L, "e2", 2L, 40L))
    assert(surviving(rows) === Set((3L, 4L)))
  }

  test("asymmetric sizes: the smaller remaining side bounds the overlap") {
    // n=40, m=10: α = ceil(50/3) = 17. Common token at rn 1 in both:
    // bound min(39, 9)+1 = 10 < 17 → prune (a 10-set can never reach
    // overlap 17 anyway — the size filter folded into the position math).
    val rows = Seq((1L, "t", 1L, 40L), (2L, "t", 1L, 10L))
    assert(surviving(rows) === Set.empty[(Long, Long)])
  }

  /** Run the depth-1 suffix-probe CTEs (the exact text dd_prefix_jaccard
    * executes) over a hand-built ranked relation + cand0 pair list. */
  private def probeSurvivors(ranked: Seq[(Long, String, Long, Long)],
      cand0: Seq[(Long, Long, Long, Long, Long, Long, Long, Long)]): Set[(Long, Long)] = {
    val ss = spark; import ss.implicits._
    ranked.toDF("doc_id", "g", "df", "rn").createOrReplaceTempView("ranked_probe_t")
    cand0.toDF("d1", "d2", "n1", "n2", "cnt", "px", "py", "alpha")
      .createOrReplaceTempView("cand0_probe_t")
    spark.sql(
      s"""WITH ranked AS (SELECT * FROM ranked_probe_t),
         |cand0 AS (SELECT * FROM cand0_probe_t),
         |${graft.queries.DedupQueries.suffixProbe("div")}
         |SELECT d1, d2 FROM cand1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Run the FULL depth-1 → depth-2 probe cascade (the exact text
    * dd_prefix_jaccard executes) over the same hand-built relations. */
  private def probe2Survivors(ranked: Seq[(Long, String, Long, Long)],
      cand0: Seq[(Long, Long, Long, Long, Long, Long, Long, Long)]): Set[(Long, Long)] = {
    val ss = spark; import ss.implicits._
    ranked.toDF("doc_id", "g", "df", "rn").createOrReplaceTempView("ranked_probe_t")
    cand0.toDF("d1", "d2", "n1", "n2", "cnt", "px", "py", "alpha")
      .createOrReplaceTempView("cand0_probe_t")
    spark.sql(
      s"""WITH ranked AS (SELECT * FROM ranked_probe_t),
         |cand0 AS (SELECT * FROM cand0_probe_t),
         |${graft.queries.DedupQueries.suffixProbe("div")},
         |${graft.queries.DedupQueries.suffixProbe2("div")}
         |SELECT d1, d2 FROM cand""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("the suffix probe prunes order-disjoint tails the slot bound keeps") {
    // Both pairs: n = 11 each, shared token at rn 1, cnt = 1,
    // α = ⌈22/3⌉ = 8, slot bound cnt + min(10, 10) = 11 ≥ 8 — the
    // pre-probe cascade keeps BOTH. Pair (1,2): x's tail is a01..a10,
    // y's tail is z01..z10 (same df, disjoint, all a.. < all z.. in the
    // (df, g) order) → median z05, xl=10, xr=0, m∉x →
    // H₁ = |10−4| + |0−5| + 1 = 12, bound 1 + (20−12)/2 = 5 < 8 →
    // PRUNED, and provably safely (true overlap is 1). Pair (3,4):
    // identical tails c01..c10 → H₁ = 0, bound 1 + 10 = 11 ≥ 8 → kept
    // (true overlap 11 — a genuine duplicate).
    def tail(doc: Long, p: String) =
      (1 to 10).map(i => (doc, f"$p$i%02d", 5L, 1L + i))
    val ranked =
      Seq((1L, "s", 2L, 1L), (2L, "s", 2L, 1L),
        (3L, "t", 2L, 1L), (4L, "t", 2L, 1L)) ++
        tail(1L, "a") ++ tail(2L, "z") ++ tail(3L, "c") ++ tail(4L, "c")
    val cand0 = Seq(
      (1L, 2L, 11L, 11L, 1L, 1L, 1L, 8L),
      (3L, 4L, 11L, 11L, 1L, 1L, 1L, 8L))
    assert(probeSurvivors(ranked, cand0) === Set((3L, 4L)))
  }

  test("the depth-2 recursive probe prunes skew the depth-1 median bound keeps") {
    // Both pairs: n = 11, shared token at rn 1, cnt = 1, α = ⌈22/3⌉ = 8.
    // Pair (1,2): x's tail is a1..a5 + z1..z5, y's tail is e1..e4 + m5 +
    // p1..p5 (one global df=5 tier, ordered by g). Depth-1 median m5:
    // xl = 5, xr = 5 vs yl = 4, yr = 5 → H₁ = |5−4| + |5−5| + 1 = 2,
    // bound 1 + (20−2)/2 = 10 ≥ 8 → depth 1 KEEPS the pair. Depth-2:
    // yl's median e2 — all five a's fall LEFT of it (xll = 5 vs
    // yll = 1, xlr = 0 vs ylr = 2, e2 ∉ x) → H(xl,yl) ≥ 4+2+1 = 7;
    // yr's median p3 — all five z's fall RIGHT (xrl = 0 vs yrl = 2,
    // xrr = 5 vs yrr = 2, p3 ∉ x) → H(xr,yr) ≥ 2+3+1 = 6;
    // H ≥ 7+1+6 = 14 → bound 1 + (20−14)/2 = 4 < 8 → PRUNED, provably
    // safely (true overlap is 1). Pair (3,4): identical tails c01..c10 —
    // every class matches exactly, H = 0, bound 11 ≥ 8 → kept.
    val ranked =
      Seq((1L, "s", 2L, 1L), (2L, "s", 2L, 1L),
        (3L, "t", 2L, 1L), (4L, "t", 2L, 1L)) ++
        (1 to 5).map(i => (1L, s"a$i", 5L, 1L + i)) ++
        (1 to 5).map(i => (1L, s"z$i", 5L, 6L + i)) ++
        (1 to 4).map(i => (2L, s"e$i", 5L, 1L + i)) ++
        Seq((2L, "m5", 5L, 6L)) ++
        (1 to 5).map(i => (2L, s"p$i", 5L, 6L + i)) ++
        (1 to 10).map(i => (3L, f"c$i%02d", 5L, 1L + i)) ++
        (1 to 10).map(i => (4L, f"c$i%02d", 5L, 1L + i))
    val cand0 = Seq(
      (1L, 2L, 11L, 11L, 1L, 1L, 1L, 8L),
      (3L, 4L, 11L, 11L, 1L, 1L, 1L, 8L))
    assert(probeSurvivors(ranked, cand0) === Set((1L, 2L), (3L, 4L)),
      "depth 1 must keep both (the depth-2 prune must be depth-2's work)")
    assert(probe2Survivors(ranked, cand0) === Set((3L, 4L)))
  }

  test("depth-2 passes through fully-consumed and empty-half pairs unchanged") {
    // uy = 0 pairs skip both probes; a pair whose yl half is EMPTY
    // (uy = 1: the median is y's only unseen token) must use the
    // collapsed class (every x token left of the median is unmatched)
    // rather than a null boundary. doc 9 has one unseen token "k";
    // doc 10's x-tail w1..w6 all rank right of "k" → xl0 = 0,
    // xm = 0, xr0 = 6 → H = 0 + 1 + 6 = 7, bound
    // cnt + (6 + 1 − 7)/2 = cnt = 3 ≥ α = 3 → kept on the exact
    // arithmetic of the collapsed classes.
    val ranked = Seq((9L, "k", 5L, 2L)) ++
      (1 to 6).map(i => (10L, s"w$i", 9L, 1L + i))
    val cand0 = Seq(
      (5L, 6L, 4L, 3L, 2L, 2L, 3L, 2L), // uy = 0: skip arm
      (10L, 9L, 7L, 2L, 3L, 1L, 1L, 3L)) // d2 = 9: uy = 1, ly = ry = 0
    assert(probe2Survivors(ranked, cand0) === Set((5L, 6L), (10L, 9L)))
  }

  test("a fully-consumed y side skips the probe and survives on its slot bound") {
    // py = n2: y has no unseen tokens, so overlap is already exactly cnt
    // and the pair reached cand0 only because cnt ≥ α held — the probe
    // must pass it through unchanged, not drop it for lack of a median.
    val ranked = Seq((5L, "u", 2L, 1L), (6L, "u", 2L, 1L))
    val cand0 = Seq((5L, 6L, 4L, 3L, 2L, 2L, 3L, 2L))
    assert(probeSurvivors(ranked, cand0) === Set((5L, 6L)))
  }

  test("the threshold parameter discriminates end-to-end (t=1/2 vs t=7/10)") {
    // The fixture corpora never exercise the threshold as a DISCRIMINATOR
    // (every qualifying pair there sits at J ≥ 0.88, so t = 0.5 and
    // t = 0.7 return identical sets and the oracle only proves each t's
    // internal formulas). This pins the discrimination itself on crafted
    // documents run through the REAL ddPrefixJaccardAt end-to-end:
    // docs 1/2 share words 1..16 of 20 → 12 of 16 distinct 5-shingles
    // each → J = 12/(16+16-12) = 0.60 ∈ [0.5, 0.7); docs 3/4 share
    // words 1..18 → J = 14/18 ≈ 0.78 ≥ 0.7.
    val ss = spark; import ss.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("pj_t_docs").toString
    def words(p: String, from: Int, to: Int) = (from to to).map(i => s"$p$i")
    val docs = Seq(
      (1L, words("a", 1, 20).mkString(" ")),
      (2L, (words("a", 1, 16) ++ words("b", 1, 4)).mkString(" ")),
      (3L, words("c", 1, 20).mkString(" ")),
      (4L, (words("c", 1, 18) ++ words("d", 1, 2)).mkString(" ")))
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    def pairs(p: Int, q: Int): Map[(Long, Long), Long] =
      graft.queries.DedupQueries.ddPrefixJaccardAt(spark, tmp, p, q)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    val atHalf = pairs(1, 2)
    assert(atHalf.keySet === Set((1L, 2L), (3L, 4L)))
    assert(atHalf((1L, 2L)) === 600000L)
    assert(atHalf((3L, 4L)) === 777777L)
    assert(pairs(7, 10).keySet === Set((3L, 4L)),
      "t = 0.7 must drop the J = 0.6 pair the t = 0.5 run keeps")
  }

  test("the adaptive depth-2 gate never changes results, only cost (r13)") {
    // Losslessness is depth-independent: the gate decides whether the
    // recursive probe RUNS, never what qualifies. Force both arms on
    // the real fixture — probe compelled (bound 0) vs probe suppressed
    // (bound maxed) — and the qualifying sets must be bit-identical.
    val dir = "/root/testdata/sf0.001"
    val key = graft.queries.DedupQueries.Probe2MinSurvivorsKey
    def run(): Set[Seq[Any]] =
      graft.queries.DedupQueries.ddPrefixJaccardAt(spark, dir, 1, 2)
        .collect().map(_.toSeq).toSet
    try {
      spark.conf.set(key, "0")
      val forced = run()
      spark.conf.set(key, Long.MaxValue.toString)
      val skipped = run()
      assert(forced.nonEmpty, "fixture must produce qualifying pairs")
      assert(forced === skipped,
        "gating the depth-2 probe changed the qualifying set — the " +
          "cascade is no longer lossless")
    } finally spark.conf.unset(key)
  }

  test("an empty x tail bounds the after-overlap at zero") {
    // x fully consumed (px = n1), y has 6 unseen tokens: xl = xr = xm =
    // 0, H₁ = yl + yr + 1 = uy → after-bound (ux + uy − uy)/2 = 0, so
    // the pair survives iff cnt ≥ α. cnt = 3, α = 4 → pruned even
    // though the slot bound cnt + min(0, 6) = 3... is also < α; raise
    // the slot entry artificially (cand0 is fed directly) to prove the
    // PROBE itself computes 3 + 0 < 4.
    val ranked = Seq((7L, "v", 2L, 1L)) ++
      (1 to 6).map(i => (8L, f"w$i%02d", 5L, i.toLong + 1))
    val cand0 = Seq((7L, 8L, 3L, 7L, 3L, 3L, 1L, 4L))
    assert(probeSurvivors(ranked, cand0) === Set.empty[(Long, Long)])
  }
}

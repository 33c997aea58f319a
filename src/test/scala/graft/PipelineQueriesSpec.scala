package graft

import org.scalatest.funsuite.AnyFunSuite

/** Corpus-assembly operators (PipelineQueries): result invariants the
  * oracle can't see (conservation laws between the outputs) plus the
  * plan shapes that make them 100 TB-safe. */
class PipelineQueriesSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)
  private def plan(name: String): String =
    run(name).queryExecution.executedPlan.toString

  test("pipe_pii_scrub: every injected category is found, masked, and leaves no residual") {
    import org.apache.spark.sql.functions._
    val out = run("pipe_pii_scrub").cache()
    try {
      // Injection schedule → detection floor, per category.
      Seq(7 -> "n_email", 11 -> "n_phone", 13 -> "n_ip", 17 -> "n_card",
          19 -> "n_ssn").foreach { case (m, c) =>
        val missed = out.filter(col("doc_id") % m === 0 && col(c) < 1).count()
        assert(missed === 0L, s"doc_id%$m==0 rows missing a $c detection")
      }
      // The compliance property: zero residual matches after the scrub,
      // and the scrubbed text carries the typed mask tokens.
      assert(out.filter(col("residual") =!= 0).count() === 0L)
      assert(out.filter(col("doc_id") % 7 === 0 &&
        !col("scrubbed").contains("<EMAIL>")).count() === 0L)
      // No scrub on untouched docs: n_redactions == 0 implies scrubbed
      // text equals the injected text equals the original.
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val unchanged = out.filter(col("n_redactions") === 0)
        .join(docs, "doc_id")
        .filter(col("scrubbed") =!= col("text")).count()
      assert(unchanged === 0L, "document without PII was modified")
    } finally out.unpersist()
  }

  test("pipe_mix_temperature: flattening lifts the tail and trims the head") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("pipe_mix_temperature")(spark, dir).cache()
    try {
      val rows = out.orderBy("n_docs").collect()
      val (smallest, largest) = (rows.head, rows.last)
      assert(smallest.getAs[Long]("temp_rate_micro") >
        smallest.getAs[Long]("share_micro"), "tail source not up-weighted")
      assert(largest.getAs[Long]("temp_rate_micro") <
        largest.getAs[Long]("share_micro"), "head source not down-weighted")
      // Rates are a near-partition of unity (integer floor loss < #sources).
      val total = out.agg(sum("temp_rate_micro")).head.getLong(0)
      assert(total > 1000000L - rows.length && total <= 1000000L)
    } finally out.unpersist()
  }

  test("pipe_split: duplicate contents never straddle the split boundary") {
    import org.apache.spark.sql.functions._
    // The driver corpus has no exact dups at this sf, so craft one with
    // heavy duplication: 100 docs over 20 distinct contents (5 copies
    // each) — the structure an id-hash split would leak.
    val ss = spark; import ss.implicits._
    val work = java.nio.file.Files.createTempDirectory("pipe-split").toString
    (0 until 100).map(i => (i.toLong, s"content number ${i % 20} repeated text",
        "en", s"src${i % 3}", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    val out = SparkEntry.queries("pipe_split")(spark, work).cache()
    try {
      assert(out.count() === 100L)
      // Every 5-copy group fully on one side.
      assert(out.groupBy("group_id")
        .agg(countDistinct("split").as("sides"), count(lit(1)).as("n"))
        .filter(col("sides") =!= 1 || col("n") =!= 5).count() === 0L)
      // And the real corpus: deterministic, ~10% val, nothing straddles.
      val real = SparkEntry.queries("pipe_split")(spark, dir)
      val valFrac = real.filter(col("split") === "val").count().toDouble /
        real.count()
      assert(valFrac > 0.03 && valFrac < 0.2, s"val fraction $valFrac")
      assert(real.groupBy("group_id").agg(countDistinct("split").as("s"))
        .filter(col("s") =!= 1).count() === 0L)
    } finally out.unpersist()
  }

  test("pipe_decontaminate: per-source counts conserve and eval docs are excluded") {
    val rows = run("pipe_decontaminate").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (train, cont, clean) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(cont + clean == train, s"conservation broke for ${r.getString(0)}")
      assert(cont >= 0 && cont <= train)
    }
    // Training universe = all docs minus the eval slice.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val expectedTrain = docs.where("doc_id % 11 <> 0").count()
    assert(rows.map(_.getLong(1)).sum == expectedTrain)
  }

  test("pipe_decontaminate: corpus is never cartesian-joined") {
    val p = plan("pipe_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.contains("LeftSemi"), "shingle membership should plan as a semi join")
  }

  test("pipe_decontaminate_bloom: bloom+exact-verify path is bit-identical to exact") {
    val exact = run("pipe_decontaminate").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val bloom = run("pipe_decontaminate_bloom").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(bloom == exact)
  }

  test("pipe_pack: chunks respect the running-total cut and cover all docs") {
    val rows = run("pipe_pack").collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(rows.map(_.getLong(2)).sum == docs.count())
    // Within a source, chunk ids start at 0 and strictly ascend with
    // first_doc. (Ids MAY legitimately skip when a single document is
    // larger than the 512-token budget — don't assert contiguity.)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byChunk = rs.sortBy(_.getLong(1))
      assert(byChunk.head.getLong(1) == 0L)
      assert(byChunk.map(_.getLong(1)).toSeq == byChunk.map(_.getLong(1)).distinct.sorted.toSeq)
      val firsts = byChunk.map(_.getLong(4))
      assert(firsts.toSeq == firsts.sortBy(identity).toSeq)
    }
    // A doc is assigned to the chunk where its prefix sum STARTS, so every
    // chunk but a source's last must have accumulated >= 512 tokens by the
    // time the next chunk opens (chunk_tokens can exceed 512 via overhang).
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val byChunk = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      byChunk.dropRight(1).zipWithIndex.foreach { case (_, i) =>
        assert(byChunk.take(i + 1).sum >= 512L * (i + 1) - 512,
          "chunk opened before its budget was reached")
      }
    }
  }

  test("pipe_pack: window is partitioned (no single-reducer stage)") {
    assert(!plan("pipe_pack").contains("Exchange SinglePartition"))
  }

  test("pipe_pack_bestfit: FFD dominates next-fit and a driver-side replay (r14)") {
    val rows = run("pipe_pack_bestfit").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (src, nDocs, total) = (r.getString(0), r.getLong(1), r.getLong(2))
      val (lb, ffd, nf) = (r.getLong(3), r.getLong(4), r.getLong(5))
      val (wFfd, wNf) = (r.getLong(6), r.getLong(7))
      // Sound packing: every bin count at least the splitting lower
      // bound; FFD never worse than arrival-order next-fit (it packs a
      // superset-compatible schedule over sorted sizes).
      assert(lb <= ffd && ffd <= nf, s"$src: lb=$lb ffd=$ffd nf=$nf")
      assert(wFfd <= wNf, s"$src: waste ffd=$wFfd nf=$wNf")
      // Conservation: padding waste accounts for exactly the non-total
      // capacity of the bins (oversize bins carry zero padding, so the
      // identity is an inequality: waste <= bins*512 - total).
      assert(wFfd <= ffd * 512 - total || ffd * 512 < total,
        s"$src: ffd waste $wFfd vs capacity ${ffd * 512} total $total")
      assert(nDocs > 0 && total > 0)
    }
    // Driver-side FFD replay over the same token estimates — bin counts
    // must agree exactly (the fold IS first-fit-decreasing).
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("source", "doc_id",
        "cast(ceil(length(text) / 4.0) as bigint) AS t").collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val sizes = docs(r.getString(0))
        .sortBy(x => (-x.getLong(2), x.getLong(1))).map(_.getLong(2))
      val bins = scala.collection.mutable.ArrayBuffer[Long]()
      sizes.foreach { s =>
        bins.indexWhere(_ >= s) match {
          case -1 => bins += 512L - s
          case i  => bins(i) -= s
        }
      }
      assert(bins.size.toLong === r.getLong(4),
        s"${r.getString(0)}: driver FFD ${bins.size} bins vs ${r.getLong(4)}")
    }
    // Non-vacuity: somewhere FFD strictly beats next-fit, else the
    // comparison ledger demonstrates nothing on this fixture.
    assert(rows.exists(r => r.getLong(4) < r.getLong(5)),
      "FFD never beat next-fit on the fixture — ledger is vacuous")
  }

  test("pipe_mix: rates are capped, deterministic, and kept <= docs") {
    val rows = run("pipe_mix").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (docs, share, rate, kept) =
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
      assert(rate >= 0.0 && rate <= 1.0)
      assert(share > 0.0 && share < 1.0)
      assert(kept <= docs)
      // rate == 1.0 only when the source is at or under its target share.
      if (rate < 1.0) assert(share * 500 < docs + 1e-9)
    }
    // Deterministic gate: a second run keeps exactly the same counts.
    val again = run("pipe_mix").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(4))).toSet ==
      again.map(r => (r.getString(0), r.getLong(4))).toSet)
  }

  test("text_tfidf_topk: ranks are dense 1..3 and rarer words score higher") {
    val rows = run("text_tfidf_topk").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(5)).sorted.toSeq == (1 to rs.length))
      // Scores non-increasing with rank.
      val byRank = rs.sortBy(_.getInt(5)).map(_.getDouble(4))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // score = tf * N / df exactly.
    val n = spark.read.parquet(s"$dir/documents.parquet").count().toDouble
    rows.foreach { r =>
      assert(r.getDouble(4) == r.getLong(2).toDouble * n / r.getLong(3).toDouble)
    }
  }

  test("sk_kmv_distinct: estimate tracks the exact count; exact below K") {
    val rows = run("sk_kmv_distinct").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, kUsed, est) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(kUsed <= 256)
      if (kUsed < 256) assert(est == exact.toDouble, s"${r.getString(0)}: sub-K sketch must be exact")
      else {
        // K=256 ⇒ ~1/sqrt(254) ≈ 6% std error; 25% is a 4-sigma guard.
        assert(math.abs(est - exact) / exact < 0.25,
          s"${r.getString(0)}: estimate $est too far from exact $exact")
      }
    }
  }

  test("pipe_canonicalize: one keeper per cluster, max-quality, originals beat re-crawls") {
    val keepers = run("pipe_canonicalize").collect()
    val clusters = graft.queries.DedupQueries.ddCluster(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._2)
    assert(keepers.length == clusters.size)
    keepers.foreach { k =>
      val (cid, keeper, size, dropped) =
        (k.getLong(0), k.getLong(1), k.getLong(2), k.getLong(4))
      assert(clusters(cid).map(_._1).contains(keeper))
      assert(dropped == size - 1)
      // Exact-duplicate clusters (re-crawl fixture) keep the ORIGINAL id.
      val members = clusters(cid).map(_._1)
      if (members.exists(_ >= 100000) && members.exists(m => members.contains(m + 100000)))
        assert(keeper < 100000)
    }
  }

  test("text_gopher_filters: verdict is non-vacuous and ratios are sane") {
    val rows = run("text_gopher_filters").collect()
    assert(rows.length == 500)
    val passes = rows.map(_.getInt(5))
    assert(passes.contains(1) && passes.contains(0), "filter must discriminate")
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0) // stop_frac
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0) // symbol_frac
      assert(r.getDouble(2) > 0.0) // mean_word_len
    }
  }

  test("text_length_quantiles: two-phase selection equals direct global ranking") {
    val got = run("text_length_quantiles").collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(0.25, 0.5, 0.75))
    val sorted = spark.read.parquet(s"$dir/documents.parquet")
      .select("n_chars").collect().map(_.getLong(0)).sorted
    got.foreach { case (q, v) =>
      assert(v == sorted(math.floor((sorted.length - 1) * q).toInt), s"q=$q")
    }
    assert(got(0.25) <= got(0.5) && got(0.5) <= got(0.75))
  }

  test("pipe_shard: shards cover the corpus and are hash-balanced") {
    val rows = run("pipe_shard").collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == docs)
    assert(rows.length == 16)
    val counts = rows.map(_.getLong(1))
    // md5 is uniform: no shard more than 3x the mean at n=500.
    assert(counts.max <= 3 * docs / 16)
    assert(!plan("pipe_shard").contains("Exchange SinglePartition"))
  }
}

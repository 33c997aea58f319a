package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TokenizerQueries.{UniMaxGram, UniMaxLen, UniProbes, UniTokCost}

/** Unigram-LM segmentation (text_unigram_segment): the relational DP
  * must match a classic driver-side Viterbi over the same integer-bit
  * vocabulary, every word must be segmentable (single chars are always
  * in-vocab), and the packed (cost, n_tokens) min must be the true
  * lexicographic optimum. */
class UnigramSegmentSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01"

  private def bitlen(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)

  test("relational DP equals the classic driver-side Viterbi") {
    spark.read.parquet(s"$dir/documents.parquet")
      .createOrReplaceTempView("docs_uni_spec")
    val words = spark.sql(
      s"""SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
         |FROM (SELECT explode(split(text, ' ')) AS w FROM docs_uni_spec)
         |WHERE w rlike '^[a-z]{2,$UniMaxLen}$$'
         |GROUP BY w""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Vocabulary costs, independently restated.
    val cnt = collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, f) =>
      for (i <- 0 until w.length; n <- 1 to UniMaxGram
           if i + n <= w.length)
        cnt.updateWith(w.substring(i, i + n))(p => Some(p.getOrElse(0L) + f))
    }
    val blTot = bitlen(cnt.values.sum)
    def cost(g: String): Long = blTot - bitlen(cnt(g)) + UniTokCost
    // Classic Viterbi per probe word.
    val probes = words.toSeq.sortBy { case (w, f) => (-f, w) }.take(UniProbes)
    def viterbi(w: String): (Long, Long) = {
      val d = Array.fill(w.length + 1)(Long.MaxValue)
      d(0) = 0L
      for (j <- 1 to w.length; n <- 1 to math.min(UniMaxGram, j)) {
        val i = j - n
        if (d(i) != Long.MaxValue) {
          val v = d(i) + cost(w.substring(i, j)) * 64 + 1
          if (v < d(j)) d(j) = v
        }
      }
      (d(w.length) / 64, d(w.length) % 64)
    }
    val got = SparkEntry.queries("text_unigram_segment")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet === probes.map(_._1).toSet)
    probes.foreach { case (w, _) =>
      assert(got(w) === viterbi(w), s"word '$w'")
      // Segmentable with at least the single-char fallback, and the DP
      // can never beat the trivial lower bound of one token.
      assert(got(w)._2 >= 1L && got(w)._2 <= w.length.toLong)
    }
    // The vocabulary is doing real work: some multi-char word is a
    // single token and some word still needs >1 token.
    assert(got.values.exists(_._2 == 1L))
    assert(got.values.exists(_._2 > 1L))
  }

  test("array-fold relaxation equals the round-form relaxation, both directions") {
    import graft.queries.TokenizerQueries
    // Registers uni_words_t / uni_edges_t over the fixture corpus.
    SparkEntry.queries("text_unigram_segment")(spark, dir).collect()
    def initF = spark.sql(
      "SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS val FROM uni_words_t " +
        s"ORDER BY freq DESC, word LIMIT $UniProbes")
    def initB = spark.sql(
      "SELECT word, length(word) AS pos, CAST(0 AS BIGINT) AS val " +
        "FROM (SELECT word, freq FROM uni_words_t " +
        s"ORDER BY freq DESC, word LIMIT $UniProbes)")
    for ((from, to, init) <- Seq(("src", "dst", initF), ("dst", "src", initB))) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      val fold = rows(TokenizerQueries.uniRelax(spark, "uni_edges_t", from, to, init))
      val rounds = rows(TokenizerQueries.uniRelaxRounds(spark, "uni_edges_t", from, to, init))
      assert(fold.nonEmpty && fold === rounds, s"direction $from->$to")
    }
  }

  test("bit-exact determinism across independent runs") {
    def run() = SparkEntry.queries("text_unigram_segment")(spark, dir)
      .orderBy("word").collect().toSeq
    assert(run() === run())
  }
}

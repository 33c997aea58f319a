package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.CorpusReport

/** The corpus report must be well-formed JSON whose figures agree with
  * the operators it composes. */
class CorpusReportSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("report agrees with the underlying oracle-checked operators") {
    val json = CorpusReport.report(spark, sfDir)
    def field(name: String): String = {
      val m = s""""$name":([0-9.eE+-]+)""".r.findFirstMatchIn(json)
      assert(m.isDefined, s"missing $name in $json"); m.get.group(1)
    }
    assert(field("docs").toLong == 500)
    assert(field("exact_dup_groups").toLong ==
      SparkEntry.queries("dd_exact")(spark, sfDir).count())
    assert(field("contaminated_docs").toLong > 0)
    assert(field("len_p25").toLong <= field("len_p50").toLong)
    assert(field("len_p50").toLong <= field("len_p75").toLong)
    val exact = field("vocab_exact").toLong
    val est = field("vocab_kmv").toDouble
    assert(exact > 0 && math.abs(est - exact) / exact < 0.5)
    assert(field("curated_tokens_kept").toLong > 0)
    assert(field("containment_pairs").toLong ==
      SparkEntry.queries("dd_containment")(spark, sfDir).count())
    val worst = field("worst_contamination_rate").toDouble
    assert(worst >= 0.0 && worst <= 1.0)
    assert(field("heavy_hitter_bigrams").toLong > 0)
    // BPE compresses (strictly more than 1 char/token on any wordy
    // corpus) and the span-dup fraction is a valid fraction.
    assert(field("bpe_chars_per_token").toDouble > 1.0)
    val spanDup = field("span_dup_block_fraction").toDouble
    assert(spanDup >= 0.0 && spanDup <= 1.0)
  }
}

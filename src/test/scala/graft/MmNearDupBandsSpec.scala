package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.MultimodalQueries

/** mm_near_dup_bands semantics on crafted quarters: the testdata fixture
  * only yields 4-band (exact-content) matches, so the ≥3-of-4 band
  * threshold — the part that makes this NEAR-dup rather than exact dup —
  * needs its own fixture: one quarter changed pairs, two quarters
  * changed does not. */
class MmNearDupBandsSpec extends AnyFunSuite with LocalSpark {

  private var dir: String = _

  // 40 chars, qlen 10: quarters are [1-10][11-20][21-30][31-40].
  private val base = "aaaaaaaaaabbbbbbbbbbccccccccccdddddddddd"
  private val lastQuarterOff = "aaaaaaaaaabbbbbbbbbbccccccccccddddddddXX"
  private val twoQuartersOff = "aaaaaaaaaaYYYYYYYYYYccccccccccddddddddXX"

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = Files.createTempDirectory("mm-bands").toString
    val ss = spark; import ss.implicits._
    // Ids avoid doc_id % 5 == 0 so the dedup corpus CTE injects no copies.
    Seq(
      (1L, base, "en", "src1", base.length.toLong),
      (2L, base, "en", "src1", base.length.toLong),
      (3L, lastQuarterOff, "en", "src1", lastQuarterOff.length.toLong),
      (4L, twoQuartersOff, "en", "src1", twoQuartersOff.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }

  test("one changed quarter pairs at 3 bands; two changed quarters do not pair") {
    val got = MultimodalQueries.mmNearDupBands(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // (3,4) pairs too: doc 4 differs from doc 3 only in quarter 2 (both
    // carry the changed 4th quarter). Doc 4 vs 1/2 is 2 bands → absent.
    assert(got == Map((1L, 2L) -> 4, (1L, 3L) -> 3, (2L, 3L) -> 3, (3L, 4L) -> 3),
      s"unexpected pair set: $got")
  }

  test("a band shared by >64 assets is background, not near-dup evidence") {
    val ss = spark; import ss.implicits._
    val capDir = Files.createTempDirectory("mm-bands-cap").toString
    // 66 docs share quarter 1 verbatim but differ in every other quarter:
    // the only shared band's group exceeds the 64-asset cap, so candidate
    // generation must produce NOTHING — the cap is what stops a popular
    // background block (intro logo frame, letterhead) from fanning out
    // n² pairs at scale. Ids skip multiples of 5 so the dedup corpus CTE
    // injects no exact copies.
    val rows = (0 until 66).map { i =>
      val id = (i / 4) * 5L + (i % 4) + 1 // dense but never ≡ 0 (mod 5)
      val t = "aaaaaaaaaa" + f"b$i%08d_" + f"c$i%08d_" + f"d$i%08d_"
      (id, t, "en", "src1", t.length.toLong)
    }
    assert(rows.map(_._1).distinct.size == rows.size)
    assert(rows.forall(_._1 % 5 != 0))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$capDir/documents.parquet")
    val n = MultimodalQueries.mmNearDupBands(spark, capDir).count()
    assert(n === 0, s"over-cap band must not generate pairs, got $n")
  }
}

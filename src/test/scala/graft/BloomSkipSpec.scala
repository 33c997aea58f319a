package graft

import org.scalatest.funsuite.AnyFunSuite

/** pipe_bloom_skip's two contract halves: NO FALSE NEGATIVES (every
  * present probe's true file is a candidate — structural, but this is
  * the regression net for the hash/mask plumbing) and a real skip
  * payoff (absent probes touch far fewer than all 32 files). The
  * cross-engine oracle separately pins every bit of the filter; this
  * spec pins the PROPERTIES the bits must deliver. */
class BloomSkipSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2

  test("no false negatives; absent keys skip nearly every file") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val rows = SparkEntry.queries("pipe_bloom_skip")(spark, s"/root/testdata/$sf")
        .collect()
      val (present, absent) = rows.partition(_.getInt(1) == 1)
      assert(present.length === 10 && absent.length === 10, s"$sf probe count")
      present.foreach { r =>
        assert(r.getInt(3) === 1,
          s"$sf: FALSE NEGATIVE for key ${r.getLong(0)}")
        assert(r.getLong(2) >= 1L)
      }
      val absCand = absent.map(_.getLong(2)).sum
      // 10 absent probes x 32 files = 320 possible touches; the filter
      // must eliminate the overwhelming majority.
      assert(absCand <= 32L,
        s"$sf: absent probes matched $absCand of 320 file-touches")
      info(s"$sf: absent-key candidates ${absCand}/320 " +
        f"(skip ratio ${100.0 * (1 - absCand / 320.0)}%.1f%%)")
    }
  }
}

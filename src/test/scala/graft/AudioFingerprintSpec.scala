package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.MultimodalQueries

/** Constellation fingerprint (mm_audio_fingerprint): the self-retrieval
  * contract — every probe ranks ITSELF first, fully aligned at offset 0
  * with exactly its own landmark count (2·n_frames − 3 hashes from the
  * Δ∈{1,2} pairing) — plus determinism. The oracle separately pins the
  * full match table; this spec states the retrieval invariant directly. */
class AudioFingerprintSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("every probe retrieves itself at rank 1, fully aligned at offset 0") {
    val rows = SparkEntry.queries("mm_audio_fingerprint")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))
    MultimodalQueries.FpProbes.foreach { p =>
      val top = rows.filter(t => t._1 == p && t._6 == 1)
      assert(top.length == 1, s"probe $p has ${top.length} rank-1 rows")
      val (_, matchId, nHash, nAligned, off, _) = top.head
      assert(matchId == p, s"probe $p rank-1 is $matchId, not itself")
      assert(off == 0L, s"probe $p self-match offset $off != 0")
      val nFrames = graft.model.AudioCodec.sampleCount(p) / MultimodalQueries.FpFrame
      val expectedHashes = 2 * nFrames - 3
      assert(nAligned == expectedHashes,
        s"probe $p aligned $nAligned != all $expectedHashes own landmarks")
      assert(nHash == nAligned,
        s"probe $p self-match has stray off-offset hash hits")
    }
  }

  test("bit-exact determinism across independent runs") {
    val a = SparkEntry.queries("mm_audio_fingerprint")(spark, dir)
      .orderBy("probe_id", "rnk").collect().toSeq
    val b = SparkEntry.queries("mm_audio_fingerprint")(spark, dir)
      .orderBy("probe_id", "rnk").collect().toSeq
    assert(a === b)
  }
}

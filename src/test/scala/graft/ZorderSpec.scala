package graft

import org.scalatest.funsuite.AnyFunSuite

/** pipe_zorder's Morton interleave and its locality claim. The bit
  * spreading must be an exact bijective interleave (checked against a
  * direct per-bit reference), and the z-order layout must beat the
  * insertion-order layout on the zone-map witness — summed per-bucket
  * extent areas — by a wide margin, while both layouts partition the
  * identical row multiset. */
class ZorderSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2

  /** Reference interleave: bit i of x at position 2i, of y at 2i+1. */
  private def refMorton(x: Int, y: Int): Long = {
    var z = 0L
    for (i <- 0 until 16) {
      z |= ((x >> i) & 1).toLong << (2 * i)
      z |= ((y >> i) & 1).toLong << (2 * i + 1)
    }
    z
  }

  test("the bit-spreading pipeline is the exact bit interleave") {
    // The same spread chain pipe_zorder compiles into SQL, run over a
    // probe grid including the mask boundaries.
    val probes = Seq((0, 0), (1, 0), (0, 1), (65535, 65535), (43690, 21845),
      (256, 255), (32768, 1), (12345, 54321))
    // BIGINT operands, exactly as pipe_zorder's dims CTE casts them — a
    // 32-bit interleave needs 64-bit shift space.
    val rows = probes.map { case (x, y) =>
      s"SELECT CAST($x AS BIGINT) AS x, CAST($y AS BIGINT) AS y"
    }.mkString(" UNION ALL ")
    def spread(v: String): String = {
      val s1 = s"(($v | shiftleft($v, 8)) & 16711935)"
      val s2 = s"(($s1 | shiftleft($s1, 4)) & 252645135)"
      val s3 = s"(($s2 | shiftleft($s2, 2)) & 858993459)"
      s"(($s3 | shiftleft($s3, 1)) & 1431655765)"
    }
    val got = spark.sql(
      s"SELECT x, y, CAST(${spread("x")} | shiftleft(${spread("y")}, 1) AS BIGINT)" +
        s" AS z FROM ($rows)")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2)).toMap
    probes.foreach { case (x, y) =>
      assert(got((x, y)) === refMorton(x, y), s"interleave wrong at ($x, $y)")
    }
  }

  test("z-order layout beats insertion order on the zone-map area witness") {
    val rows = SparkEntry.queries("pipe_zorder")(spark, "/root/testdata/sf0.001")
      .collect()
    val byLayout = rows.groupBy(_.getString(0))
    assert(byLayout.keySet === Set("zorder", "insertion"))
    def total(l: String, idx: Int) = byLayout(l).map(_.getLong(idx)).sum
    // Both layouts partition the same rows.
    assert(total("zorder", 2) === total("insertion", 2))
    val (za, ia) = (total("zorder", 7), total("insertion", 7))
    assert(za * 10 < ia,
      s"z-order area $za not >=10x better than insertion $ia")
    info(s"summed zone-map area: zorder=$za insertion=$ia (${ia / za}x)")
  }
}

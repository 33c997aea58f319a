package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TimeSeriesQueries

/** ts_discord's matrix-profile semantics pinned against an independent
  * reference implementation on crafted and seeded-random series — the
  * oracle compare proves the engines agree; this proves they compute
  * the RIGHT discord (exclusion zone included). */
class DiscordSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2
  private val N = 30
  private val M = TimeSeriesQueries.MpLen
  private val Excl = TimeSeriesQueries.MpExcl

  /** Reference matrix profile + discord (max nn-dist, lowest window). */
  private def refDiscord(series: Array[Long]): (Int, Long) = {
    val w = N - M
    val prof = (0 to w).map { i =>
      (0 to w).collect { case j if math.abs(i - j) >= Excl =>
        (0 until M).map(t => { val d = series(i + t) - series(j + t); d * d }).sum
      }.min
    }
    val best = prof.max
    (prof.indexOf(best), best)
  }

  private def sqlDiscord(users: Map[Long, Array[Long]]): Map[Long, (Int, Long)] = {
    val ss = spark; import ss.implicits._
    users.toSeq.flatMap { case (u, s) =>
      s.zipWithIndex.map { case (c, d) => (u, d.toLong, c) }
    }.toDF("user_id", "day", "c").createOrReplaceTempView("dgrid")
    val wMax = N - M
    spark.sql("WITH " + TimeSeriesQueries.discordBody(
      s"LATERAL VIEW explode(sequence(greatest(0, day - ${M - 1}), " +
        s"least($wMax, day))) AS i"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
  }

  test("a spike week is the discord on an otherwise-flat series") {
    val flatWithSpike = Array.tabulate(N)(d => if (d >= 12 && d < 15) 50L else 2L)
    val got = sqlDiscord(Map(1L -> flatWithSpike))
    assert(got(1L) == refDiscord(flatWithSpike))
    // The discord window must actually cover the spike.
    val w = got(1L)._1
    assert(w <= 12 && w + M > 12, s"discord window $w misses the spike")
  }

  test("matches the reference matrix profile on seeded random series") {
    val rnd = new scala.util.Random(19)
    val users = (1L to 5L).map(u => u -> Array.fill(N)(rnd.nextInt(20).toLong)).toMap
    val got = sqlDiscord(users)
    users.foreach { case (u, s) =>
      assert(got(u) == refDiscord(s), s"user $u")
    }
  }
}

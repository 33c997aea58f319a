package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CdcQueries

/** e17_lifecycle's state machine on crafted (user, week) activity — the
  * fixture's users never lapse, so the churned/resurrected branches and
  * the growth-accounting identities are only reachable here (the
  * PrefixJaccardSpec discipline: oracle equality proves the engines
  * agree, the spec proves the operator does the RIGHT thing). */
class LifecycleSpec extends AnyFunSuite with LocalSpark {

  override protected def cpus = 2

  /** Run the production body over an explicit (user, week) activity set. */
  private def ledger(active: Seq[(Long, Long)]): Map[(Long, String), Long] = {
    val ss = spark; import ss.implicits._
    active.toDF("user_id", "wk").createOrReplaceTempView("lc_active_t")
    spark.sql(
      s"""WITH e AS (SELECT user_id, CAST(wk AS BIGINT) AS wk FROM lc_active_t),
         |${CdcQueries.lifecycleBody("div")}""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
  }

  test("all four states fire on a gap-and-return history") {
    // u1: weeks 0,1,2 (new, retained, retained)
    // u2: weeks 0, 2   (new, churned@1, resurrected@2)
    // u3: week 1 only  (new@1, churned@2)
    val got = ledger(Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 12L),
      (3L, 11L)))
    assert(got === Map(
      (0L, "new") -> 2L,
      (1L, "retained") -> 1L, (1L, "new") -> 1L, (1L, "churned") -> 1L,
      (2L, "retained") -> 1L, (2L, "resurrected") -> 1L, (2L, "churned") -> 1L))
  }

  test("no phantom churn past the observation horizon") {
    // Both users active in the final week: nothing may be emitted for
    // the (unobserved) week after it.
    val got = ledger(Seq((1L, 5L), (2L, 5L)))
    assert(got === Map((0L, "new") -> 2L))
  }

  test("growth-accounting identity on a randomized history") {
    val rnd = new scala.util.Random(3)
    val active = for {
      u <- 1L to 40L; w <- 0L to 9L if rnd.nextBoolean()
    } yield (u, w)
    val got = ledger(active)
    val weeks = active.map(_._2).toSet
    val w0 = weeks.min
    weeks.foreach { w =>
      val actives = active.count(_._2 == w).toLong
      val sum = Seq("new", "retained", "resurrected")
        .map(s => got.getOrElse((w - w0, s), 0L)).sum
      assert(sum === actives, s"active_w identity broken at week $w")
    }
    // churned_{w+1} = active_w - retained_{w+1} for interior weeks.
    (w0 until weeks.max).foreach { w =>
      val actives = active.count(_._2 == w).toLong
      val retainedNext = got.getOrElse((w + 1 - w0, "retained"), 0L)
      val churnedNext = got.getOrElse((w + 1 - w0, "churned"), 0L)
      assert(churnedNext === actives - retainedNext,
        s"churn identity broken at week ${w + 1}")
    }
  }
}

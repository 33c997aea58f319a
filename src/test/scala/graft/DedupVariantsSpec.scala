package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupQueries, SimilarityQueries}

/** The scale-path variants must be RESULT-identical to their baseline
  * formulations — salting and star contraction reshape the shuffle, not
  * the answer — and their plans must show the reshaping actually happened. */
class DedupVariantsSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("salted LSH band join yields exactly the unsalted pair set") {
    val plain = DedupQueries.ddMinhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = DedupQueries.ddMinhashLshSalted(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(plain.nonEmpty)
    assert(salted === plain)
  }

  test("salted LSH join keys carry the salt (hot buckets split R ways)") {
    val plan = DedupQueries.ddMinhashLshSalted(spark, dir)
      .queryExecution.executedPlan.toString
    // The PAIR JOIN ITSELF must key on (…, band_key, …, salt_b/salt) —
    // salt merely appearing in a projection would mean the salting is
    // inert (R× shuffle volume, zero skew splitting). Look for a join
    // node whose key list contains both band_key and salt_b on one line.
    val joinLine = plan.linesIterator.find(l =>
      l.contains("Join") && l.contains("band_key"))
    assert(joinLine.isDefined, "no join on band_key found in plan")
    assert(joinLine.get.contains("salt_b"),
      s"salt_b missing from pair-join keys: ${joinLine.get.trim.take(200)}")
  }

  test("star contraction computes the same clusters as label propagation") {
    val prop = DedupQueries.ddCluster(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val star = DedupQueries.ddClusterStar(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(prop.nonEmpty)
    assert(star === prop)
  }

  test("star contraction converges on a path graph (worst-case diameter)") {
    // A 12-node chain is min-label propagation's worst case (11 rounds);
    // alternating large-star/small-star collapses it in O(log n) rounds.
    // Run the two primitives directly to a fixed point and check the
    // resulting star forest maps every node to the chain minimum.
    var edges = spark.createDataFrame(
      (1L to 11L).map(i => (i, i + 1))).toDF("u", "v")
    var rounds = 0
    var stable = false
    while (!stable && rounds < 8) {
      val next = DedupQueries.smallStar(DedupQueries.largeStar(edges))
        .localCheckpoint()
      stable = next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      edges = next
      rounds += 1
    }
    assert(stable, s"no fixed point after $rounds rounds")
    assert(rounds <= 6, s"took $rounds rounds — not logarithmic")
    val parents = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (2L to 12L).foreach(n => assert(parents(n) === 1L, s"node $n not rooted at 1"))
    assert(!parents.contains(1L))
  }

  test("star contraction matches model union-find on random graphs") {
    // Seeded property test: 10 random graphs, components from the two-
    // primitive contraction loop must equal a driver-side union-find.
    val rnd = new scala.util.Random(20260812L)
    (1 to 10).foreach { trial =>
      val n = 4 + rnd.nextInt(20)
      val m = 1 + rnd.nextInt(28)
      val edgeList = Seq.fill(m) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a <= b) (a, b) else (b, a)
      }.filter(e => e._1 != e._2).distinct
      if (edgeList.nonEmpty) {
        // Model: union-find over the same edges.
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
        edgeList.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val touched = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
        val expect = touched.map(v => v -> {
          // Component label = min node in the component among touched nodes.
          val root = find(v.toInt)
          touched.filter(u => find(u.toInt) == root).min
        }).toMap

        var edges = spark.createDataFrame(edgeList).toDF("u", "v")
        var rounds = 0
        var stable = false
        while (!stable && rounds < 15) {
          val next = DedupQueries.smallStar(DedupQueries.largeStar(edges))
            .localCheckpoint(true)
          stable = next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
          edges = next
          rounds += 1
        }
        assert(stable, s"trial $trial: no fixed point in $rounds rounds")
        val parents = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val got = touched.map(v => v -> parents.getOrElse(v, v)).toMap
        assert(got === expect, s"trial $trial: n=$n edges=$edgeList")
      }
    }
  }

  test("IVF top-k returns at most k ranked neighbors per query") {
    val rows = SimilarityQueries.annIvfTopk(spark, dir).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= 3, s"query $q returned ${rs.length} rows")
      assert(rs.map(_.getInt(3)).sorted.sameElements(1 to rs.length))
    }
    // Self-matches are excluded by construction.
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("IVF assignment is deterministic across runs") {
    val a = SimilarityQueries.annIvfTopk(spark, dir).collect().map(_.toString).sorted
    val b = SimilarityQueries.annIvfTopk(spark, dir).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}

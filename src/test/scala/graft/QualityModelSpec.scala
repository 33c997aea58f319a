package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.QualityModelTrainer

/** Pins the LEARNING, not just engine parity (the PqSpec pattern): the
  * trained linear quality classifier must actually separate a labeled
  * synthetic fixture on a HELD-OUT split, be bit-deterministic across
  * retrains, and survive a save/load round trip. The DuckDB oracle on
  * `text_quality_model` proves both engines compute the same model from
  * the same data; this spec proves the model is worth computing.
  */
class QualityModelSpec extends AnyFunSuite with LocalSpark {

  // Deterministic labeled fixture: "good" docs draw from a prose
  // vocabulary, "bad" docs from a spam vocabulary, with a shared
  // function-word pool so the classes overlap on common features and the
  // model must learn the discriminative ones.
  private val proseVocab = Vector("analysis", "method", "result", "clear",
    "evidence", "study", "detail", "figure", "measure", "report", "section",
    "review", "careful", "precise", "context", "source")
  private val spamVocab = Vector("click", "free", "winner", "offer", "buy",
    "now", "limited", "deal", "cash", "prize", "urgent", "guarantee",
    "bonus", "cheap", "exclusive", "act")
  private val shared = Vector("the", "a", "of", "to", "and", "in", "is", "it")

  private def doc(id: Long, vocab: Vector[String]): String = {
    // LCG-ish deterministic word choice; ~40 words, 1/3 shared fillers.
    val words = (0 until 40).map { j =>
      val r = (id * 1315423911L + j * 2654435761L) & 0x7fffffffL
      if (j % 3 == 0) shared((r % shared.size).toInt)
      else vocab((r % vocab.size).toInt)
    }
    words.mkString(" ")
  }

  private def fixture = {
    val ss = spark; import ss.implicits._
    (0L until 200L).map { i =>
      val label = (i % 2).toInt // odd ids: label 1 = prose; even ids: label 0 = spam
      (i, doc(i, if (label == 1) proseVocab else spamVocab), label)
    }.toDF("doc_id", "text", "label")
  }

  test("trained model separates held-out docs (accuracy >= 0.9)") {
    val docs = fixture
    val train = docs.filter("doc_id % 5 != 0")
    val test = docs.filter("doc_id % 5 = 0")
    val model = QualityModelTrainer.train(spark, train)
    val scored = QualityModelTrainer.score(spark, test.select("doc_id", "text"), model)
      .join(test.select("doc_id", "label"), "doc_id")
    val (correct, total) = scored.collect().foldLeft((0, 0)) { (acc, r) =>
      val ok = r.getAs[Int]("predicted") == r.getAs[Int]("label")
      (acc._1 + (if (ok) 1 else 0), acc._2 + 1)
    }
    assert(total == 40, s"held-out split size: $total")
    val accuracy = correct.toDouble / total
    assert(accuracy >= 0.9, s"held-out accuracy $accuracy < 0.9")
  }

  test("training is bit-deterministic and bounded by the bucket space") {
    val docs = fixture
    def weightsOf(): (Map[Long, Long], Long, Long, Double) = {
      val m = QualityModelTrainer.train(spark, docs)
      (m.weights.collect().map(r =>
        r.getAs[Long]("f") -> r.getAs[Long]("w")).toMap, m.n1, m.n0, m.threshold)
    }
    val a = weightsOf()
    val b = weightsOf()
    assert(a == b, "retraining on identical data changed the model")
    assert(a._1.size <= graft.queries.LearnedQueries.Buckets)
    assert(a._2 == 100 && a._3 == 100)
  }

  test("save/load round trip serves identical scores") {
    val docs = fixture
    val model = QualityModelTrainer.train(spark, docs)
    val dir = java.nio.file.Files.createTempDirectory("qm-model").toString
    QualityModelTrainer.save(spark, model, dir)
    val loaded = QualityModelTrainer.load(spark, dir)
    assert(loaded.n1 == model.n1 && loaded.n0 == model.n0 &&
      loaded.threshold == model.threshold && loaded.buckets == model.buckets)
    val direct = QualityModelTrainer.score(spark, docs.select("doc_id", "text"), model)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("score_micro")).toMap
    val served = QualityModelTrainer.score(spark, docs.select("doc_id", "text"), loaded)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("score_micro")).toMap
    assert(direct == served)
  }

  test("lm_score ranks templated text above held-out fresh text") {
    val ss = spark; import ss.implicits._
    // Corpus: 40 copies of a template (even ids land in the LM train
    // split) + 20 HELD-OUT fresh docs (odd ids — the split is
    // doc_id % 2 = 0) whose vocabulary never occurs in training. The LM
    // must find template bigrams highly predictable and fresh ones not.
    // (Scoring docs inside the train split is degenerate by construction
    // — their own bigrams trained the counts — which is exactly why the
    // operator trains on a split instead of the full corpus.)
    val template = "this boilerplate notice is repeated verbatim across every page of the archive"
    val fresh = (0 until 20).map { i =>
      val id = 101L + 2 * i
      (id, (0 until 30).map(j => s"novel${id}x$j").mkString(" "))
    }
    val docs = ((0L until 40L).map(i => (i, template)) ++ fresh).toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    val scored = graft.queries.LearnedQueries.runLmScore(spark)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("lm_score")).toMap
    val tmplMean = (0L until 40L).map(scored).sum / 40
    val freshMean = fresh.map(f => scored(f._1)).sum / 20
    assert(tmplMean > 10 * (freshMean + 1),
      s"templated docs should dominate: template=$tmplMean fresh=$freshMean")
  }
}

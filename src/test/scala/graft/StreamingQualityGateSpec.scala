package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingQualityGate
import graft.tools.QualityModelTrainer

/** The train-batch / serve-stream split of the learned quality gate:
  * stream scores must be BIT-equal to the batch scorer's (same integer
  * fold, weight table embedded as a plan literal), admission must match
  * batch prediction exactly through a mid-stream restart, and a replay
  * with no new data must change nothing.
  */
class StreamingQualityGateSpec extends AnyFunSuite with LocalSpark {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.expr.GraftFunctions.register(spark)
  }

  private val proseVocab = Vector("analysis", "method", "result", "clear",
    "evidence", "study", "detail", "figure", "measure", "report")
  private val spamVocab = Vector("click", "free", "winner", "offer", "buy",
    "now", "limited", "deal", "cash", "prize")

  private def doc(id: Long, vocab: Vector[String]): String =
    (0 until 30).map { j =>
      val r = (id * 1315423911L + j * 2654435761L) & 0x7fffffffL
      vocab((r % vocab.size).toInt)
    }.mkString(" ")

  test("stream admission == batch prediction, bit-equal scores, through restart and replay") {
    val ss = spark; import ss.implicits._
    val train = (0L until 100L).map { i =>
      val label = (i % 2).toInt
      (i, doc(i, if (label == 1) proseVocab else spamVocab), label)
    }.toDF("doc_id", "text", "label")
    val model = QualityModelTrainer.train(spark, train)
    val work = java.nio.file.Files.createTempDirectory("sqg").toString
    QualityModelTrainer.save(spark, model, s"$work/model")

    // Arriving corpus: a fresh mix of both classes, in two waves.
    val wave1 = (200L until 230L).map(i =>
      (i, doc(i, if (i % 2 == 1) proseVocab else spamVocab))).toDF("doc_id", "text")
    val wave2 = (300L until 330L).map(i =>
      (i, doc(i, if (i % 2 == 1) proseVocab else spamVocab))).toDF("doc_id", "text")
    wave1.coalesce(1).write.mode("overwrite").parquet(s"$work/drop")
    StreamingQualityGate.run(spark, s"$work/drop", s"$work/model",
      s"$work/sink", s"$work/ckpt")

    // RESTART: wave 2 arrives, the service resumes from the checkpoint.
    wave2.coalesce(1).write.mode("append").parquet(s"$work/drop")
    StreamingQualityGate.run(spark, s"$work/drop", s"$work/model",
      s"$work/sink", s"$work/ckpt")

    val all = wave1.unionAll(wave2)
    val batchScored = QualityModelTrainer.score(spark, all, model)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("score_micro"), r.getAs[Int]("predicted"))).toMap
    val streamed = spark.read.parquet(s"$work/sink")
      .select("doc_id", "score_micro")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(streamed.keySet == batchScored.filter(_._2._2 == 1).keySet,
      "stream admission diverged from batch prediction")
    assert(streamed.keySet.nonEmpty && streamed.size < 60,
      "fixture should admit some and reject some")
    streamed.foreach { case (id, s) =>
      assert(s == batchScored(id)._1, s"score drifted for doc $id")
    }

    // REPLAY with no new data: nothing changes.
    StreamingQualityGate.run(spark, s"$work/drop", s"$work/model",
      s"$work/sink", s"$work/ckpt")
    val replayed = spark.read.parquet(s"$work/sink")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replayed == streamed.keySet, "replay changed the admitted set")
  }
}

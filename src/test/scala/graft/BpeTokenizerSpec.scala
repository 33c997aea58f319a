package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.BpeTokenizer

/** The persisted-tokenizer production loop: train → save → load → encode
  * equals train → encode; token expansion round-trips (concatenating a
  * document's expanded tokens reconstructs its letter stream exactly);
  * the token count agrees with the catalog query's arithmetic. */
class BpeTokenizerSpec extends AnyFunSuite with LocalSpark {

  private val dir = java.nio.file.Files.createTempDirectory("bpe-model").toString

  private def fixtureDocs() = {
    val ss = spark; import ss.implicits._
    Seq(
      (0L, "the scanner scans the table the table"),
      (1L, "scan the table scan the row"),
      (2L, "weird 42 punctuation, EVERYWHERE!"),
      (3L, "the the the scanner"))
      .toDF("doc_id", "text")
  }

  test("save/load round trip preserves the model; encode is identical") {
    val docs = fixtureDocs()
    val trained = BpeTokenizer.train(spark, docs)
    assert(trained.nonEmpty)
    BpeTokenizer.save(spark, trained, dir)
    val loaded = BpeTokenizer.load(spark, dir)
    assert(loaded == trained)
    val a = BpeTokenizer.encode(spark, docs, trained)
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    val b = BpeTokenizer.encode(spark, docs, loaded)
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    assert(a == b)
  }

  test("expanded tokens reconstruct each document's letter stream exactly") {
    val docs = fixtureDocs()
    val merges = BpeTokenizer.train(spark, docs)
    val enc = BpeTokenizer.encode(spark, docs, merges)
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getLong(2))).toMap
    val raw = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    raw.foreach { case (id, text) =>
      val letters = "[a-z]+".r.findAllIn(text.toLowerCase).mkString
      val (tokens, n) = enc(id)
      assert(tokens.mkString == letters, s"doc $id")
      assert(n == tokens.size, s"doc $id token count")
      // Compression happened: fewer tokens than letters on the wordy docs.
      if (letters.length > 10) assert(n < letters.length, s"doc $id uncompressed")
    }
  }

  test("expansions compose through nested merges") {
    val docs = fixtureDocs()
    val merges = BpeTokenizer.train(spark, docs)
    val exp = BpeTokenizer.expansions(merges)
    merges.foreach { m =>
      val viaPair = m.pair.map(c => exp.getOrElse(c.toString, c.toString)).mkString
      assert(exp(m.merged) == viaPair)
      assert(exp(m.merged).forall(c => c >= 'a' && c <= 'z'),
        s"expansion of ${m.idx} must be plain letters")
    }
  }
}

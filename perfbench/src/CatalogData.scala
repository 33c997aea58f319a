package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** The catalog tables the mix reads (`events`, `orders`, `documents`), in the column layout and value ranges of the TPC-H-ish
  * test tables the catalog is written against. The rows are a pure
  * function of the seed, so a query's output digest is too. */
object CatalogData {
  val events = 2000
  val orders = 2000
  val documents = 500

  private def writer(file: Path, schema: String): (MessageType, org.apache.parquet.hadoop.ParquetWriter[Group]) = {
    Files.createDirectories(file.getParent)
    val t = MessageTypeParser.parseMessageType(schema)
    (t, ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(t).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build())
  }

  private def table(dir: Path, name: String, schema: String)(rows: (SimpleGroupFactory, Group => Unit) => Unit): Unit = {
    val (t, w) = writer(dir.resolve(s"$name.parquet"), schema)
    try rows(new SimpleGroupFactory(t), g => w.write(g)) finally w.close()
  }

  private def micros(t: LocalDateTime): Long = {
    val i = t.toInstant(ZoneOffset.UTC)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private val words = Array("a", "the", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "key", "agg",
    "data", "column", "join", "small", "big", "query", "customer", "order", "stream",
    "group", "filter", "vector")

  def generate(dir: Path, seed: Long): Unit = {
    val rng = new SplittableRandom(seed)
    def pick[T](xs: Array[T]): T = xs(rng.nextInt(xs.length))
    def cents(lo: Int, hi: Int): Double = (lo + rng.nextInt(hi - lo + 1)) / 100.0

    table(dir, "events",
      """message events { optional int64 event_id; optional int64 ts (TIMESTAMP(MICROS,false));
        |optional int64 user_id; optional binary event_type (STRING); optional double value;
        |optional binary props (STRING); }""".stripMargin) { (g, out) =>
      val eventTypes = Array("signup", "error", "click", "view", "purchase")
      var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
      (0 until events).foreach { i =>
        ts = ts.plusNanos((rng.nextInt(240000000) + 1000L) * 1000L)
        out(g.newGroup().append("event_id", i.toLong).append("ts", micros(ts))
          .append("user_id", rng.nextInt(events / 66).toLong).append("event_type", pick(eventTypes))
          .append("value", cents(1, 49002)).append("props", s"""{"k": ${rng.nextInt(100)}}"""))
      }
    }

    val day0 = LocalDate.of(1995, 1, 1)
    table(dir, "orders",
      """message orders { optional int64 o_orderkey; optional int64 o_custkey;
        |optional binary o_orderstatus (STRING); optional double o_totalprice;
        |optional int64 o_orderdate (TIMESTAMP(MICROS,false)); optional binary o_orderpriority (STRING); }""".stripMargin) { (g, out) =>
      val status = Array("F", "O", "P")
      val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      (0 until orders).foreach { k =>
        out(g.newGroup().append("o_orderkey", k.toLong).append("o_custkey", rng.nextInt(orders / 10).toLong)
          .append("o_orderstatus", pick(status)).append("o_totalprice", cents(101370, 49997859))
          .append("o_orderdate", micros(day0.plusDays(rng.nextInt(2404)).atStartOfDay()))
          .append("o_orderpriority", pick(prio)))
      }
    }

    // A third of the documents are near-duplicates of an earlier one
    // (a few words changed), so the dedup queries find clusters.
    table(dir, "documents",
      """message documents { optional int64 doc_id; optional binary text (STRING);
        |optional binary lang (STRING); optional binary source (STRING); optional int64 n_chars; }""".stripMargin) { (g, out) =>
      val texts = scala.collection.mutable.ArrayBuffer[Array[String]]()
      (0 until documents).foreach { d =>
        val toks =
          if (d > 10 && rng.nextInt(3) == 0) {
            val base = texts(rng.nextInt(texts.size)).clone()
            (0 until 1 + base.length / 20).foreach(_ => base(rng.nextInt(base.length)) = pick(words))
            base
          } else Array.fill(8 + rng.nextInt(80))(pick(words))
        texts += toks
        val text = toks.mkString(" ")
        out(g.newGroup().append("doc_id", d.toLong).append("text", text)
          .append("lang", pick(Array("en", "en", "en", "de", "es", "fr", "zh")))
          .append("source", s"src${rng.nextInt(20)}").append("n_chars", text.length.toLong))
      }
    }
  }
}

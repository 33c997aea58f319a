package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession.local]] is the one session recipe: its defaults, its
  * caller-wins conf pairs, and that no other source file builds a
  * session of its own. */
class GraftSessionSpec extends AnyFunSuite {

  test("local[cpus], one shuffle partition per core, UTC, no UI; conf pairs win") {
    val spark = GraftSession.local(3)
    try {
      assert(spark.sparkContext.master === "local[3]")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
      assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(spark.sparkContext.uiWebUrl.isEmpty)
    } finally spark.stop()

    val custom = GraftSession.local(2,
      "spark.sql.shuffle.partitions" -> "5",
      "spark.sql.extensions" -> "graft.GraftExtensions")
    try {
      assert(custom.sparkContext.master === "local[2]")
      assert(custom.conf.get("spark.sql.shuffle.partitions") === "5")
      // A static conf: only takes effect if applied before the context exists.
      assert(custom.sql("SELECT truncate_utf8('héllo', 2) AS t").head().getString(0) === "h")
    } finally custom.stop()
  }

  test("no source file but GraftSession.scala builds its own session") {
    val needle = "SparkSession" + ".builder"
    val roots = Seq("src/main", "src/test", "contrib").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    def sources(root: Path): Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && (n.endsWith(".scala") || n.endsWith(".java"))
      }.toList
      finally s.close()
    }
    val builders = roots.flatMap(sources)
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString)
    assert(builders === Seq("src/main/scala/graft/GraftSession.scala"))
  }
}

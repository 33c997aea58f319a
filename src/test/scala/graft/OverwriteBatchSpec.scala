package graft

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, LocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.MicroBatch

/** Hadoop's checksummed local filesystem, counting the instances Hadoop
  * builds from `fs.file.impl`: a local filesystem class a user chose. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def initialize(name: URI, conf: Configuration): Unit = {
    CountingLocalFileSystem.instances.incrementAndGet()
    super.initialize(name, conf)
  }
}

object CountingLocalFileSystem {
  val instances = new AtomicInteger()
}

/** The window-write contract of [[MicroBatch.overwriteBatch]], whose
  * `file:` paths go through graft's fork-free local filesystem: checked
  * against the same write through Hadoop's default local filesystem
  * (chosen by `fs.file.impl`, which the write then honours). */
class OverwriteBatchSpec extends AnyFunSuite with LocalSpark {

  private val ImplKey = "fs.file.impl"
  private val CacheKey = "fs.file.impl.disable.cache"

  private var work: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("overwrite-batch").toString
  }

  private def window(from: Long, rows: Long): DataFrame =
    spark.range(from, from + rows, 1, 3).select(col("id"), (col("id") * 7).cast("string").as("v"))

  /** A session that writes through Hadoop's default local filesystem. */
  private def hadoopDefault(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(ImplKey, classOf[LocalFileSystem].getName)
    s
  }

  /** `window` re-homed on `session`, whose conf the write then uses. */
  private def on(session: SparkSession, df: DataFrame): DataFrame =
    session.createDataFrame(df.rdd, df.schema)

  /** Every file and directory under `dir`, `dir` itself included. */
  private def walk(dir: String): List[java.nio.file.Path] = {
    val all = Files.walk(Paths.get(dir))
    try all.iterator().asScala.toList finally all.close()
  }

  /** Each path under `dir` relative to it (part-file names generalized)
    * with its permission bits, sorted. */
  private def layout(dir: String): Seq[(String, String)] =
    walk(dir).map { p =>
      val rel = Paths.get(dir).relativize(p).toString.replaceAll("part-[^/]*", "part")
      rel -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.sorted

  private def partFiles(dir: String): Seq[File] =
    walk(dir).map(_.toFile).filter(_.getName.startsWith("part-"))

  test("graft's write and Hadoop's default write the same rows, layout, sidecars and bits") {
    val (graftDir, hadoopDir) = (s"$work/graft", s"$work/hadoop")
    MicroBatch.overwriteBatch(window(0, 500), 7, graftDir)
    MicroBatch.overwriteBatch(on(hadoopDefault(), window(0, 500)), 7, hadoopDir)

    val (g, h) = (spark.read.parquet(graftDir), spark.read.parquet(hadoopDir))
    assert(g.count() === 500)
    assert(g.exceptAll(h).isEmpty && h.exceptAll(g).isEmpty)

    assert(layout(graftDir) === layout(hadoopDir))
    // The options were the write's own: neither conf took them.
    assert(spark.conf.getOption(ImplKey).isEmpty)
    assert(spark.sparkContext.hadoopConfiguration.get(ImplKey) == null)
    for (dir <- Seq(graftDir, hadoopDir)) {
      val parts = partFiles(dir)
      assert(parts.nonEmpty)
      parts.foreach(f => assert(new File(f.getParentFile, s".${f.getName}.crc").length() > 0, f))
    }
  }

  test("a flipped byte fails the read of either write") {
    for (((name, session), i) <- Seq("graft" -> spark, "Hadoop's default" -> hadoopDefault()).zipWithIndex) {
      val dir = s"$work/flip$i"
      MicroBatch.overwriteBatch(on(session, window(0, 200)), 0, dir)
      val part = partFiles(dir).head
      val raf = new RandomAccessFile(part, "rw")
      try { raf.seek(4); raf.write(raf.read() ^ 0xff) } finally raf.close()
      val e = intercept[Exception](spark.read.parquet(dir).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ChecksumException]), s"$name: $e")
    }
  }

  test("replaying a batch id rewrites only its own batch_id partition") {
    val dir = s"$work/replay"
    MicroBatch.overwriteBatch(window(0, 100), 0, dir)
    MicroBatch.overwriteBatch(window(100, 100), 1, dir)
    val batch1 = partFiles(s"$dir/batch_id=1").map(_.getName).sorted
    MicroBatch.overwriteBatch(window(1000, 30), 0, dir)

    val out = spark.read.parquet(dir)
    assert(out.filter(col("batch_id") === 0).select("id").collect().map(_.getLong(0)).sorted ===
      (1000L until 1030L))
    assert(out.filter(col("batch_id") === 1).count() === 100)
    assert(partFiles(s"$dir/batch_id=1").map(_.getName).sorted === batch1)
  }

  test("a local filesystem class set in the session or Hadoop conf is honoured") {
    def writeCounting(session: SparkSession, dir: String): Int = {
      val before = CountingLocalFileSystem.instances.get()
      MicroBatch.overwriteBatch(on(session, window(0, 50)), 0, dir)
      CountingLocalFileSystem.instances.get() - before
    }
    val counting = classOf[CountingLocalFileSystem].getName

    val viaSession = spark.newSession()
    viaSession.conf.set(ImplKey, counting)
    viaSession.conf.set(CacheKey, "true")
    assert(writeCounting(viaSession, s"$work/user_session") > 0)
    assert(viaSession.conf.get(ImplKey) === counting)
    assert(viaSession.conf.get(CacheKey) === "true")

    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val viaHadoop = spark.newSession()
    hadoopConf.set(ImplKey, counting)
    hadoopConf.set(CacheKey, "true")
    try {
      assert(writeCounting(viaHadoop, s"$work/user_hadoop") > 0)
      assert(hadoopConf.get(ImplKey) === counting)
      assert(hadoopConf.get(CacheKey) === "true")
    } finally { hadoopConf.unset(ImplKey); hadoopConf.unset(CacheKey) }
    assert(viaHadoop.conf.getOption(ImplKey).isEmpty && viaHadoop.conf.getOption(CacheKey).isEmpty)

    assert(spark.read.parquet(s"$work/user_session").count() === 50)
    assert(spark.read.parquet(s"$work/user_hadoop").count() === 50)
  }
}

package graft

import java.io.{File, RandomAccessFile}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The checkpoint-file contract graft's manager keeps on `file:` paths,
  * checked side by side with Spark's default manager: atomic create,
  * rename semantics, `.crc` sidecars, permission bits, and the routing of
  * every other scheme to Spark's `FileContext` manager. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def newRoot(): Path =
    new Path(Files.createTempDirectory("checkpoint-fm").toUri)

  /** graft's manager and Spark's default one, each on a fresh root. */
  private def bothManagers: Seq[(String, CheckpointFileManager, Path)] = {
    val (g, s) = (newRoot(), newRoot())
    Seq(("graft", new LocalCheckpointFileManager(g, conf), g),
      ("Spark's default", new FileContextBasedCheckpointFileManager(s, conf), s))
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: Path): Set[String] = new File(dir.toUri).list().toSet

  private def mode(p: Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p.toUri)))

  test("createAtomic is invisible until close, and cancel leaves no file") {
    for ((name, fm, root) <- bothManagers) {
      val dir = new Path(root, "offsets")
      fm.mkdirs(dir)
      val out = fm.createAtomic(new Path(dir, "0"), false)
      out.write("v1".getBytes(UTF_8))
      assert(!fm.exists(new Path(dir, "0")), name)
      out.close()
      assert(read(fm, new Path(dir, "0")) === "v1", name)

      val cancelled = fm.createAtomic(new Path(dir, "1"), false)
      cancelled.write("v1".getBytes(UTF_8))
      cancelled.cancel()
      assert(names(dir) === Set("0", ".0.crc"), name)
    }
  }

  test("a no-overwrite rename onto a file throws FileAlreadyExistsException; overwrite replaces it") {
    for ((name, fm, root) <- bothManagers) {
      val p = new Path(root, "commits/0")
      fm.mkdirs(p.getParent)
      write(fm, p, "first")
      intercept[FileAlreadyExistsException](write(fm, p, "second"))
      assert(read(fm, p) === "first", name)
      write(fm, p, "third", overwrite = true)
      assert(read(fm, p) === "third", name)
      // Spark keeps the refused temp file (hidden, dot-prefixed) for both.
      assert(names(p.getParent).filterNot(_.startsWith(".")) === Set("0"), name)
    }
  }

  test("the .crc sidecar is written and checked on read") {
    // Spark's default manager writes the same sidecar but reads through
    // FileContext.open(path), which skips the check, so only graft's
    // manager can be asked to refuse a corrupt file.
    val managers = bothManagers
    for ((name, fm, root) <- managers) {
      val p = new Path(root, "state/1.delta")
      fm.mkdirs(p.getParent)
      write(fm, p, "a state delta")
      assert(new File(new Path(p.getParent, ".1.delta.crc").toUri).length() > 0, name)
      // A file one manager wrote reads back through the other.
      managers.foreach { case (_, other, _) => assert(read(other, p) === "a state delta") }
    }
    val (_, fm, root) = managers.head
    val p = new Path(root, "state/1.delta")
    val raf = new RandomAccessFile(new File(p.toUri), "rw")
    try { raf.seek(2); raf.write('S') } finally raf.close()
    intercept[ChecksumException](read(fm, p))
  }

  test("files and directories get the default manager's permission bits") {
    val modes = bothManagers.map { case (_, fm, root) =>
      fm.mkdirs(new Path(root, "a/b"))
      write(fm, new Path(root, "a/b/f"), "x")
      Seq("a", "a/b", "a/b/f", "a/b/.f.crc").map(r => r -> mode(new Path(root, r)))
    }
    assert(modes.head === modes.last)
  }

  test("only paths on the local file system run on graft's local manager") {
    def underlying(p: String, c: Configuration = conf) =
      new LocalCheckpointFileManager(new Path(p), c).underlying
    assert(underlying(newRoot().toString).isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(underlying("relative/ckpt").isInstanceOf[FileSystemBasedCheckpointFileManager])

    // viewfs resolves through a mount table to a local directory, so the
    // routing is checked, and the routed manager used, without a network.
    val target = newRoot()
    val viewConf = new Configuration()
    viewConf.set("fs.viewfs.mounttable.default.link./ckpt", target.toString)
    val viewFm = new LocalCheckpointFileManager(new Path("viewfs:///ckpt"), viewConf)
    assert(viewFm.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
    viewFm.mkdirs(new Path("viewfs:///ckpt/offsets"))
    write(viewFm, new Path("viewfs:///ckpt/offsets/0"), "routed")
    assert(Files.readString(Paths.get(new Path(target, "offsets/0").toUri)) === "routed")

    // A path without a scheme takes the default file system's.
    viewConf.set("fs.defaultFS", "viewfs:///")
    assert(underlying("/ckpt", viewConf).isInstanceOf[FileContextBasedCheckpointFileManager])
  }
}

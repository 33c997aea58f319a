package graft.streaming

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager graft's streams commit through: offsets,
  * commit log, source log and state deltas. Spark's default manager goes
  * through Hadoop's local filesystem, which without `libhadoop` forks a
  * `chmod` for every file (and `.crc` sidecar) it creates and four
  * `readlink`s for every `FileContext` rename: 110 processes per keyed
  * micro-batch, paid before the batch is acked.
  *
  * On `file:` paths this is Spark's `FileSystemBasedCheckpointFileManager`
  * over one [[NioLocalFileSystem]] per JVM, the checksummed local
  * filesystem that sets permissions through `java.nio` (the class
  * [[MicroBatch.overwriteBatch]] also writes its windows through). So a
  * checkpoint write forks nothing and keeps the default manager's
  * contract: the temp file is renamed into place on close, `cancel`
  * leaves nothing behind, a no-overwrite rename onto an existing file
  * throws `FileAlreadyExistsException`, `.crc` sidecars are written and
  * checked on read, and files and directories get the same permission
  * bits. Every other scheme goes unchanged to Spark's
  * `FileContextBasedCheckpointFileManager`.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocalPath(path, hadoopConf))
      new LocalCheckpointFileManager.OnLocalFs(path, hadoopConf)
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)

  override def createAtomic(path: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = underlying.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(path, filter)
  override def mkdirs(path: Path): Unit = underlying.mkdirs(path)
  override def exists(path: Path): Boolean = underlying.exists(path)
  override def delete(path: Path): Unit = underlying.delete(path)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** Whether `path` resolves to the local filesystem: its own scheme, or
    * the default filesystem's when it has none. */
  private def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** One [[NioLocalFileSystem]] for every manager in the JVM, configured
    * from Hadoop's defaults and site files. */
  private lazy val sharedFs: FileSystem = {
    val conf = new Configuration()
    val fs = new NioLocalFileSystem
    fs.setConf(conf)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Spark's own file-system manager, run on [[sharedFs]]. Its constructor
    * still resolves `path`'s filesystem, a hit in Hadoop's cache. */
  private final class OnLocalFs(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = sharedFs
  }
}

package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.SparkSession

/** Driver-side sorted key index over one directory of staged parquet
  * files: it answers [[ParquetBackend]]'s boundary probes without a
  * Spark job, the way the reference answers them with one indexed
  * `TOP(batch_size)` seek (`sql_queries.py:218-309`).
  *
  *   - ENTRIES: one per `.parquet` file of the directory listing (the
  *     same listing the partition planner prunes), identified by
  *     (path, length, mtime). Every call re-lists the directory once:
  *     new or changed files are read, vanished ones drop out, so the
  *     minimum moves with retention cleanup. A rewrite that keeps both
  *     length and mtime is indistinguishable from no change.
  *   - READ: only `keyCols`, projected from the file's own footer schema
  *     through the parquet-hadoop Group API (int32/int64 columns,
  *     non-null by contract: a null key fails the read).
  *   - STORAGE: per file, the keys as one flat row-major `Array[Long]`
  *     sorted in signed lexicographic order, the order of the reader's
  *     `cmp4`/`cmp2` and of Spark's struct comparison (an int column
  *     widens to long without reordering).
  *   - MEMORY: a file a probe skips as wholly consumed keeps only its
  *     min/max, so the index holds the key columns of the backlog not yet
  *     admitted. A probe that needs a released file again (its position
  *     moved backwards) re-reads it.
  *
  * Not thread-safe: a micro-batch stream calls its source from one thread.
  */
private final class ParquetKeyIndex(dir: String, keyCols: Array[String]) {

  import ParquetKeyIndex.Entry

  private val width = keyCols.length
  private lazy val conf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()
  private var entries: Vector[Entry] = Vector.empty // listing order

  /** The files holding rows, after one `listStatus`; reads only files
    * that are new or changed since the last call. */
  private def refresh(): Vector[Entry] = {
    val path = new Path(dir)
    val known = entries.map(e => e.path -> e).toMap
    entries = path.getFileSystem(conf).listStatus(path).toVector
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val p = s.getPath.toString
        known.get(p)
          .filter(e => e.length == s.getLen && e.mtime == s.getModificationTime)
          .getOrElse {
            val keys = readKeys(p)
            val rows = keys.length / width
            new Entry(p, s.getLen, s.getModificationTime,
              if (rows == 0) null else keys.take(width),
              if (rows == 0) null else keys.takeRight(width), keys)
          }
      }
    entries.filter(_.min != null)
  }

  /** Smallest key in the directory; None when it holds no rows. */
  def min: Option[Array[Long]] =
    refresh().map(_.min).reduceOption((a, b) => if (compare(a, 0, b, 0) <= 0) a else b)

  /** Largest key in the directory; None when it holds no rows. */
  def max: Option[Array[Long]] =
    refresh().map(_.max).reduceOption((a, b) => if (compare(a, 0, b, 0) >= 0) a else b)

  /** The `limit`-th smallest key strictly after `start` (the largest
    * there is, when fewer), with the number of keys up to it. Files whose
    * max is at or below `start` are skipped and release their keys. */
  def ascendingAfter(start: Array[Long], limit: Int): Option[(Array[Long], Long)] = {
    val (live, consumed) = refresh().partition(e => compare(e.max, 0, start, 0) > 0)
    consumed.foreach(_.keys = null)
    merge(live.map { e =>
      val ks = keysOf(e)
      new Cursor(ks, search(ks, r => compare(ks, r, start, 0) > 0), 1)
    }, limit, sign = 1)
  }

  /** The `limit`-th largest key strictly below `below` (unbounded when
    * None; the smallest there is, when fewer), with the number of keys
    * down to it. Files whose min is at or above `below` are skipped and
    * release their keys. */
  def descendingBelow(below: Option[Array[Long]], limit: Int): Option[(Array[Long], Long)] = {
    val (live, consumed) =
      refresh().partition(e => below.forall(b => compare(e.min, 0, b, 0) < 0))
    consumed.foreach(_.keys = null)
    merge(live.map { e =>
      val ks = keysOf(e)
      val end = below.map(b => search(ks, r => compare(ks, r, b, 0) >= 0))
        .getOrElse(ks.length / width)
      new Cursor(ks, end - 1, -1)
    }, limit, sign = -1)
  }

  /** Files that may hold keys between `lo` and `hi` (unbounded above when
    * None), each bound open or closed, in listing order. */
  def files(lo: Array[Long], loOpen: Boolean,
      hi: Option[Array[Long]], hiOpen: Boolean): Array[String] =
    refresh().filter { e =>
      val above = compare(e.max, 0, lo, 0)
      (if (loOpen) above > 0 else above >= 0) && hi.forall { h =>
        val below = compare(e.min, 0, h, 0)
        if (hiOpen) below < 0 else below <= 0
      }
    }.map(_.path).toArray

  private def keysOf(e: Entry): Array[Long] = {
    if (e.keys == null) e.keys = readKeys(e.path)
    e.keys
  }

  /** A row position walking one file's sorted keys by `step` (±1). */
  private final class Cursor(val keys: Array[Long], var row: Int, val step: Int) {
    def valid: Boolean = row >= 0 && row < keys.length / width
  }

  /** k-way merge over the cursors in `sign` order (1 ascending, -1
    * descending), bounded by `limit` keys: the last key taken and how
    * many were taken. */
  private def merge(cursors: Seq[Cursor], limit: Int,
      sign: Int): Option[(Array[Long], Long)] = {
    val heap = new java.util.PriorityQueue[Cursor](math.max(1, cursors.size),
      (a: Cursor, b: Cursor) => sign * compare(a.keys, a.row, b.keys, b.row))
    cursors.foreach(c => if (c.valid) heap.add(c))
    var n = 0L
    var last: Array[Long] = null
    var lastRow = 0
    while (n < limit && !heap.isEmpty) {
      val c = heap.poll()
      last = c.keys; lastRow = c.row; n += 1
      c.row += c.step
      if (c.valid) heap.add(c)
    }
    if (n == 0) None
    else Some((java.util.Arrays.copyOfRange(last, lastRow * width, (lastRow + 1) * width), n))
  }

  /** First row of sorted `keys` for which the monotone `past` holds. */
  private def search(keys: Array[Long], past: Int => Boolean): Int = {
    var lo = 0
    var hi = keys.length / width
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (past(mid)) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Signed lexicographic comparison of row `ar` of `a` with row `br` of `b`. */
  private def compare(a: Array[Long], ar: Int, b: Array[Long], br: Int): Int = {
    var i = 0
    var c = 0
    while (c == 0 && i < width) {
      c = java.lang.Long.compare(a(ar * width + i), b(br * width + i))
      i += 1
    }
    c
  }

  /** The key columns of one file, row-major and sorted. */
  private def readKeys(file: String): Array[Long] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val footer = reader.getFooter.getFileMetaData.getSchema
      val fields = keyCols.map(c => footer.getFields.get(footer.getFieldIndex(c)))
      val projection = new MessageType(footer.getName, fields.toList.asJava)
      val isInt = fields.map(_.asPrimitiveType.getPrimitiveTypeName ==
        PrimitiveType.PrimitiveTypeName.INT32)
      reader.setRequestedSchema(projection)
      val keys = new Array[Long](Math.toIntExact(reader.getRecordCount * width))
      val io = new ColumnIOFactory().getColumnIO(projection)
      var i = 0
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(projection))
        var left = pages.getRowCount
        while (left > 0) {
          val g = records.read()
          var c = 0
          while (c < width) {
            if (g.getFieldRepetitionCount(c) == 0)
              throw new IllegalStateException(
                s"$file: null ${keyCols(c)} (key columns are non-null by contract)")
            keys(i) = if (isInt(c)) g.getInteger(c, 0).toLong else g.getLong(c, 0)
            c += 1; i += 1
          }
          left -= 1
        }
        pages = reader.readNextRowGroup()
      }
      sortRows(keys)
    } finally reader.close()
  }

  /** `keys` in sorted row order (as is, when the file was written sorted). */
  private def sortRows(keys: Array[Long]): Array[Long] = {
    val rows = keys.length / width
    if ((1 until rows).forall(r => compare(keys, r - 1, keys, r) <= 0)) keys
    else {
      val order = Array.tabulate[Integer](rows)(Integer.valueOf)
      java.util.Arrays.sort(order, (a: Integer, b: Integer) => compare(keys, a, keys, b))
      val out = new Array[Long](keys.length)
      order.indices.foreach(i =>
        System.arraycopy(keys, order(i) * width, out, i * width, width))
      out
    }
  }
}

private object ParquetKeyIndex {

  /** One staged file: `min`/`max` are null for a file with no rows, and
    * `keys` is null once released (wholly consumed). */
  final class Entry(val path: String, val length: Long, val mtime: Long,
      val min: Array[Long], val max: Array[Long], var keys: Array[Long])
}

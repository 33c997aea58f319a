package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** One change-table row in the staged feed layout the engine reads
  * (`CdcTableProvider.schema`). */
final case class FeedRow(lsn: Long, cmd: Int, seqval: Long, op: Int,
    eventId: Long, userId: Long, eventType: String, value: Double, props: String)

/** Shape of one generated table.
  *
  * @param keys       key space size
  * @param hotKeys    the first `hotKeys` keys are hot
  * @param hotShare   share of change events that go to a hot key
  * @param deleteShare share of events on a live key that delete it (the
  *                   rest update it; an event on an absent key inserts)
  * @param snapshotRows live keys at start, published as snapshot rows
  * @param events     change events (an update is two rows: pre and post
  *                   image); four events share a transaction (LSN)
  */
final case class FeedSpec(keys: Int, hotKeys: Int, hotShare: Double,
    deleteShare: Double, snapshotRows: Int, events: Int)

/** A generated table: its snapshot and its change rows in change-index
  * order, plus the results an independent consumer must arrive at. */
final class Feed(val snapshot: Vector[FeedRow], val changes: Vector[FeedRow]) {
  /** Rows a publisher emits: everything but PreUpdate images. */
  def published: Long = snapshot.size.toLong + changes.count(_.op != 3)

  /** Last-wins state per key after all rows: the highest-index
    * non-PreUpdate row, dropped when it is a delete. */
  def lastWins: Map[Long, FeedRow] = {
    val last = scala.collection.mutable.HashMap[Long, FeedRow]()
    (snapshot.iterator ++ changes.iterator).filter(_.op != 3)
      .foreach(r => last(r.userId) = r) // rows are in index order
    last.filter(_._2.op != 1).toMap
  }

  /** The table as it stands after only its first `n` change rows. */
  def prefix(n: Int): Feed = new Feed(snapshot, changes.take(n))
}

object FeedGen {
  private val eventTypes = Array("view", "click", "purchase", "signup", "error")

  def generate(spec: FeedSpec, seed: Long): Feed = {
    val rng = new SplittableRandom(seed)
    val live = new java.util.BitSet(spec.keys)
    def payload(eventId: Long, key: Long, op: Int, lsn: Long, cmd: Int, seq: Long) =
      FeedRow(lsn, cmd, seq, op, eventId, key, eventTypes(rng.nextInt(eventTypes.length)),
        rng.nextInt(50000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    val snapshot = Vector.tabulate(spec.snapshotRows) { k =>
      live.set(k)
      payload(k.toLong, k.toLong, 0, 0L, 0, 0L)
    }
    val changes = Vector.newBuilder[FeedRow]
    var seq = 0L
    (0 until spec.events).foreach { i =>
      val lsn = 1L + i / 4
      val cmd = i % 4
      seq += 1
      val key =
        if (spec.hotKeys > 0 && rng.nextDouble() < spec.hotShare) rng.nextInt(spec.hotKeys)
        else rng.nextInt(spec.keys)
      val eventId = 1000000000L + seq
      if (!live.get(key)) {
        live.set(key)
        changes += payload(eventId, key, 2, lsn, cmd, seq)
      } else if (rng.nextDouble() < spec.deleteShare) {
        live.clear(key)
        changes += payload(eventId, key, 1, lsn, cmd, seq)
      } else {
        val post = payload(eventId, key, 4, lsn, cmd, seq)
        changes += post.copy(op = 3, eventType = "pre", value = 0.0)
        changes += post
      }
    }
    new Feed(snapshot, changes.result())
  }

  private val schema = MessageTypeParser.parseMessageType(
    """message cdc {
      |  required int64 lsn_num; required int32 command_id;
      |  required int64 seqval_num; required int32 operation;
      |  optional int64 event_id; optional int64 user_id;
      |  optional binary event_type (STRING); optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /** Write rows as one parquet file, directly (no Spark job). */
  def write(rows: Seq[FeedRow], file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(file))
      .withType(schema).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { r =>
      w.write(groups.newGroup()
        .append("lsn_num", r.lsn).append("command_id", r.cmd)
        .append("seqval_num", r.seqval).append("operation", r.op)
        .append("event_id", r.eventId).append("user_id", r.userId)
        .append("event_type", r.eventType).append("value", r.value)
        .append("props", r.props))
    } finally w.close()
  }

  /** Write rows as consecutive files of `rowsPerFile` rows, in one pass;
    * file names sort in row order. Returns the files. */
  def writeWindows(rows: Seq[FeedRow], dir: Path, rowsPerFile: Int): Seq[Path] =
    rows.grouped(rowsPerFile).zipWithIndex.map { case (chunk, i) =>
      val f = dir.resolve(f"window-$i%05d.parquet")
      write(chunk, f)
      f
    }.toSeq
}

package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{ChangeIndex, Policies}

/** MULTI-TABLE CDC source: one streaming query over N tracked tables with
  * the reference's global admission scheduler (`main.py:209-284`, E6) —
  * the piece the single-table [[CdcTableProvider]] models only in
  * [[graft.model.Policies.admissionPlan]]:
  *
  *   - each trigger advances ONE dimension of ONE table (the reference's
  *     poll loop granularity), so the [[CdcOffset]] map in the offset log
  *     is the whole fleet's position;
  *   - a table is LAGGING when a FULL batchSize change window is pending
  *     (its boundary probe came back full). While ANY table lags,
  *     snapshots PAUSE — only lagging tables' change windows advance —
  *     and snapshot paging resumes once the glut drains
  *     (`main.py:243-244,263-264`);
  *   - within a phase, tables advance in option order (the reference's
  *     round-robin degenerates to this under AvailableNow-style draining).
  *
  * Layout convention: `baseDir/<table>/feed` holds the staged change
  * feed, `baseDir/<table>/snapshot` (optional) the snapshot table. With
  * `jdbcUrl` set the fleet instead polls LIVE change tables — capture
  * instance per table name, optional `snapshotTable.<table>` backfill —
  * through the same [[JdbcBackend]] the single-table source proves
  * row-for-row against parquet. The output schema prepends `table_name`
  * to the single-table schema — the reference's unified-topic
  * discriminator.
  *
  * Scale: the per-trigger cost is one boundary probe per table (the
  * reference pays the same per-table poll). Over staged parquet a probe
  * is a lookup in the table's driver-side key index — a directory
  * listing, a binary search per file and a `batchSize`-bounded merge,
  * no Spark job — and the index holds the key columns of the backlog not
  * yet admitted. The chosen window's partitions are the single-table
  * backend's, one per file whose key range overlaps the window — rows
  * never route through the driver.
  *
  * Usage:
  *   spark.readStream.format("graft.sources.CdcMultiTableProvider")
  *     .option("baseDir", dir).option("tables", "orders,events")
  *     .option("batchSize", "300").load()
  */
class CdcMultiTableProvider extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcMultiTableProvider.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcMultiTable(properties.asScala.toMap)
}

object CdcMultiTableProvider {
  val schema: StructType = StructType(
    StructField("table_name", StringType) +: CdcTableProvider.schema.fields)
}

private class CdcMultiTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "cdc_multi"
  override def schema(): StructType = CdcMultiTableProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = options.map { case (k, v) => k.toLowerCase -> v } ++
      opts.asCaseSensitiveMap().asScala.map { case (k, v) => k.toLowerCase -> v }
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = CdcMultiTableProvider.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          val tables = merged.getOrElse("tables", sys.error("tables option required"))
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          val batchSize = merged.getOrElse("batchsize", "2000").toInt
          val backends: Map[String, FeedBackend] = merged.get("jdbcurl") match {
            case Some(url) =>
              // JDBC fleet: capture instance = table name; optional
              // per-table snapshot via `snapshotTable.<table>` = schema.tbl.
              tables.map { t =>
                val snap = merged.get(s"snapshottable.$t".toLowerCase).map { st =>
                  st.split('.') match {
                    case Array(s, n) => (s, n)
                    case _ => ("dbo", st)
                  }
                }
                t -> (new JdbcBackend(url, t, snap, batchSize,
                  merged.getOrElse("terminateoncaptureinstancechange", "false")
                    .toBoolean): FeedBackend)
              }.toMap
            case None =>
              val base = merged.getOrElse("basedir", sys.error("baseDir option required"))
              tables.map { t =>
                val snap = s"$base/$t/snapshot"
                val hasSnap = {
                  val p = new org.apache.hadoop.fs.Path(snap)
                  p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
                    .exists(p)
                }
                t -> (new ParquetBackend(s"$base/$t/feed",
                  if (hasSnap) Some(snap) else None, batchSize): FeedBackend)
              }.toMap
          }
          new CdcMultiTableStream(tables, batchSize, backends,
            LsnGap.parse(merged.getOrElse("lsngapstrategy", "fail")),
            StartPoint.parse(merged.getOrElse("startpoint", "earliest")))
        }
      }
    }
  }
}

private class CdcMultiTableStream(tables: Seq[String], batchSize: Int,
    backends: Map[String, FeedBackend],
    gapStrategy: Policies.LsnGapAction = Policies.FailOnGap,
    startPoint: String = "earliest")
    extends MicroBatchStream with SupportsAdmissionControl {

  private val gapChecked = scala.collection.mutable.Set.empty[String]

  // `startPoint=latest` (see [[StartPoint]]): each table's fresh-follow
  // floor is its own current max index — per-table, because the fleet's
  // tables are at unrelated positions. MEMOIZED per stream instance: the
  // fallback for a table missing from a restored offset (newly added to
  // the `tables` option) runs through positions() on EVERY call, and a
  // re-probing floor could MOVE between latestOffset and
  // planInputPartitions — rows landing between the two probes would be
  // skipped forever while the committed end offset advanced past them.
  private lazy val initialPositions: Map[String, TablePosition] =
    tables.map { t =>
      t -> TablePosition(
        if (startPoint == "latest")
          backends(t).maxAvailableChange().getOrElse(ChangeIndex.Lowest)
        else ChangeIndex.Lowest,
        if (backends(t).hasSnapshot) SnapshotNotStarted else SnapshotDone)
    }.toMap

  private def initial(t: String): TablePosition = initialPositions(t)

  private def positions(o: Offset): Map[String, TablePosition] = {
    val m = o.asInstanceOf[CdcStreamOffset].offset.tables
    tables.map(t => t -> m.getOrElse(t, initial(t))).toMap
  }

  override def initialOffset(): Offset =
    CdcStreamOffset(CdcOffset(tables.map(t => t -> initial(t)).toMap))

  override def deserializeOffset(json: String): Offset =
    CdcStreamOffset(CdcOffset.fromJson(json))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchSize)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "SupportsAdmissionControl.latestOffset(start, limit) is used")

  /** The global scheduler. Boundary-probes every snapshot-done table
    * (a driver-side lookup each — the reference's per-table poll), then:
    * lagging tables drain first with snapshots paused; otherwise the
    * first unfinished snapshot advances one page; otherwise the first
    * table with pending changes advances one window. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val ps = positions(start)
    // Pending change window per snapshot-done table. A table still
    // snapshotting doesn't poll changes yet (per-table contract:
    // snapshot first), so it cannot lag.
    val pending: Map[String, Option[(ChangeIndex, Long)]] = tables.map { t =>
      t -> (if (ps(t).snapshot == SnapshotDone)
        backends(t).changeBoundary(ps(t).changeIndex) else None)
    }.toMap
    val lagging = tables.filter(t => pending(t).exists(_._2 >= batchSize)).toSet
    val (toPoll, snapshotsAllowed) = Policies.admissionPlan(tables, lagging)

    def advanceChange(t: String): Offset = {
      // G5 once per (query instance, table) — the startup validation
      // (see CdcMicroBatchStream.gapChecked for why not per trigger).
      val gap =
        if (!gapChecked.add(t)) LsnGap.Proceed
        else LsnGap.resolve(backends(t), t, ps(t).changeIndex, gapStrategy)
      gap match {
        case LsnGap.Resnapshot(resumeFrom) =>
          // G5: this table re-backfills before more changes.
          CdcStreamOffset(CdcOffset(ps.updated(t, ps(t).copy(
            snapshot = SnapshotNotStarted, changeIndex = resumeFrom))))
        case LsnGap.Proceed =>
          CdcStreamOffset(CdcOffset(ps.updated(t,
            ps(t).copy(changeIndex = pending(t).get._1))))
      }
    }

    val snapshotTable =
      if (!snapshotsAllowed) None
      else tables.find(t => ps(t).snapshot != SnapshotDone)
    snapshotTable match {
      case Some(t) =>
        val below = ps(t).snapshot match {
          case SnapshotAt(h) => Some(SnapshotKey.fromHex(h))
          case _ => None
        }
        val next = backends(t).snapshotPageBoundary(below) match {
          case None => ps(t).copy(snapshot = SnapshotDone)
          case Some((u, e)) =>
            ps(t).copy(snapshot = SnapshotAt(SnapshotKey.toHex(u, e)))
        }
        CdcStreamOffset(CdcOffset(ps.updated(t, next)))
      case None =>
        toPoll.find(t => pending(t).isDefined) match {
          case Some(t) => advanceChange(t)
          case None => CdcStreamOffset(CdcOffset(ps)) // fleet idle
        }
    }
  }

  /** Exactly one table's position differs between start and end (the
    * scheduler advances one dimension per trigger); its single-table
    * partitions are wrapped with the table tag. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = positions(start); val e = positions(end)
    tables.filter(t => s(t) != e(t)).flatMap { t =>
      val parts: Array[InputPartition] = (s(t).snapshot, e(t).snapshot) match {
        case (SnapshotDone, SnapshotNotStarted) =>
          Array.empty // G5 re-backfill flip: pages start NEXT trigger
        case (sp, ep) if sp != ep && ep != SnapshotDone =>
          val upper = sp match {
            case SnapshotAt(h) => Some(SnapshotKey.fromHex(h))
            case _ => None
          }
          val lower = ep match {
            case SnapshotAt(h) => SnapshotKey.fromHex(h)
            case _ => (Long.MinValue, Long.MinValue)
          }
          backends(t).snapshotPartitions(upper, lower)
        case (sp, SnapshotDone) if sp != SnapshotDone =>
          Array.empty
        case _ =>
          if (s(t).changeIndex >= e(t).changeIndex) Array.empty
          else backends(t).changePartitions(
            ChangeIndex.parts(s(t).changeIndex), ChangeIndex.parts(e(t).changeIndex))
      }
      parts.map(p => TaggedPartition(t, p): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    TaggedReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A single-table split tagged with its table name. */
private case class TaggedPartition(table: String,
    inner: InputPartition) extends InputPartition

/** Prepends the table-name discriminator to the single-table reader's
  * rows. */
private object TaggedReaderFactory extends PartitionReaderFactory {
  private val innerTypes = CdcTableProvider.schema.fields.map(_.dataType)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val TaggedPartition(table, inner) = partition: @unchecked
    val reader = CdcPredicateReaderFactory.createReader(inner)
    val tag = UTF8String.fromString(table)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = reader.next()
      override def get(): InternalRow = {
        val g = reader.get()
        val arr = new Array[Any](innerTypes.length + 1)
        arr(0) = tag
        var i = 0
        while (i < innerTypes.length) {
          arr(i + 1) = if (g.isNullAt(i)) null else g.get(i, innerTypes(i))
          i += 1
        }
        new GenericInternalRow(arr)
      }
      override def close(): Unit = reader.close()
    }
  }
}

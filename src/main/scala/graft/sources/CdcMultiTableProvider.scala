package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MULTI-TABLE CDC source: one streaming query over N tracked tables with
  * the reference's global admission scheduler (`main.py:209-284`, E6).
  * It builds the same [[CdcStream]] as the single-table
  * [[CdcTableProvider]] — which is this source's N = 1 case — with the
  * whole fleet, so the [[CdcOffset]] map in the offset log is the fleet's
  * position and a LAGGING table (a full batchSize change window pending)
  * pauses every snapshot until its glut drains (`main.py:243-244,263-264`).
  *
  * Layout convention: `baseDir/<table>/feed` holds the staged change
  * feed, `baseDir/<table>/snapshot` (optional) the snapshot table. With
  * `jdbcUrl` set the fleet instead polls LIVE change tables — capture
  * instance per table name, optional `snapshotTable.<table>` backfill —
  * through the same [[JdbcBackend]] the single-table source proves
  * row-for-row against parquet. The output schema prepends `table_name`
  * to the single-table schema — the reference's unified-topic
  * discriminator — which the reader writes into each row as it builds it.
  * Per trigger the fleet pays one driver-side boundary probe per table
  * (no Spark job), and rows never route through the driver.
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
    new CdcTable("cdc_multi", CdcMultiTableProvider.schema,
        properties.asScala.toMap, tagged = true)({ o =>
      val tables = o.required("tables")
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      o.jdbcUrl match {
        case Some(url) =>
          // JDBC fleet: capture instance = table name; optional
          // per-table snapshot via `snapshotTable.<table>` = schema.tbl.
          tables.map(t => t -> o.jdbcBackend(url, t, s"snapshotTable.$t"))
        case None =>
          val base = o.required("baseDir")
          tables.map { t =>
            val snap = s"$base/$t/snapshot"
            val hasSnap = {
              val p = new org.apache.hadoop.fs.Path(snap)
              p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
                .exists(p)
            }
            t -> new ParquetBackend(s"$base/$t/feed",
              if (hasSnap) Some(snap) else None, o.batchSize)
          }
      }
    })
}

object CdcMultiTableProvider {
  val schema: StructType = StructType(
    StructField("table_name", StringType) +: CdcTableProvider.schema.fields)
}

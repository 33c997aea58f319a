package graft.operators

import org.apache.spark.sql.Dataset

/** The ONE materialization seam every "pin this shared relation" site in
  * the library routes through (the r11 verdict's fault-tolerance ask).
  *
  * Why a seam: `localCheckpoint` is the cheapest pin — blocks live in
  * executor storage, no lineage — and is the right default on a healthy
  * cluster or in local mode. But a locally-checkpointed relation has NO
  * lineage and NO replication: on a real cluster a lost executor makes
  * its blocks unrecoverable and a long multi-stage catalog query dies
  * instead of recomputing. Production runs that care route the SAME call
  * sites to a reliable checkpoint (HDFS/object-store backed, survives
  * executor loss) by flipping one session conf — no per-site decisions,
  * no code change:
  *
  *   spark.conf.set("graft.pin.mode", "reliable")   // default "local"
  *   spark.conf.set("graft.pin.dir",  "hdfs://...") // reliable-mode dir
  *
  * Modes:
  *  - `local` (default): `Dataset.localCheckpoint` — executor-memory
  *    blocks, swept between queries by [[PinnedStages]].
  *  - `reliable`: `Dataset.checkpoint` — materialized to the checkpoint
  *    directory (`graft.pin.dir`, or the SparkContext's already-set
  *    checkpoint dir, or a java.io.tmpdir fallback for local runs);
  *    survives executor loss, costs a write+read of the pinned relation.
  *
  * `PinModeSpec` spot-checks catalog queries bit-equal across modes.
  */
object Pin {

  val ModeKey = "graft.pin.mode"
  val DirKey = "graft.pin.dir"
  /** Debug/audit hook (r15): when set, every pin writes the FORMATTED
    * physical plan of the relation being pinned to
    * `<dir>/<tag>_pinNN.txt` before materializing it — the pinned
    * stages are where the library's interesting plans live (the
    * returned Dataset is just a block scan). Never set in production;
    * `graft.tools.ExplainDump` drives it. */
  val ExplainDirKey = "graft.pin.explain.dir"
  val ExplainTagKey = "graft.pin.explain.tag"
  /** Debug/profile hook (r15): when "true", print each pin's wall-clock
    * materialization time tagged by [[ExplainTagKey]] — attributes a
    * query's cost to its build stages without a UI. */
  val TimeKey = "graft.pin.time"
  private val explainSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** @param level storage level for local-mode pins (r16): large
    *   relations that are read back only once or twice per pass can pin
    *   DISK_ONLY, keeping unified memory free for execution — the §5
    *   remedy for storage/execution contention under a many-query
    *   session's accumulated shared pins. None = Spark's localCheckpoint
    *   default (MEMORY_AND_DISK). Reliable mode ignores it (the
    *   checkpoint is file-backed by definition). */
  def pin[T](ds: Dataset[T], eager: Boolean = true,
      level: Option[org.apache.spark.storage.StorageLevel] = None): Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.getOption(ExplainDirKey).foreach { d =>
      val tag = spark.conf.get(ExplainTagKey, "pin")
      val p = java.nio.file.Paths.get(d,
        f"${tag}_pin${explainSeq.incrementAndGet()}%02d.txt")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, ds.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    val t0 = System.nanoTime()
    val out = spark.conf.get(ModeKey, "local") match {
      case "local" => level match {
        case Some(l) => ds.localCheckpoint(eager, l)
        case None    => ds.localCheckpoint(eager)
      }
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty || spark.conf.getOption(DirKey).isDefined)
          sc.setCheckpointDir(spark.conf.getOption(DirKey).getOrElse(
            s"${System.getProperty("java.io.tmpdir")}/graft-pin-${sc.applicationId}"))
        ds.checkpoint(eager)
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }
    if (spark.conf.get(TimeKey, "false") == "true")
      println(f"[pin] ${spark.conf.get(ExplainTagKey, "pin")}" +
        f"#${explainSeq.incrementAndGet()} ${(System.nanoTime() - t0) / 1e9}%.3f s")
    out
  }

  /** Unpersist the blocks behind `pinned`, a Dataset [[pin]] returned,
    * for a caller that owns the pin and reads it no more. A reliable-mode
    * pin's checkpoint files stay where they are. */
  def release(pinned: Dataset[_]): Unit =
    pinnedRdd(pinned).foreach(_.unpersist(blocking = false))

  /** The checkpointed RDD behind `pinned`: the `LogicalRDD` at its plan root. */
  private[operators] def pinnedRdd(pinned: Dataset[_]) =
    pinned.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** `df.pinned()` — the mechanical drop-in for `df.localCheckpoint()`. */
  implicit final class PinSyntax[T](private val ds: Dataset[T]) extends AnyVal {
    def pinned(eager: Boolean = true): Dataset[T] = pin(ds, eager)
  }
}

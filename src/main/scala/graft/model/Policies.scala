package graft.model

/** Small operational policies of the engine (SURVEY §2 A9, F12, G5, E7). */
object Policies {

  /** A9: topic/partition sizing from the observed change rate — one
    * partition per 10 rows/s, floor 1, cap 100
    * (`build_startup_state.py:111-119`). */
  def partitionCount(rowsPerSecond: Double): Int =
    math.max(1, math.min(100, (rowsPerSecond / 10.0).toInt))

  /** F12: destination topic naming (`options.py:90-94`). */
  def topicName(schemaName: String, tableName: String,
      template: String = "{schema}_{table}_cdc"): String =
    template.replace("{schema}", schemaName).replace("{table}", tableName)

  /** G5: what to do when the DB's minimum retained LSN has moved past the
    * stored progress (CDC cleanup outran us; `tracked_tables.py:137-163`,
    * `options.py:148-154`). */
  sealed trait LsnGapAction
  case object FailOnGap extends LsnGapAction
  case object IgnoreGap extends LsnGapAction
  case object ResnapshotOnGap extends LsnGapAction

  /** The gap predicate, `stored < predecessor(minAvailable)`: true exactly
    * when an index exists strictly between the stored cursor and the
    * retention floor, i.e. a cleaned row could have been missed. (The
    * coarser `stored < min` is wrong twice over: it false-positives when
    * the floor is the immediate successor, and it makes resnapshot
    * re-fire after its own backfill, which resumes at
    * `predecessor(min)`.) A floor at the Lowest sentinel has nothing
    * below it. Returns the strategy to apply on a gap. */
  def onLsnGap(minAvailable: ChangeIndex, stored: ChangeIndex,
      strategy: LsnGapAction): Option[LsnGapAction] =
    if (minAvailable == ChangeIndex.Lowest ||
        stored >= ChangeIndex.predecessor(minAvailable)) None // no gap
    else Some(strategy)

  /** E7: poll pacing bounds in seconds (`constants.py:6-7`). */
  val MinPollIntervalSeconds = 3
  val MaxPollIntervalSeconds = 10

  /** E8: a table with no publishes for 2x this interval re-emits progress
    * at its polled ceiling (`constants.py:10`). */
  val SlowTableHeartbeatIntervalSeconds = 180

  /** F9: clock-skew estimation between the database and this process
    * (`clock_sync.py:11-39`): sample (dbNow, localNow) pairs and take the
    * median delta; timestamps from the DB are corrected by it in the
    * latency metrics. */
  def clockSkewMillis(samples: Seq[(Long, Long)]): Long = {
    require(samples.nonEmpty, "need at least one (dbNow, localNow) sample")
    val deltas = samples.map { case (db, local) => db - local }.sorted
    deltas(deltas.size / 2)
  }

  /** E6: lagging-table admission — a table whose last change read returned
    * a full batch is "lagging": while any table lags, snapshots pause and
    * only lagging tables are polled until the glut drains
    * (`main.py:209-215,263-284`). Returns (tablesToPoll, snapshotsAllowed). */
  def admissionPlan(allTables: Seq[String],
      laggingTables: Set[String]): (Seq[String], Boolean) =
    if (laggingTables.isEmpty) (allTables, true)
    else (allTables.filter(laggingTables.contains), false)

  /** E8: decide whether a slow table needs a progress heartbeat — no
    * publish for 2x the heartbeat interval → emit one at the polled
    * ceiling with the recognizable all-0xff seqval / operation 4 shape
    * (`main.py:174-182`; `change_index.py:74-76`). */
  def heartbeatIndex(lastProducedEpochSec: Long, nowEpochSec: Long,
      polledCeilingLsn: Array[Byte]): Option[ChangeIndex] =
    if (nowEpochSec - lastProducedEpochSec < 2L * SlowTableHeartbeatIntervalSeconds) None
    else Some(ChangeIndex(polledCeilingLsn, 0,
      Array.fill(ChangeIndex.LsnBytes)(0xff.toByte), 4))
}

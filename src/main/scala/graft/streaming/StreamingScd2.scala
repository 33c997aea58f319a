package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming SCD Type-2 maintenance — the stateful streaming form of the
  * batch `c12_scd2` operator (and the continuous sibling of
  * [[graft.tools.Scd2Maintain.increment]]): change events arrive
  * continuously; each key holds its OPEN version in state; every incoming
  * event (Insert=2, PostUpdate=4, Delete=1) CLOSES the open version —
  * emitting the finished SCD2 row exactly once — and Insert/PostUpdate
  * open the next one. Closed versions are immutable the moment they are
  * emitted, which is what makes this streamable at all: the history table
  * is an append-only sink; only the one-row-per-live-key open edge lives
  * in the state store.
  *
  * Equivalence contract (proven by Scd2MaintainSpec through a restart):
  * on seq-ordered input — the LSN-order guarantee the CDC source
  * provides — the drained closed rows equal the batch operator's
  * non-current rows exactly, and the final state holds exactly the batch
  * operator's current rows. Out-of-order arrival would interleave a
  * version before an already-closed one; the stream (unlike batch, which
  * sees all history) cannot reopen an emitted row — the
  * [[StreamingFunnel]] divergence discipline: documented, not hidden.
  *
  * Scale notes: ONE stateful stage keyed by the dimension key; state is
  * one small case class per LIVE key (dead keys hold None and a
  * production deployment expires them with a timeout); emission is
  * append-only so the sink never rewrites. The 100 TB history build is
  * then: bootstrap with the batch operator, stream the tail with this.
  */
object StreamingScd2 {

  final case class ChangeIn(userId: Long, seq: Long, lsn: Long, op: Int,
      eventType: String, value: Double)

  /** The open version of one key (the state). */
  final case class OpenVersion(seq: Long, lsn: Long, eventType: String,
      value: Double)

  final case class VersionRow(userId: Long, versionSeq: Long,
      eventType: String, value: Double, validFromLsn: Long,
      validToLsn: Long, validToSeq: Long, closedByDelete: Boolean)

  /** One key's fold for one micro-batch: events in seq order; each one
    * closes the open version (emitting it) and ops 2/4 open the next.
    * Exposed for direct unit testing. */
  private[graft] def advance(userId: Long, incoming: Seq[ChangeIn],
      prev: Option[OpenVersion]): (Option[OpenVersion], Seq[VersionRow]) = {
    val events = incoming.filter(e => e.op == 1 || e.op == 2 || e.op == 4)
      .sortBy(_.seq)
    var open = prev
    val out = Seq.newBuilder[VersionRow]
    events.foreach { e =>
      open.foreach { v =>
        out += VersionRow(userId, v.seq, v.eventType, v.value, v.lsn,
          e.lsn, e.seq, closedByDelete = e.op == 1)
      }
      open = if (e.op == 1) None
             else Some(OpenVersion(e.seq, e.lsn, e.eventType, e.value))
    }
    (open, out.result())
  }

  /** Run the SCD2 stream over a parquet drop directory of change rows
    * (user_id, seqval_num, lsn_num, operation, event_type, value) until
    * all dropped files are processed. Emits each CLOSED version exactly
    * once; restarting with the same checkpoint resumes every key's open
    * version. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val schema = "user_id LONG, seqval_num LONG, lsn_num LONG, " +
      "operation INT, event_type STRING, value DOUBLE"
    val incoming = MicroBatch.fileSource(spark, schema, dropDir)
    val closed = incoming
      .selectExpr("user_id", "seqval_num", "lsn_num", "operation",
        "event_type", "value")
      .as[(Long, Long, Long, Int, String, Double)]
      .map { case (u, s, l, o, t, v) => ChangeIn(u, s, l, o, t, v) }
      .groupByKey(_.userId)
      .flatMapGroupsWithState[OpenVersion, VersionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[ChangeIn], state: GroupState[OpenVersion]) =>
          val (next, out) = advance(userId, it.toSeq, state.getOption)
          next match {
            case Some(v) => state.update(v)
            case None => state.remove()
          }
          out.iterator
      }
    MicroBatch.drainToParquet(closed, sinkDir, checkpointDir)
  }

  /** The drained closed rows, renamed to the batch operator's schema
    * (minus is_current, which is false for every emitted row). */
  def closedRows(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(sinkDir)
      .selectExpr("userId AS user_id", "versionSeq AS version_seq",
        "eventType AS event_type", "value",
        "validFromLsn AS valid_from_lsn", "validToLsn AS valid_to_lsn",
        "validToSeq AS valid_to_seq", "closedByDelete AS closed_by_delete")
}

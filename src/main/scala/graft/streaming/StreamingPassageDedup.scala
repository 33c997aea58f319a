package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact-PASSAGE duplicate detection — the streaming form of
  * the batch `dd_substring` operator: documents arrive continuously,
  * each yields its content-defined anchor windows (the same fused
  * `substring_anchors` kernel: 64-char windows kept when their own hash
  * ≡ 0 mod 16 — position-independent), and every anchor co-occurrence
  * with a previously seen document emits an event. A PAIR is confirmed
  * once ≥2 distinct anchors connect it — the batch operator's threshold.
  *
  * Mechanics: one stateful stage keyed by the anchor hash — per anchor
  * the state holds the claiming doc ids (first 64; see cap below). A new
  * claimant emits one co-occurrence event against each existing member.
  * The sink appends events; [[confirmedPairs]] is the recovery view that
  * folds them to pairs with ≥2 distinct shared anchors, exactly like the
  * other streaming operators' compacted-view reads.
  *
  * BOILERPLATE CAP — the one documented divergence from the batch
  * operator: batch EXCLUDES an anchor retroactively once >64 documents
  * carry it; a stream cannot un-emit, so the 65th claimant onward is
  * IGNORED (the anchor freezes — no new events, no state growth). On
  * any corpus where no anchor exceeds the cap the two operators agree
  * exactly (`StreamingPassageDedupSpec` proves equality); past the cap
  * the stream keeps the first 64 claimants' pairs where batch drops the
  * anchor entirely. Both bound per-anchor work to 64², which is the
  * point of the cap.
  *
  * Scale notes: state is hash-partitioned on the anchor hash — the same
  * sharding as the batch pair join's shuffle — and holds ≤64 longs per
  * anchor. Per-batch work is the anchor kernel (narrow projection) plus
  * the per-key fold; event fan-out per arrival is ≤63 per anchor.
  */
object StreamingPassageDedup {

  /** One anchor of one incoming document. */
  final case class AnchorRow(docId: Long, h: Long)

  /** docA < docB share anchor `h` (one event per anchor per pair). */
  final case class CoOccur(docA: Long, docB: Long, h: Long)

  /** Batch parity: the anchor-group cap (batch `HAVING count(*) <= 64`). */
  val BoilerplateCap = 64

  /** Co-occurrence fold for one anchor in one micro-batch: each NEW
    * claiming doc pairs with every existing member, then joins the
    * member list; claimants beyond [[BoilerplateCap]] are ignored.
    * Batch-internal arrivals sort by doc id so replays are
    * deterministic. Exposed for direct unit testing. */
  private[graft] def observe(anchor: Long, rows: Seq[AnchorRow],
      state: GroupState[Seq[Long]]): Iterator[CoOccur] = {
    var members = state.getOption.getOrElse(Seq.empty)
    val out = Seq.newBuilder[CoOccur]
    rows.map(_.docId).distinct.sorted.foreach { d =>
      if (!members.contains(d) && members.size < BoilerplateCap) {
        members.foreach { m =>
          out += CoOccur(math.min(m, d), math.max(m, d), anchor)
        }
        members = members :+ d
      }
    }
    state.update(members)
    out.result().iterator
  }

  /** Run until all currently-dropped files are processed (AvailableNow);
    * restart with the same checkpoint to keep pairing against everything
    * seen before. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    graft.expr.GraftFunctions.register(spark)
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars INT"
    val anchors = MicroBatch.fileSource(spark, schema, dropDir)
      .select(col("doc_id").as("docId"),
        explode(expr("substring_anchors(text)")).as("h"))
      .as[AnchorRow]

    val events = anchors
      .groupByKey(_.h)
      .flatMapGroupsWithState[Seq[Long], CoOccur](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: Long, rows: Iterator[AnchorRow], state: GroupState[Seq[Long]]) =>
          observe(h, rows.toSeq, state)
      }

    MicroBatch.drainToParquet(events, sinkDir, checkpointDir)
  }

  /** The confirmed-pair view over the event sink: pairs connected by ≥2
    * distinct anchors, with the batch operator's column layout. */
  def confirmedPairs(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.parquet(sinkDir)
      .groupBy(col("docA").as("doc_a"), col("docB").as("doc_b"))
      .agg(count_distinct(col("h")).as("shared_anchors"))
      .filter(col("shared_anchors") >= 2)
}

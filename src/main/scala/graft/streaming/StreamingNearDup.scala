package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming NEAR-duplicate rejection — the streaming form of the batch
  * `dd_minhash_lsh` operator: documents arrive continuously, each is
  * MinHash-banded (the same fused `minhash_signature` kernel and 4×4
  * banding as the batch query), and a document is admitted only if ALL
  * of its band buckets are unclaimed; any collision with a previously
  * seen document's band marks it a near-dup and rejects it.
  *
  * Mechanics: one stateful stage keyed by band bucket — the state store
  * holds, per bucket, the doc that first claimed it ("first writer
  * wins", ties within a batch broken by doc_id so replays are
  * deterministic). Each document yields 4 votes; the `foreachBatch` sink
  * tallies them and appends documents that won all 4. Claims persist in
  * the checkpoint, so near-dups of anything seen BEFORE a restart are
  * still rejected after it.
  *
  * Scale notes: state is hash-partitioned on the band bucket — each task
  * owns a shard of the claim table and lookups never leave the task, the
  * same sharding as the batch LSH band join. Greedy admission has the
  * usual chain property: in a family A≈B≈C arriving in id order, A is
  * admitted and B and C are rejected even though C may collide only with
  * the (rejected) B — rejected docs' claims still block their content
  * family, which is what a dedup gate wants.
  */
object StreamingNearDup {

  /** One exploded band of one incoming document. */
  final case class BandRow(docId: Long, lang: String, bandIdx: Int, bandKey: String)

  /** The claim outcome of one band of one document. */
  final case class BandVote(docId: Long, lang: String, bandIdx: Int, won: Boolean)

  private val Bands = 4

  /** Claim semantics for one band bucket in one micro-batch: the state
    * holds the claiming doc id; if unclaimed, the smallest doc id in the
    * batch claims it. Exposed for direct unit testing. */
  private[streaming] def claimBand(rows: Seq[BandRow],
      state: GroupState[Long]): Iterator[BandVote] = {
    val sorted = rows.sortBy(_.docId)
    state.getOption match {
      case Some(_) =>
        sorted.iterator.map(r => BandVote(r.docId, r.lang, r.bandIdx, won = false))
      case None =>
        sorted.headOption.foreach(w => state.update(w.docId))
        sorted.iterator.zipWithIndex.map { case (r, i) =>
          BandVote(r.docId, r.lang, r.bandIdx, won = i == 0)
        }
    }
  }

  /** Run until all currently-dropped files are processed (AvailableNow);
    * restart with the same checkpoint to continue the claim table. */
  def run(spark: SparkSession, dropDir: String, sinkDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    graft.expr.GraftFunctions.register(spark)
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars INT"
    val bands = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dropDir)
      .select(col("doc_id"), col("lang"),
        expr("minhash_signature(text)").as("mh"))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), lit(Bands - 1))).as("band_idx"),
        col("mh"))
      .select(col("doc_id").as("docId"), col("lang"),
        col("band_idx").as("bandIdx"),
        array_join(transform(slice(col("mh"), col("band_idx") * 4 + 1, lit(4)),
          x => x.cast("string")), "-").as("bandKey"))
      .as[BandRow]

    val votes = bands
      .groupByKey(r => s"${r.bandIdx}:${r.bandKey}")
      .flatMapGroupsWithState[Long, BandVote](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[BandRow], state: GroupState[Long]) =>
          claimBand(rows.toSeq, state)
      }

    val query = votes.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[BandVote], batchId: Long) =>
        // Admit = won every band. Idempotent per batch id on replay.
        batch.groupBy(col("docId").as("doc_id"), col("lang"))
          .agg(count(lit(1)).as("bands"),
            sum(when(col("won"), 1).otherwise(0)).as("wins"))
          .filter(col("wins") === col("bands"))
          .drop("bands", "wins")
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(sinkDir)
        ()
      }
      .start()
    query.awaitTermination()
  }
}

package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.engine.EngineFs
import graft.functions.TextOps
import graft.operators.MinHashLSH

/** Streaming MinHash+LSH dedup ingest — the standing-pipeline form of q28
  * feeding the streaming form of q68. A batch recompute re-shingles and
  * re-signs the ENTIRE corpus per ingest; here each arriving document pays
  * its shingling/signature cost exactly once, and the accumulated corpus
  * contributes only a scan of its persistent band-key index.
  *
  * Per trigger, for the fresh document batch:
  *  1. shingle → 12-hash signature → 4 band keys (only the batch pays);
  *  2. candidate pairs = fresh keys ⋈ (index ∪ fresh) on the band key —
  *     new-vs-all only, old-vs-old collisions were already emitted by the
  *     trigger that indexed them. The fresh side is BROADCAST: a trigger
  *     batch is bounded by the trigger interval (not the corpus), so the
  *     accumulated index is scanned but never shuffled — the property that
  *     holds at 100 TB where the index dwarfs any batch;
  *  3. the fresh keys land in the index under `batch=<id>` (an idempotent
  *     per-trigger overwrite — a replayed trigger rewrites its own
  *     directory, so at-least-once delivery cannot duplicate index rows);
  *  4. the pairs fold into the cluster labeling via
  *     [[ClusterStream.mergeBatch]] (Components.merge + staged parquet
  *     swap), converging in rounds ∝ the batch's bridging structure.
  *
  * Replays are exactly-once in effect end to end: step 3 is idempotent by
  * layout, step 4 because re-merging already-folded pairs is a structural
  * no-op. The index read excludes the current trigger's own directory
  * (partition-pruned), so a replayed trigger computes the same pair set it
  * originally did.
  *
  * Labels cover documents that appear in some near-dup pair — the same
  * contract as the batch q68 path; unpaired docs need no cluster row.
  */
object DedupStream {

  /** Maintain band index + cluster labels over a stream of documents.
    *
    * @param docs       streaming DataFrame of (id, text) rows
    * @param idCol, textCol column names in `docs`
    * @param indexDir   parquet band-key index, one `batch=<id>` dir per trigger
    * @param labelsDir  parquet (v, c) cluster labeling maintained by merge
    */
  def maintain(
      docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, labelsDir: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ingestBatch(batch, idCol, textCol, batchId, indexDir, labelsDir)
      }
      .start()

  /** One trigger's ingest: sign the batch, emit new-vs-all pairs, index the
    * batch, fold the pairs into the labeling. */
  private[streaming] def ingestBatch(
      batch: DataFrame, idCol: String, textCol: String,
      batchId: Long, indexDir: String, labelsDir: String): Unit = {
    val spark = batch.sparkSession
    val sh = TextOps.shinglePostings(
      batch.select(col(idCol).as("doc_id"), col(textCol).as("text")), "doc_id", "text", 3)
    // materialize the batch's keys once — they feed the join probe, the
    // self-pairs, and the index write (and decouple from the stream source)
    val fresh = MinHashLSH.bandKeys(MinHashLSH.signatures(sh)).localCheckpoint(true)

    val indexPath = new Path(indexDir)
    val fs = EngineFs.of(spark, indexDir)
    val old =
      if (fs.exists(indexPath))
        // partition-discovered `batch` column; exclude this trigger's own
        // directory so a replay sees exactly the pre-trigger index
        Some(spark.read.parquet(indexDir)
          .filter(col("batch") =!= batchId).select("doc_id", "bkey"))
      else None
    val all = old.map(_.unionByName(fresh)).getOrElse(fresh)

    // band-bucket cap, streaming form (q28's batch cap, BandBucketCap):
    // an identical-doc family shares whole signatures, so its bucket pairs
    // quadratically against every future batch forever. Count only the
    // buckets THIS batch touches (semi-join on the broadcast fresh keys —
    // map-side-combined count, no pair blowup) and suppress emission for
    // over-cap buckets. Divergence contract vs the capped batch recompute:
    // equal whenever every bucket stays under cap for the whole history
    // (the spec's regime); a bucket that crosses the cap mid-stream keeps
    // its earlier pairs — labels are monotone and cannot retract — while
    // batch would drop them all. Either way per-trigger candidate work is
    // bounded by cap × batch, never bucket × batch.
    val okBuckets = all
      .join(broadcast(fresh.select("bkey").distinct()), Seq("bkey"), "left_semi")
      .groupBy("bkey").agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= MinHashLSH.BandBucketCap)
      .select("bkey")

    // fresh (and the batch-derived okBuckets) are trigger-bounded —
    // broadcasting them is what keeps the accumulated index scan
    // shuffle-free (do NOT lift this to any corpus-sized relation; see
    // the scaladoc)
    val pairs = all
      .join(broadcast(okBuckets), Seq("bkey"), "left_semi")
      .join(broadcast(fresh.withColumnRenamed("doc_id", "nd")), Seq("bkey"))
      .filter(col("doc_id") =!= col("nd"))
      .select(least(col("doc_id"), col("nd")).as("d1"),
        greatest(col("doc_id"), col("nd")).as("d2"))
      .distinct()
      .localCheckpoint(true) // pairs must not re-read the index after step 3

    fresh.write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    if (!pairs.isEmpty) ClusterStream.mergeBatch(pairs, "d1", "d2", labelsDir)
  }
}

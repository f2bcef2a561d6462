package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.engine.EngineFs
import graft.operators.Components

/** Streaming dedup-cluster maintenance — the streaming-pipeline form of
  * q68. In a standing ingest pipeline the near-dup pair emitters (LSH
  * bands, fuzzy blocks, embedding buckets) produce a fresh EDGE BATCH per
  * trigger, while the accumulated raw pair list is long gone; the cluster
  * labeling must fold each batch in without recomputing the closure from
  * scratch. That is exactly [[Components.merge]]: the maintained labeling
  * re-enters as its own star edges (diameter ≤ 2), so a trigger costs
  * rounds proportional to how far the NEW batch chains clusters — never
  * the accumulated graph's diameter — and the pair emitter never re-runs.
  *
  * Durability is a staged parquet swap, not an in-place overwrite: the
  * merged labeling lands in `<labelsDir>.staging` first, then replaces the
  * previous snapshot with a delete + rename. A failed trigger therefore
  * leaves the old labeling intact (the swap is the same pattern as
  * `engine.Compact`'s partition rewrite). Replays are convergent —
  * re-merging an already-folded batch is a no-op on the component
  * structure — so foreachBatch's at-least-once delivery is exactly-once
  * in effect, the same argument as `EventStream.userTotalsToWarehouse`.
  *
  * (The merge output is checkpoint-backed — `Components` truncates lineage
  * every round — so it holds no live reference to the labels parquet being
  * replaced; the stage+swap still guards the failure window.)
  */
object ClusterStream {

  /** Maintain connected-component labels under `labelsDir` over a stream
    * of undirected pair rows.
    *
    * @param pairs     streaming DataFrame of edge rows
    * @param a, b      endpoint column names
    * @param labelsDir parquet directory holding the (v, c) labeling; created
    *                  on the first non-empty batch
    */
  def maintain(
      pairs: DataFrame, a: String, b: String,
      labelsDir: String, checkpointDir: String): StreamingQuery =
    pairs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) mergeBatch(batch, a, b, labelsDir)
      }
      .start()

  /** One trigger's fold: merge (or seed) the labeling, stage, swap. */
  private[streaming] def mergeBatch(
      batch: DataFrame, a: String, b: String, labelsDir: String): Unit = {
    val spark = batch.sparkSession
    val target = new Path(labelsDir)
    val fs = EngineFs.of(spark, labelsDir)
    val merged =
      if (fs.exists(target))
        Components.merge(spark.read.parquet(labelsDir), batch, a, b)
      else Components.connected(batch, a, b)
    val staging = new Path(labelsDir + ".staging")
    merged.write.mode("overwrite").parquet(staging.toString)
    fs.delete(target, true)
    require(fs.rename(staging, target),
      s"failed to swap $staging into place at $target")
  }
}

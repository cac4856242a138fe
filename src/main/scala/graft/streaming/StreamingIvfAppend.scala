package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{IndexMaintenance, Similarity}

/** STREAMING incremental ANN index maintenance — the write-side
  * composition of [[graft.operators.Similarity.appendToIvfIndex]]
  * with a vector stream: a continuous crawl's embedding micro-batches
  * append into the persisted IVF index (any codec) as they arrive, so
  * the serving side ([[graft.operators.Similarity.queryIvfIndex]])
  * always probes the freshest corpus without ever paying a rebuild.
  * This closes the streaming story for the index family: dedup and LM
  * score streams READ a fixed index; this stream WRITES one.
  *
  * Semantics inherited from the batch append, unchanged: increments
  * route against the STORED centroids and encode under the stored
  * codec (SQ8 meta bounds, PQ codebook — appended codes ≡ what a
  * rebuild on the union would store), and an increment an SQ8 index's
  * pinned bounds do not cover, or of another dimension, fails the
  * batch loudly — bounds drift is a rebuild, not an append. Because
  * cell assignment is per-vector, the index state after any prefix of
  * batches equals the batch append of those batches' union —
  * batch-boundary-independent by construction (spec-pinned:
  * stream-append ≡ one-shot append ≡ rebuild).
  *
  * The index state (codec + centroid table) loads ONCE at stream
  * start ([[Similarity.loadIvfIndex]]); each micro-batch pays only its
  * own assignment + encode projection.
  *
  * Delivery: replay-safe via [[IdempotentSink.oncePerBatch]] markers
  * under `<index>/_batches/` — a crash-replayed committed batch does
  * not re-append its vectors (duplicate (n_id, code) rows in a cell
  * would distort every probe's top-k). Same residual window as the
  * other sinks (crash exactly between append and marker). Operational
  * note: every micro-batch adds files to its touched cell partitions
  * — at seconds-level triggers schedule
  * [[graft.operators.IndexMaintenance.compactIndex]] as the
  * maintenance cadence: it folds the accumulated files back to one
  * per cell WITHOUT re-fitting (probe ≡ pre-compaction bit-for-bit,
  * spec-pinned), unlike the full rebuild, which re-fits
  * centroids/bounds and changes probe results. */
object StreamingIvfAppend {

  /** Append `stream` (a streaming DataFrame of (idCol, vecCol) rows)
    * into the IVF index at `indexPath`. Returns after the stream
    * terminates (AvailableNow-style callers await inside). `maintain`
    * makes the stream self-tending ([[StreamingIndexIngest]]'s shape
    * for this family): the policy entry runs after every batch's
    * append — below its thresholds it costs a listing + one pruned
    * pass, at them it folds the accumulated per-batch cell files back
    * to scan-sized ones with probes bit-identical across the fold.
    * Appends re-resolve the live cells generation per batch, so a
    * mid-stream compaction is safe by construction. */
  def run(spark: SparkSession, stream: DataFrame, indexPath: String,
          idCol: String, vecCol: String, checkpoint: String,
          maintain: Option[IndexMaintenance.MaintenancePolicy] = None): Unit =
    runWithState(Similarity.loadIvfIndex(spark, indexPath),
      stream, idCol, vecCol, checkpoint, maintain)

  /** [[run]] with the append state already loaded. */
  def runWithState(state: Similarity.IvfIndexState, stream: DataFrame,
                   idCol: String, vecCol: String, checkpoint: String,
                   maintain: Option[IndexMaintenance.MaintenancePolicy] = None): Unit = {
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        IdempotentSink.oncePerBatch(batch.sparkSession,
            s"${state.path}/_batches", batchId) {
          Similarity.appendToIvfIndexWith(state, batch.toDF(), idCol, vecCol)
        }
        // outside the marker: a replayed committed batch skips its
        // append but still gets the maintenance check (idempotent,
        // lease-guarded, probe-identical when it fires)
        maintain.foreach(p =>
          IndexMaintenance.maintainIndex(batch.sparkSession, state.path, p))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Dedup, IndexMaintenance, TextAnalysis}

/** STREAMING incremental ingest for the lexical (BM25) and MinHash
  * index families — the write-side streams that close the family
  * asymmetry [[StreamingIvfAppend]] left: a continuous crawl's
  * document micro-batches append into the persisted index as they
  * arrive, and the index self-tends on the same cadence (the
  * [[graft.operators.IndexMaintenance.maintainIndex]] policy entry
  * runs after every batch), so the serving side always probes the freshest
  * corpus without a rebuild ever being scheduled — the full
  * production loop ingest → tend → serve as one call.
  *
  * Semantics inherited from the guarded batch appends, unchanged:
  * increments tokenize/shingle ONCE at their own size under the
  * index's pinned conventions, stored components are never re-read
  * or rewritten at append time, and the index after any prefix of
  * batches equals the batch append of those batches' union —
  * batch-boundary-independent by construction (spec-pinned:
  * stream-ingest ≡ one-shot build on the union, probes bit-identical
  * for BM25, row-identical post-compaction for MinHash).
  *
  * Delivery is EXACTLY-ONCE via the guarded-append protocol rather
  * than [[IdempotentSink]] markers: each micro-batch appends under
  * `appendId = <ingestId>-b<batchId>`, so a batch replayed after a
  * crash ANYWHERE (mid-stage, mid-move, before the meta recompute)
  * converges — no residual marker window exists
  * ([[graft.operators.IndexMaintenance.runGuardedAppend]]).
  * `ingestId` names this logical stream FOREVER: a restart of the
  * same stream from its checkpoint keeps it (that is what makes
  * replays no-ops); a NEW stream into the same index — including a
  * restart after LOSING the checkpoint, which may re-batch the
  * source differently — must use a fresh ingestId, under which any
  * doc the lost lineage already ingested is REFUSED loudly by the
  * appends' overlap check (never silently skipped or double-counted).
  *
  * Maintenance composes safely mid-stream: the policy entry takes
  * the index lease after the batch's append releases it, compactions
  * publish with one manifest flip, and appends re-resolve the live
  * generation per batch — a concurrent reader's probes are
  * bit-identical across a fired compaction (the compaction
  * contracts), so the policy can trip on any batch with no
  * correctness window. Visibility of an in-flight APPEND is the
  * batch appends' documented eventual semantics (additive files land
  * before the closing meta flip); a probe is atomic w.r.t.
  * maintenance, not w.r.t. a concurrent half-landed increment. */
object StreamingIndexIngest {

  /** Append a document stream (rows of `idCol`, `textCol`) into the
    * persisted BM25 index at `indexPath`, self-tending under
    * `maintain` after each batch. AvailableNow trigger; returns after
    * the stream terminates (callers await inside). */
  def bm25(stream: DataFrame, indexPath: String, idCol: String,
           textCol: String, checkpoint: String, ingestId: String,
           maintain: Option[IndexMaintenance.MaintenancePolicy] = None): Unit =
    runBatches(stream, checkpoint) { (batch, batchId) =>
      TextAnalysis.appendToBm25IndexGuarded(batch, idCol, textCol,
        indexPath, appendId(ingestId, batchId))
      maintain.foreach(p =>
        IndexMaintenance.maintainIndex(batch.sparkSession, indexPath, p))
    }

  /** Append a document stream into the persisted MinHash index at
    * `indexPath` (shingles + flat band rows, increment-sized),
    * self-tending under `maintain` — the policy's compaction folds
    * the accumulated pending band rows back into the grouped bands
    * generation, keeping the probe-side union debt bounded at
    * seconds-level triggers. */
  def minhash(stream: DataFrame, indexPath: String, idCol: String,
              textCol: String, checkpoint: String, ingestId: String,
              maintain: Option[IndexMaintenance.MaintenancePolicy] = None): Unit =
    runBatches(stream, checkpoint) { (batch, batchId) =>
      Dedup.appendToMinhashIndexGuarded(batch, idCol, textCol,
        indexPath, appendId(ingestId, batchId))
      maintain.foreach(p =>
        IndexMaintenance.maintainIndex(batch.sparkSession, indexPath, p))
    }

  /** The guarded appendId a micro-batch ingests under — deterministic
    * in (ingestId, batchId) so a replay converges and two streams
    * never collide. Exposed for specs/operational tooling (e.g.
    * confirming a batch committed by its `_appends/<id>/_COMMITTED`
    * marker). */
  def appendId(ingestId: String, batchId: Long): String = {
    require(ingestId.nonEmpty && ingestId.matches("[A-Za-z0-9._-]+"),
      s"ingestId '$ingestId' must be a non-empty [A-Za-z0-9._-]+ token — " +
        "it names files under the index root")
    f"$ingestId-b$batchId%06d"
  }

  private def runBatches(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // an empty batch stages nothing and would only add marker
        // noise; skipping writes no _COMMITTED marker, so a replayed
        // empty batch is re-skipped — still convergent
        if (!batch.isEmpty) body(batch.toDF(), batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
}

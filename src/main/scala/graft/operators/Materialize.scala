package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.{functions => F}

/** Eager materialization with lineage truncation for multi-consumed
  * or iterated DataFrames.
  *
  * On a real cluster (spark.sparkContext.setCheckpointDir configured)
  * this is a RELIABLE checkpoint — an executor loss recomputes
  * nothing, which matters for iterative algorithms whose truncated
  * lineage would otherwise be unrecoverable. Without a checkpoint dir
  * (tests, single node) it falls back to localCheckpoint: fast,
  * executor-memory-resident. */
private[graft] object Materialize {
  def apply(d: DataFrame): DataFrame =
    if (d.sparkSession.sparkContext.getCheckpointDir.isDefined) d.checkpoint(true)
    else local(d)

  /** Always-local materialization for BOUNDED, recompute-cheap frames
    * on the serving path (top-k lists, re-rank candidates): a reliable
    * checkpoint per serving request or micro-batch would grow the
    * checkpoint dir without bound — Spark does not clean checkpoint
    * files by default. */
  def local(d: DataFrame): DataFrame = d.localCheckpoint(true)

  /** Row count of a just-[[apply]]'d (checkpointed) DataFrame without
    * a full SQL action: counts the checkpointed RDD directly, skipping
    * the Catalyst analyze/optimize/plan pass a `df.count()` pays
    * (~50-100 ms of driver time per call at any data size — the
    * sized-on-real-count idiom calls this once per operator). Counts
    * are identical: the checkpoint's row set IS the DataFrame. */
  def count(d: DataFrame): Long = d.queryExecution.toRdd.count()

  /** Materialize AND count in ONE job: an [[Observation]] over a
    * pass-through `count(1)` metric rides the checkpoint's own
    * materialization action, so the sized-on-real-count idiom stops
    * paying a second (RDD-count) job per decision point — at any data
    * size that job is pure fixed cost (the rows were just computed;
    * only the count was missing). The CollectMetrics node passes rows
    * through unchanged, and the returned DataFrame is the plain
    * checkpoint scan. Falls back to the explicit RDD count if the
    * checkpoint action did not surface metrics (defensive: the
    * fallback is the previous behavior, identical result). `bounded`
    * frames materialize [[local]]ly. */
  def withCount(d: DataFrame, bounded: Boolean = false): (DataFrame, Long) = {
    val obs = Observation()
    val observed = d.observe(obs, F.count(F.lit(1)).as("n"))
    val m = if (bounded) local(observed) else apply(observed)
    // the metric promise completes on the (async) listener-bus event
    // for the checkpoint action just run — normally already done or
    // milliseconds away; the await cap only bounds the defensive case
    val n = try {
      scala.concurrent.Await
        .result(obs.future, scala.concurrent.duration.Duration(10, "s"))
        .getLong(0)
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        // loud: a dropped SQLExecutionEnd event (AsyncEventQueue under
        // load) would otherwise silently stall EVERY sizing decision
        // 10s before falling back to the RDD count
        org.apache.log4j.Logger.getLogger(getClass).warn(
          "withCount: observation metric did not arrive within 10s " +
            "(listener bus dropped the event?) — falling back to an " +
            "RDD count job")
        count(m)
    }
    (m, n)
  }
}

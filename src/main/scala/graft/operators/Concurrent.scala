package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

/** Driver-side concurrency for INDEPENDENT branches of one query —
  * guide §2.6: Spark happily runs several jobs at once inside one
  * application; actions are only sequential because the driver calls
  * them sequentially. The serving compositions (hybrid retrieval:
  * lexical branch ⊕ semantic branch, BM25 ⊕ quality prior) build two
  * branch plans whose construction and materialization each pay a
  * chain of bounded driver actions (probe collects, sized-count
  * checkpoints, AQE stage materializations). Submitting the branches
  * from separate driver threads overlaps those chains, so the
  * composition's wall time approaches max(branch) instead of
  * sum(branches) — and on a cluster the second branch's tasks
  * back-fill executors the first branch's tail leaves idle.
  *
  * Each thunk builds its branch, which is then [[Materialize.local]]d
  * (bounded top-k rows — even with a checkpoint dir set a serving
  * request or micro-batch writes nothing there). Rows are
  * byte-identical to the sequential plan, only the submission order
  * changes. Each branch runs in its own Spark job group: the first
  * branch failure cancels the other branches' jobs and is rethrown at
  * once.
  */
private[graft] object Concurrent {

  /** Materialize independent branch thunks concurrently; returns the
    * checkpointed frames in input order. */
  def materializeAll(branches: Seq[() => DataFrame]): Seq[DataFrame] =
    if (branches.lengthCompare(2) < 0) branches.map(b => Materialize.local(b()))
    else {
      val sc = SparkContext.getOrCreate()
      val groups = branches.indices.map(i => s"graft-branch-${java.util.UUID.randomUUID}-$i")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        branches.size,
        (r: Runnable) => {
          val t = new Thread(r, "graft-branch")
          t.setDaemon(true)
          t
        })
      val branchEc = ExecutionContext.fromExecutorService(pool)
      try {
        val futs = branches.zip(groups).map { case (b, g) =>
          Future {
            sc.setJobGroup(g, "graft concurrent branch", interruptOnCancel = true)
            try Materialize.local(b()) finally sc.clearJobGroup()
          }(branchEc)
        }
        // fail fast: the first failure completes `all` without waiting
        // for the siblings, whose jobs are then cancelled (callbacks run
        // on the completing thread, so none lands on the shut-down pool)
        implicit val ec: ExecutionContext = ExecutionContext.parasitic
        val all = Promise[Seq[DataFrame]]()
        futs.foreach(_.failed.foreach(all.tryFailure))
        Future.sequence(futs).foreach(all.trySuccess)
        try Await.result(all.future, Duration.Inf)
        catch { case e: Throwable => groups.foreach(sc.cancelJobGroup); throw e }
      } finally pool.shutdown()
    }

  /** Two-branch convenience. */
  def materialize2(a: () => DataFrame, b: () => DataFrame): (DataFrame, DataFrame) = {
    val r = materializeAll(Seq(a, b))
    (r(0), r(1))
  }
}

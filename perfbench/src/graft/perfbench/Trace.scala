package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval. Times are epoch milliseconds with sub-ms
  * precision; `op` ties every span of one benchmark op together and
  * `parent` is the id of the enclosing span (0 for a root). */
final case class Span(id: Long, op: Long, name: String,
                      startMs: Double, endMs: Double, parent: Long) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder for the benchmark's own calls into each
  * layer. While `on` is false it only evaluates the body, so untraced
  * ops pay nothing. Spans nest by call order on the benchmark thread. */
final class Tracer {
  var on = false
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil

  def newId(): Long = { nextId += 1; nextId - 1 }

  def span[T](op: Long, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, op, name, start, nowMs, parent)
      }
    }

  /** Record an interval measured elsewhere (Spark jobs and stages). */
  def add(op: Long, name: String, startMs: Double, endMs: Double, parent: Long): Long = {
    val id = newId()
    spans += Span(id, op, name, startMs, endMs, parent)
    id
  }
}

object OpListener {
  /** Local property the benchmark sets before each op; Spark copies it
    * into every job the op starts, which links jobs to ops. */
  val OpKey = "perfbench.op"
  /** RDD class names of the stages that read a source. */
  val ScanRdds = Set("DataSourceRDD", "FileScanRDD")
}

final case class JobRec(jobId: Int, op: Long, startMs: Long, endMs: Long, stageIds: Seq[Int])
final case class StageRec(stageId: Int, startMs: Long, endMs: Long, scan: Boolean)
final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         recordsRead: Long)

/** Collects jobs, stages and task metrics tagged with the op that
  * started them. Events arrive on Spark's listener thread; readers
  * drain the bus first ([[org.apache.spark.BusDrain]]). */
final class OpListener extends SparkListener {
  import OpListener._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[(Long, StageRec)]()
  val tasks = new ConcurrentLinkedQueue[(Long, TaskRec)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong)
    op.foreach { o =>
      val ids = e.stageInfos.map(_.stageId)
      ids.foreach(stageOp.put(_, o))
      jobStarts.put(e.jobId, (o, e.time, ids))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (op, start, ids) =>
      jobs.add(JobRec(e.jobId, op, start, e.time, ids))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Option(stageOp.get(s.stageId)).foreach { op =>
      val scan = s.rddInfos.exists(r => ScanRdds.contains(r.name))
      stages.add(op -> StageRec(s.stageId, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L), scan))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val m = e.taskMetrics
      if (m != null) tasks.add(op -> TaskRec(e.stageId, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead))
    }

  def jobsOf(op: Long): Seq[JobRec] = jobs.asScala.filter(_.op == op).toSeq.sortBy(_.startMs)
  def stagesOf(op: Long): Seq[StageRec] = stages.asScala.collect { case (`op`, s) => s }.toSeq
  def tasksOf(op: Long): Seq[TaskRec] = tasks.asScala.collect { case (`op`, t) => t }.toSeq
}

/** Interval arithmetic of the driver-gap figure. */
object Intervals {
  /** Total length of the union of `iv`, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.{DruidDeepStorage, DruidSegmentReader, VersionedTimeline}

/** Benchmark process: one Spark `local[N]` session, one closed-loop
  * client thread. Sets the workload up `setupReps` times (reporting the
  * median), runs ops for `seconds`, checks every answer against its
  * oracle, and prints a report line and the result line on stdout.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *      [--spans FILE] [--commit ID]
  * Main --selftest --seed N --work DIR
  * }}}
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, work: String = "", spans: String = "",
                        commit: String = "unknown", selftest: Boolean = false) {
    /** Spark cores: min(4, nproc), the box the baseline was read on. */
    val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
    val setupReps: Int = 3
  }

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--spans" :: v :: t => parse(t, a.copy(spans = v))
    case "--commit" :: v :: t => parse(t, a.copy(commit = v))
    case "--selftest" :: t => parse(t, a.copy(selftest = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.work.nonEmpty, "--work DIR is required")
    val code =
      try {
        if (a.selftest) SelfTest.run(a) else bench(a)
        0
      }
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark's non-daemon threads must not keep the JVM alive
    Runtime.getRuntime.halt(code)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  final case class OpRec(id: Long, kind: String, traced: Boolean, wallS: Double, cpuS: Double,
                         work: Long, error: Option[String], layer: Map[String, Double])

  private val threads = ManagementFactory.getThreadMXBean

  def bench(a: Args): Unit = {
    val entry = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - entry) / 1e9
    val tracer = new Tracer
    // always registered: every op's CPU includes its Spark tasks' CPU
    val listener = new OpListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, a.seed, tracer)
    val layers = new Layers(ctx, listener)

    // ---- set-up, several times: report the median, keep the last ----
    val repTimes = mutable.ArrayBuffer.empty[Double]
    var wl: Workload = null
    var setupLayer = Map.empty[String, Double]
    (1 to a.setupReps).foreach { rep =>
      val dir = new File(a.work, s"setup-$rep")
      ctx.op = -rep
      spark.sparkContext.setLocalProperty(OpListener.OpKey, ctx.op.toString)
      val w = Workloads(a.workload)
      val t0 = System.nanoTime()
      val s0 = tracer.nowMs
      tracer.on = a.trace
      ctx.noted.clear()
      tracer.span(ctx.op, "setup")(w.setup(ctx, dir))
      repTimes += (System.nanoTime() - t0) / 1e9
      if (a.trace) setupLayer = layers.setupLayer(w, s0, tracer.nowMs)
      if (wl != null) deleteTree(new File(a.work, s"setup-${rep - 1}"))
      wl = w
    }
    val setupS = sessionS + median(repTimes.toSeq)

    // ---- untimed warm-up ops (JIT, codegen), then the timed loop ----
    tracer.on = false
    val w0 = System.nanoTime()
    val warmupErrors = mutable.ArrayBuffer.empty[String]
    var warmups = 0
    while (warmups < wl.warmupOps) {
      ctx.op = warmups
      spark.sparkContext.setLocalProperty(OpListener.OpKey, warmups.toString)
      wl.prepare(ctx, warmups)
      val err =
        try wl.op(ctx, warmups).check()
        catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      err.foreach(m => println(s"MISMATCH warm-up op $warmups: $m"))
      warmupErrors ++= err
      warmups += 1
    }
    val warmupS = (System.nanoTime() - w0) / 1e9

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    // every run goes on past the deadline until its main-kind ops fill
    // whole batches; a traced run also (up to a cap) until it has both
    // a traced and an untraced op of the main kind
    val cap = deadline + (a.seconds * 3e9).toLong
    var (tracedMain, plainMain) = (0, 0)
    var i = warmups
    while (ops.isEmpty || System.nanoTime() < deadline || (tracedMain + plainMain) % wl.mainBatch != 0 ||
        (a.trace && (tracedMain == 0 || plainMain == 0) && System.nanoTime() < cap)) {
      // main-kind ops alternate untraced and traced; other ops (the
      // re-publishes) are traced, as they carry the write-path figures
      val isMain = wl.kindOf(i) == wl.mainKind
      val traced = a.trace && (!isMain || plainMain > tracedMain)
      if (isMain) { if (traced) tracedMain += 1 else plainMain += 1 }
      ctx.op = i
      spark.sparkContext.setLocalProperty(OpListener.OpKey, ctx.op.toString)
      wl.prepare(ctx, i)
      ctx.frames.clear()
      ctx.noted.clear()
      tracer.on = traced
      val before = if (traced) Some(layers.before(wl)) else None
      val s0 = tracer.nowMs
      val c0 = threads.getCurrentThreadCpuTime
      val t0 = System.nanoTime()
      val result =
        try Right(tracer.span(ctx.op, "op")(wl.op(ctx, i)))
        catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wallS = (System.nanoTime() - t0) / 1e9
      // CPU of the op: the client thread (planning, discovery, driver
      // work) plus the op's Spark tasks; steal and waiting excluded
      val driverCpuNs = threads.getCurrentThreadCpuTime - c0
      org.apache.spark.BusDrain(spark.sparkContext)
      val cpuS = (driverCpuNs + listener.tasksOf(ctx.op).map(_.cpuNs).sum) / 1e9
      val s1 = tracer.nowMs
      val error = result.fold(Some(_), r =>
        try r.check() catch { case e: Exception => Some(s"check threw ${e.getMessage}") })
      error.foreach(m => println(s"MISMATCH op ${ctx.op}: $m"))
      val kind = result.fold(_ => wl.mainKind, _.kind)
      val layer = (result, before) match {
        case (Right(r), Some(b)) => layers.after(wl, r, b, s0, s1)
        case _ => Map.empty[String, Double]
      }
      tracer.on = false
      ops += OpRec(ctx.op, kind, traced, wallS, cpuS, result.fold(_ => 0L, _.work), error, layer)
      i += 1
    }

    // ---- results ----
    val rssMb = peakRssMb()
    val failed = ops.count(_.error.nonEmpty) + warmupErrors.size
    val attempted = ops.size + warmups
    val named = Report.named(wl, ops.toSeq, a.trace, setupS, a.setupReps, rssMb,
      failed.toDouble / attempted, attempted)
    val layer = if (a.trace) layers.summarize(wl, ops.toSeq, setupLayer) else Map.empty[String, Double]
    val manifest = Report.manifest(a, spark)
    val inputs = wl.inputs
    println(Json(ListMap("report" -> ListMap(
      "workload" -> a.workload, "trace" -> a.trace,
      "setup_reps_s" -> repTimes.toSeq, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "ops" -> ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "op_wall_cpu_s" -> ops.map(o =>
        f"${o.kind}${if (o.traced) "*" else ""}:${o.wallS}%.4f/${o.cpuS}%.4f"),
      "end_to_end" -> named, "per_layer" -> Report.perLayer(layer),
      "inputs" -> ListMap(inputs: _*), "manifest" -> manifest))))
    if (a.spans.nonEmpty)
      Report.writeSpans(new File(a.spans), a, manifest, inputs, tracer, ops.toSeq, named, layer)
    val metrics =
      // a figure the run could not measure (no op of its kind) reads 0
      if (a.trace) Report.PerLayer.map { case (n, u) =>
        n -> ListMap("value" -> layer.get(n).filterNot(_.isNaN).getOrElse(0.0), "unit" -> u)
      }
      else Report.EndToEnd.map(n => n -> (named(n) - "n"))
    println(Json(ListMap("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> ListMap(metrics: _*))))
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Counter readings taken just before a traced op. */
final case class Before(decoded: Int, chunks: Int, gcMs: Long, jitMs: Long, segments: Int)

/** Per-layer measurements of traced ops: probes, plan inspection,
  * reader counters, listener records and JVM deltas. */
final class Layers(ctx: Ctx, l: OpListener) {
  import Main.median

  private object Plans extends AdaptiveSparkPlanHelper

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def before(wl: Workload): Before =
    Before(DruidSegmentReader.decodedSegments.get, DruidSegmentReader.decompressedChunks.get,
      gcMs, jitMs, DruidDeepStorage.discover(ctx.spark, wl.root).size)

  private def drain(): Unit = org.apache.spark.BusDrain(ctx.spark.sparkContext)

  /** Layer values of the op that just ran between `s0` and `s1`. */
  def after(wl: Workload, r: OpRun, b: Before, s0: Double, s1: Double): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("jvm.gc_s") = (gcMs - b.gcMs) / 1e3
    m("jvm.jit_s") = (jitMs - b.jitMs) / 1e3
    m("sources.segments_decoded") = DruidSegmentReader.decodedSegments.get - b.decoded
    m("sources.chunks_decompressed") = DruidSegmentReader.decompressedChunks.get - b.chunks
    val op = ctx.op
    val mine = ctx.tracer.spans.filter(_.op == op)
    Seq("plan.load", "plan.compile", "plan.optimize", "plan.physical").foreach { n =>
      val ss = mine.filter(_.name == n)
      if (ss.nonEmpty) m(n + "_s") = ss.map(_.durMs).sum / 1e3
    }
    if (r.kind == "dedup") m("operators.call_s") = mine.filter(_.name == "plan.compile").map(_.durMs).sum / 1e3

    // scans of the executed plans (AQE final plans included)
    val scans = ctx.frames.toSeq.flatMap(df => Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: BatchScanExec => s
    })
    m("sources.partitions_planned") = scans.map(_.inputPartitions.size).sum
    m("sources.scan_rows_out") = scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum.toDouble
    val pushed = scans.exists { s =>
      val d = s.scan.description()
      d.contains("PushedAggregates") || d.contains("PushedTopN")
    }
    if (scans.nonEmpty) m("sources.pushed_agg") = if (pushed) 1 else 0

    // discovery and timeline probes, after the op and outside its span
    val segs = ctx.tracer.span(op, "probe.discover")(DruidDeepStorage.discover(ctx.spark, wl.root))
    m("sources.discover_s") = ctx.tracer.spans.last.durMs / 1e3
    ctx.tracer.span(op, "probe.resolve")(VersionedTimeline.resolve(segs, r.interval._1, r.interval._2))
    m("sources.resolve_s") = ctx.tracer.spans.last.durMs / 1e3
    m("sources.segments_total") = segs.size
    m("sources.segments_visible") =
      VersionedTimeline.resolve(segs, Long.MinValue, Long.MaxValue).map(_.segment.path).distinct.size
    m("sources.files_under_root") = fileCount(new File(wl.root))
    wl.probe(ctx)
    ctx.noted.foreach { case (k, v) => m(k) = v }

    m ++= exec(op, s0, s1)
    val w = writeLayer(op, s0, s1)
    m ++= w
    if (w.contains("write.job_s")) m ++= segmentsWritten(segs.size - b.segments)
    m.toMap
  }

  /** Write metrics of set-up rep `op`, whose writes start from an empty root. */
  def setupLayer(wl: Workload, s0: Double, s1: Double): Map[String, Double] = {
    drain()
    linkSpans(ctx.op, l.jobsOf(ctx.op), l.stagesOf(ctx.op))
    val w = writeLayer(ctx.op, s0, s1)
    if (w.contains("write.job_s"))
      w ++ segmentsWritten(DruidDeepStorage.discover(ctx.spark, wl.root).size)
    else w
  }

  /** Segments and rows per write from the rows the op handed to the
    * writer (noted by [[Workloads.writeSegments]]) and the segments its
    * writes added to the root. */
  private def segmentsWritten(added: Int): Map[String, Double] = {
    val rows = ctx.noted.getOrElse("write.rows", 0.0)
    val batches = ctx.noted.getOrElse("write.batches", 1.0)
    Map("write.segments_per_batch" -> added / batches,
      "write.rows_per_segment" -> (if (added > 0) rows / added else 0.0))
  }

  private def fileCount(dir: File): Double =
    if (!dir.exists()) 0
    else {
      val s = java.nio.file.Files.walk(dir.toPath)
      try s.iterator().asScala.count(p => java.nio.file.Files.isRegularFile(p)).toDouble
      finally s.close()
    }

  /** Spark exec metrics of `op`, and its jobs and stages as spans. */
  private def exec(op: Long, s0: Double, s1: Double): Map[String, Double] = {
    drain()
    linkSpans(op, l.jobsOf(op), l.stagesOf(op))
    // the op's own jobs: probes after it run under the same op id
    val jobs = l.jobsOf(op).filter(j => j.startMs >= s0 - 1 && j.startMs <= s1)
    val ids = jobs.flatMap(_.stageIds).toSet
    val stages = l.stagesOf(op).filter(s => ids.contains(s.stageId))
    val tasks = l.tasksOf(op).filter(t => ids.contains(t.stageId))
    val runs = tasks.map(_.runMs.toDouble)
    val scanStages = stages.filter(_.scan).map(_.stageId).toSet
    val scanTasks = tasks.filter(t => scanStages.contains(t.stageId))
    val jobIv = jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
    Map(
      "exec.jobs_per_op" -> jobs.size.toDouble,
      "exec.stages_per_op" -> stages.size.toDouble,
      "exec.tasks_per_op" -> tasks.size.toDouble,
      "exec.driver_gap_s" -> ((s1 - s0) - Intervals.covered(jobIv, s0, s1)) / 1e3,
      "exec.task_run_s" -> runs.sum / 1e3,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.task_skew" -> (if (runs.isEmpty || median(runs) <= 0) 1.0 else runs.max / median(runs)),
      "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "exec.scan_rows" -> scanTasks.map(_.recordsRead).sum.toDouble,
      "exec.scan_cpu_s" -> scanTasks.map(_.cpuNs).sum / 1e9)
  }

  /** Attach each job to the innermost benchmark span of its op that
    * contains its start, and each stage to its job. */
  private def linkSpans(op: Long, jobs: Seq[JobRec], stages: Seq[StageRec]): Unit = {
    val mine = ctx.tracer.spans.filter(_.op == op).toSeq
    val stageById = stages.map(s => s.stageId -> s).toMap
    val seen = mutable.Set.empty[Int]
    jobs.foreach { j =>
      val parent = mine.filter(s => s.startMs <= j.startMs && s.endMs >= j.startMs)
        .sortBy(_.durMs).headOption.map(_.id).getOrElse(0L)
      val jid = ctx.tracer.add(op, "spark.job", j.startMs.toDouble, j.endMs.toDouble, parent)
      j.stageIds.flatMap(stageById.get).filter(s => seen.add(s.stageId)).foreach { s =>
        ctx.tracer.add(op, if (s.scan) "spark.stage.scan" else "spark.stage", s.startMs.toDouble, s.endMs.toDouble, jid)
      }
    }
  }

  /** Write-path metrics of the `write.save` and `write.readback` spans
    * of `op` recorded between `s0` and `s1`. */
  def writeLayer(op: Long, s0: Double, s1: Double): Map[String, Double] = {
    val saves = ctx.tracer.spans.filter(s => s.op == op && s.name == "write.save").toSeq
    val readbacks = ctx.tracer.spans.filter(s => s.op == op && s.name == "write.readback").toSeq
    val m = mutable.LinkedHashMap.empty[String, Double]
    if (readbacks.nonEmpty) m("write.readback_s") = readbacks.map(_.durMs).sum / 1e3
    if (saves.nonEmpty) {
      drain()
      val jobs = l.jobsOf(op)
      val tasks = l.tasksOf(op)
      val inSave = saves.map { s =>
        s -> jobs.filter(j => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs)
      }
      val wjobs = inSave.flatMap(_._2)
      val stageIds = wjobs.flatMap(_.stageIds).toSet
      m("write.job_s") = wjobs.map(j => j.endMs - j.startMs).sum / 1e3
      m("write.task_cpu_s") = tasks.filter(t => stageIds.contains(t.stageId)).map(_.cpuNs).sum / 1e9
      m("write.commit_s") = inSave.map { case (s, js) =>
        if (js.isEmpty) 0.0 else math.max(0.0, s.endMs - js.map(_.endMs).max)
      }.sum / 1e3
    }
    m.toMap
  }

  /** Per-layer figures of the run: means over traced ops of the
    * workload's main kind; write metrics over the traced ops that
    * wrote, else over the set-up writes. */
  def summarize(wl: Workload, ops: Seq[Main.OpRec], setupLayer: Map[String, Double]): Map[String, Double] = {
    val traced = ops.filter(o => o.traced && o.error.isEmpty)
    val main = traced.filter(_.kind == wl.mainKind).map(_.layer)
    val writers = traced.map(_.layer).filter(_.contains("write.job_s"))
    def mean(xs: Seq[Map[String, Double]], k: String): Option[Double] = {
      val vs = xs.flatMap(_.get(k))
      if (vs.isEmpty) None else Some(vs.sum / vs.size)
    }
    def total(k: String): Double = main.flatMap(_.get(k)).sum
    val out = mutable.LinkedHashMap.empty[String, Double]
    val keys = main.flatMap(_.keys).distinct.filterNot(_.startsWith("write."))
    keys.foreach(k => mean(main, k).foreach(out(k) = _))
    val writeKeys = Seq("write.job_s", "write.task_cpu_s", "write.commit_s",
      "write.segments_per_batch", "write.rows_per_segment")
    writeKeys.foreach(k => mean(writers, k).orElse(setupLayer.get(k)).foreach(out(k) = _))
    mean(traced.map(_.layer), "write.readback_s").foreach(out("write.readback_s") = _)
    out("sources.decoded_per_planned") =
      if (total("sources.partitions_planned") > 0)
        total("sources.segments_decoded") / total("sources.partitions_planned") else 0
    out("sources.pushed_agg_frac") = mean(main, "sources.pushed_agg").getOrElse(0.0)
    out("sources.decode_rows_per_cpu_s") =
      if (total("exec.scan_cpu_s") > 0) total("exec.scan_rows") / total("exec.scan_cpu_s") else 0
    out("exec.task_skew") = median(main.flatMap(_.get("exec.task_skew")))
    val tm = ops.filter(o => o.kind == wl.mainKind && o.error.isEmpty)
    val tracedP50 = median(tm.filter(_.traced).map(_.wallS))
    val plainP50 = median(tm.filter(!_.traced).map(_.wallS))
    out("trace.overhead_s") = tracedP50 - plainP50
    out("trace.overhead_frac") = (tracedP50 - plainP50) / plainP50
    out.toMap
  }
}

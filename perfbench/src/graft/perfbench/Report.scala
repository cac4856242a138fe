package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer: maps (insertion order kept for ListMap and
  * LinkedHashMap), sequences, strings, numbers, booleans, options. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => quote(o.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Report {
  import Main.{median, quantile, OpRec}

  /** End-to-end metrics on the result line of an untraced run: the
    * median CPU of the workload's main op (graft's read, query or dedup
    * path), stored bytes and set-up time. Op latency stays in the
    * report: on a shared host its median moved between runs of the
    * same code by up to the largest bound allowed (see BASELINE.md). */
  val EndToEnd: Seq[String] = Seq("op_cpu_s_p50", "stored_bytes_per_row", "setup_s")

  /** Per-layer metrics on the result line of a traced run, with units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "plan.load_s" -> "s", "plan.compile_s" -> "s", "plan.optimize_s" -> "s", "plan.physical_s" -> "s",
    "sources.discover_s" -> "s", "sources.resolve_s" -> "s",
    "sources.files_under_root" -> "count", "sources.segments_total" -> "count",
    "sources.segments_visible" -> "count", "sources.partitions_planned" -> "count",
    "sources.segments_decoded" -> "count", "sources.chunks_decompressed" -> "count",
    "sources.decoded_per_planned" -> "ratio", "sources.scan_rows_out" -> "count",
    "sources.pushed_agg_frac" -> "ratio", "sources.decode_rows_per_cpu_s" -> "rows/s",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.task_gc_s" -> "s",
    "exec.task_skew" -> "ratio",
    "write.job_s" -> "s", "write.task_cpu_s" -> "s", "write.commit_s" -> "s",
    "write.segments_per_batch" -> "count", "write.rows_per_segment" -> "count",
    "write.readback_s" -> "s",
    "operators.call_s" -> "s", "functions.minhash_docs_per_s" -> "docs/s",
    "exec.jobs_per_op" -> "count", "exec.stages_per_op" -> "count", "exec.tasks_per_op" -> "count",
    "exec.driver_gap_s" -> "s", "exec.shuffle_write_bytes" -> "B", "exec.shuffle_read_bytes" -> "B",
    "exec.spill_bytes" -> "B", "jvm.gc_s" -> "s", "jvm.jit_s" -> "s", "trace.overhead_s" -> "s")

  /** Layer figures reported beside the result line only: they restate
    * others (the overhead as a share, and the two terms of
    * `sources.decode_rows_per_cpu_s`). */
  val ReportOnly: Seq[(String, String)] = Seq(
    "trace.overhead_frac" -> "ratio", "exec.scan_rows" -> "count", "exec.scan_cpu_s" -> "s")

  def perLayer(layer: Map[String, Double]): ListMap[String, Any] =
    ListMap((PerLayer ++ ReportOnly).map { case (n, u) =>
      n -> ListMap("value" -> layer.get(n), "unit" -> u)
    }: _*)

  private def metric(v: Double, unit: String, n: Int): ListMap[String, Any] =
    ListMap("value" -> v, "unit" -> unit, "n" -> n)

  /** The end-to-end figures under their workload-specific names, each
    * with its sample count. Timings come from untraced ops only. */
  def named(wl: Workload, ops: Seq[OpRec], trace: Boolean, setupS: Double,
            setupReps: Int, rssMb: Double, failedFrac: Double,
            attempted: Int): ListMap[String, ListMap[String, Any]] = {
    val ok = ops.filter(o => o.error.isEmpty && !(trace && o.traced))
    def lat(kind: String) = ok.filter(_.kind == kind).map(_.wallS)
    val cpu = ok.filter(_.kind == wl.mainKind).map(_.cpuS)
    def rate(kind: String) = {
      val k = ok.filter(_.kind == kind)
      metric(k.map(_.work).sum / k.map(_.wallS).sum, s"${wl.unit}/s", k.size)
    }
    val specific: Seq[(String, ListMap[String, Any])] = wl.name match {
      case "segment_scan" => Seq("scan_rows_per_s" -> rate("scan"))
      case "druid_interactive" =>
        val q = lat("query")
        Seq("query_s_p50" -> metric(median(q), "s", q.size),
          "query_s_p90" -> metric(quantile(q, 0.9), "s", q.size),
          "republish_s_p50" -> metric(median(lat("republish")), "s", lat("republish").size))
      case "segment_ingest" => Seq("ingest_rows_per_s" -> rate("ingest"),
        "ingest_bytes_per_row" -> metric(wl.bytesPerUnit, "B/row", ok.count(_.kind == "ingest")))
      case "doc_dedup" => Seq("dedup_docs_per_s" -> rate("dedup"))
      case _ => Nil
    }
    val main = lat(wl.mainKind)
    ListMap(Seq("setup_s" -> metric(setupS, "s", setupReps),
      "op_s_p50" -> metric(median(main), "s", main.size),
      "op_cpu_s_p50" -> metric(median(cpu), "s", cpu.size),
      "stored_bytes_per_row" -> metric(wl.bytesPerUnit, "B/row", 1)) ++ specific ++ Seq(
      "failed_frac" -> metric(failedFrac, "ratio", attempted),
      "peak_rss_mb" -> metric(rssMb, "MB", 1)): _*)
  }

  def manifest(a: Main.Args, spark: SparkSession): ListMap[String, Any] = {
    val volatile = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.port", "spark.executor.id", "spark.driver.host")
    ListMap("commit" -> a.commit, "workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace, "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> a.cores, "setup_reps" -> a.setupReps,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark_conf" -> ListMap(spark.conf.getAll.toSeq.filterNot(kv => volatile(kv._1)).sortBy(_._1): _*))
  }

  /** Span file: one JSON object per line: the run, each op, each span,
    * then the end-to-end and per-layer figures. */
  def writeSpans(f: File, a: Main.Args, manifest: Any, inputs: Seq[(String, Any)], tracer: Tracer,
                 ops: Seq[OpRec], named: Any, layer: Map[String, Double]): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println(Json(ListMap("type" -> "run", "workload" -> a.workload, "manifest" -> manifest,
        "inputs" -> ListMap(inputs: _*))))
      ops.foreach { o =>
        w.println(Json(ListMap("type" -> "op", "op" -> o.id, "kind" -> o.kind, "traced" -> o.traced,
          "wall_s" -> o.wallS, "work" -> o.work, "error" -> o.error, "layer" -> o.layer)))
      }
      tracer.spans.foreach { s =>
        w.println(Json(ListMap("type" -> "span", "op" -> s.op, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
      }
      w.println(Json(ListMap("type" -> "end_to_end", "metrics" -> named)))
      w.println(Json(ListMap("type" -> "per_layer", "metrics" -> perLayer(layer))))
    } finally w.close()
  }
}

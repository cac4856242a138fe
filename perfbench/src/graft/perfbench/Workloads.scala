package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.queries.DruidQueries
import Gen._

/** What one benchmark run shares with its workload: the session, the
  * seed, the tracer and the op now running (0 while setting up). */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  var op: Long = 0
  /** DataFrames the current op executed, inspected after it for scans. */
  val frames = mutable.ArrayBuffer.empty[DataFrame]
  /** Layer values a workload measured during the current op. */
  val noted = mutable.LinkedHashMap.empty[String, Double]

  def traced: Boolean = tracer.on
  def span[T](name: String)(body: => T): T = tracer.span(op, name)(body)
  def note(name: String, v: Double): Unit = noted(name) = noted.getOrElse(name, 0.0) + v

  /** Load → compile → (traced: optimize, physical) → collect, one span
    * per phase. Forcing `optimizedPlan` and `executedPlan` in order adds
    * no work: each phase is computed once and reused by `collect`. */
  def run(load: => DataFrame)(compile: DataFrame => DataFrame): Array[Row] = {
    val base = span("plan.load")(load)
    val df = span("plan.compile")(compile(base))
    if (traced) {
      span("plan.optimize")(df.queryExecution.optimizedPlan)
      span("plan.physical")(df.queryExecution.executedPlan)
    }
    frames += df
    span("exec.collect")(df.collect())
  }
}

/** One timed op: its kind (ops of different kinds get separate latency
  * figures), the work units it did, the time interval it read (for the
  * timeline probe) and the oracle check, run after timing. */
final case class OpRun(kind: String, work: Long, interval: (Long, Long),
                       check: () => Option[String])

trait Workload {
  def name: String
  /** The op kind whose latency is the workload's headline. */
  def mainKind: String
  /** What one work unit is, for the throughput figure. */
  def unit: String
  /** Build every input under `dir` and compute the oracle answers. */
  def setup(ctx: Ctx, dir: File): Unit
  def op(ctx: Ctx, i: Int): OpRun
  /** Deep-storage root the discovery probes list. */
  def root: String
  def inputs: Seq[(String, Any)]
  /** Stored bytes per row of the workload's data: published segments
    * (index.zip and descriptor.json) per row, or the corpus' parquet
    * files per document on doc_dedup. */
  def bytesPerUnit: Double
  /** Untimed ops run before timing starts: C2 keeps compiling hot
    * paths for several seconds after the first op. */
  def warmupOps: Int
  /** Timed main-kind ops come in whole multiples of this, so that every
    * run's median is over the same mix of ops. */
  def mainBatch: Int = 1
  /** Kind of op `i`. */
  def kindOf(i: Int): String = mainKind
  /** Untimed preparation of op `i` (generating its input). */
  def prepare(ctx: Ctx, i: Int): Unit = ()
  /** Workload-specific probe run after a traced op. */
  def probe(ctx: Ctx): Unit = ()
  /** The generated inputs for `seed`, without running anything. */
  def generated(seed: Long): Seq[Any]
}

object Workloads {
  val DataSource = "events"
  /** BENCHMARK.json runs the first three; segment_ingest runs by hand
    * only: the benchmark's time budget holds three workloads (see
    * BASELINE.md). */
  val names = Seq("segment_scan", "druid_interactive", "doc_dedup", "segment_ingest")

  def apply(name: String): Workload = name match {
    case "segment_scan" => new SegmentScan
    case "druid_interactive" => new DruidInteractive
    case "segment_ingest" => new SegmentIngest
    case "doc_dedup" => new DocDedup
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  def load(spark: SparkSession, root: String): DataFrame =
    spark.read.format("druid-segments").load(root)

  /** Write `rows` (sorted by time, `chunks` equal runs of one chunk
    * each) so that each write task holds exactly one chunk and flushes
    * one segment. */
  def writeSegments(ctx: Ctx, rows: IndexedSeq[Row], schema: StructType, root: String,
                    granularity: String, version: String, chunks: Int): Unit = {
    val df = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, chunks), schema)
    ctx.note("write.rows", rows.size)
    ctx.note("write.batches", 1)
    ctx.span("write.save") {
      df.write.format("druid-segments").mode("append")
        .option("dataSource", DataSource)
        .option("segmentGranularity", granularity)
        .option("version", version)
        .save(root)
    }
  }

  /** Bytes of published segments (index.zip + descriptor.json) under
    * `dir`, walked with java.nio. */
  def segmentBytes(dir: File, version: Option[String] = None): Long =
    fileBytes(dir, p => (p.getFileName.toString == "index.zip" ||
      p.getFileName.toString == "descriptor.json") &&
      version.forall(v => p.toString.contains(s"/$v/")))

  def fileBytes(dir: File, keep: java.nio.file.Path => Boolean): Long = {
    if (!dir.exists()) return 0L
    val s = java.nio.file.Files.walk(dir.toPath)
    try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) && keep(p))
      .map(p => java.nio.file.Files.size(p)).sum
    finally s.close()
  }

  /** Count and sums of `[lo, hi)` read back through the DSv2 scan. */
  def readBack(ctx: Ctx, root: String, lo: Long, hi: Long): Row =
    ctx.span("write.readback") {
      ctx.run(load(ctx.spark, root)) { df =>
        df.where(col("__time") >= lo && col("__time") < hi)
          .agg(count(lit(1)), sum(col("clicks")), sum(col("revenue")))
      }
    }.head

  def checkReadBack(what: String, got: Row, t: Totals): Option[String] =
    Check.values(what, Seq(
      ("count", got.get(0), t.rows),
      ("sum(clicks)", got.get(1), t.clicks),
      ("sum(revenue)", got.get(2), t.revenue)))

  def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
  def interval(lo: Long, hi: Long): String = s"${iso(lo)}/${iso(hi)}"

  /** Full-pass aggregate over every column of an [[EventSpec]] table;
    * string expressions keep it out of aggregate pushdown, so every
    * row is decoded. Result order matches [[expected]]. */
  def fullPass(spec: EventSpec)(df: DataFrame): DataFrame = {
    val dimAggs = spec.dims.flatMap { d =>
      Seq(sum(length(col(d.name))), min(col(d.name)), max(col(d.name)))
    }
    val aggs = Seq(sum(col("__time")), min(col("__time")), max(col("__time"))) ++ dimAggs ++
      Seq(sum(size(col("tags"))),
        sum(aggregate(col("tags"), lit(0L), (acc, t) => acc + length(t))),
        sum(col("clicks")), sum(col("revenue")))
    df.agg(count(lit(1)), aggs: _*)
  }

  def expected(t: Totals): Seq[(String, Any)] =
    Seq("count" -> t.rows, "sum(__time)" -> t.sumTime, "min(__time)" -> t.minTime,
      "max(__time)" -> t.maxTime) ++
      t.dims.indices.flatMap { i =>
        val d = t.dims(i)
        Seq(s"sum(length($d))" -> t.dimLen(i), s"min($d)" -> t.dimMin(i), s"max($d)" -> t.dimMax(i))
      } ++
      Seq("sum(size(tags))" -> t.tagCount, "sum(tag lengths)" -> t.tagLen,
        "sum(clicks)" -> t.clicks, "sum(revenue)" -> t.revenue)

  def checkFullPass(what: String, got: Row, t: Totals): Option[String] =
    Check.values(what, expected(t).zipWithIndex.map { case ((n, want), i) =>
      (n, got.get(i), want)
    })

  def distinctCounts(t: Totals): Map[String, Int] =
    t.dims.zip(t.distinct.map(_.size)).toMap
}

import Workloads._

/** Batch ETL read: one full aggregate pass over a datasource per op. */
final class SegmentScan extends Workload {
  val name = "segment_scan"
  val mainKind = "scan"
  val unit = "rows"
  val spec = EventSpec(Seq(Dim("country", "c", 40), Dim("device", "d", 8), Dim("page", "p", 200)), 12)
  val Days = 8
  val RowsPerDay = 8000
  val warmupOps = 5
  var root: String = _
  var totals: Totals = _
  var bytesPerUnit: Double = _

  def setup(ctx: Ctx, dir: File): Unit = {
    root = new File(dir, "deep").getPath
    val rows = ctx.span("setup.generate")(generated(ctx.seed))
    totals = ctx.span("setup.oracle")(Gen.totals(spec, rows))
    writeSegments(ctx, rows, spec.schema, root, "DAY", "2026-02-01T00:00:00Z", Days)
    bytesPerUnit = segmentBytes(new File(root)).toDouble / rows.size
  }

  def generated(seed: Long): IndexedSeq[Row] = {
    val r = Gen.rng(seed, 1)
    (0 until Days).flatMap(d => Gen.events(spec, r, RowsPerDay, Epoch + d * DayMs, DayMs))
  }

  def op(ctx: Ctx, i: Int): OpRun = {
    val got = ctx.run(load(ctx.spark, root))(fullPass(spec))
    OpRun("scan", totals.rows, (Long.MinValue, Long.MaxValue),
      () => checkFullPass("full pass", got.head, totals))
  }

  def inputs: Seq[(String, Any)] = Seq("rows" -> totals.rows, "segments" -> Days,
    "rows_per_segment" -> totals.rows / Days,
    "distinct_per_dim" -> distinctCounts(totals), "tags_cardinality" -> spec.tags)
}

/** Dashboard traffic: a cycle of seeded Druid JSON queries over small
  * hourly segments, with every 4th op re-publishing one hour and
  * reading it back. */
final class DruidInteractive extends Workload {
  val name = "druid_interactive"
  val mainKind = "query"
  val unit = "queries"
  val spec = EventSpec(Seq(Dim("country", "c", 30), Dim("device", "d", 6), Dim("user", "u", 20000)), 10)
  val Hours = 12
  val RowsPerHour = 1500
  /** One query per template. */
  val PoolSize = 5
  /** Every `RepublishEvery`-th op re-publishes an hour. */
  val RepublishEvery = 4
  /** One pass over the pool and one re-publish: the first run of each
    * query shape compiles its generated code. */
  val warmupOps = PoolSize + 1
  /** Whole passes over the pool: the query shapes differ in cost. */
  override val mainBatch: Int = PoolSize
  var root: String = _
  var rows: IndexedSeq[Row] = _
  var totals: Totals = _
  var pool: IndexedSeq[(String, String, String, (Long, Long), Boolean)] = _
  private val oracle = mutable.Map.empty[Int, Seq[List[Any]]]
  private var republished = 0
  private var queried = 0
  var bytesPerUnit: Double = _
  /** Draws each re-published hour. */
  private var mix: java.util.SplittableRandom = _

  def setup(ctx: Ctx, dir: File): Unit = {
    mix = Gen.rng(ctx.seed, 7)
    root = new File(dir, "deep").getPath
    rows = ctx.span("setup.generate")(events(ctx.seed))
    totals = Gen.totals(spec, rows)
    writeSegments(ctx, rows, spec.schema, root, "HOUR", "2026-02-01T00:00:00Z", Hours)
    bytesPerUnit = segmentBytes(new File(root)).toDouble / rows.size
    val parquet = new File(dir, "events.parquet").getPath
    ctx.span("setup.parquet") {
      ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 4), spec.schema)
        .withColumn("ts", timestamp_millis(col("__time")))
        .write.parquet(parquet)
    }
    ctx.spark.read.parquet(parquet).createOrReplaceTempView("ev")
    pool = queries(ctx.seed)
    oracle.clear()
  }

  /** Oracle answer of pool query `k`: Spark SQL over the parquet copy,
    * computed on the query's first use (after its timed run) and kept. */
  private def answer(ctx: Ctx, k: Int): Seq[List[Any]] =
    oracle.getOrElseUpdate(k, ctx.spark.sql(pool(k)._3).collect().toSeq.map(Check.canon))

  def events(seed: Long): IndexedSeq[Row] = {
    val r = Gen.rng(seed, 2)
    (0 until Hours).flatMap(h => Gen.events(spec, r, RowsPerHour, Epoch + h * HourMs, HourMs))
  }

  /** The query pool: (kind, Druid JSON, oracle SQL, interval, ordered). */
  def queries(seed: Long): IndexedSeq[(String, String, String, (Long, Long), Boolean)] = {
    val r = Gen.rng(seed, 3)
    (0 until PoolSize).map(draw(r, _))
  }

  def generated(seed: Long): Seq[Any] = events(seed) ++ queries(seed)

  private def user(r: java.util.SplittableRandom): String = spec.dims(2).draw(r)

  /** Query `k` of the pool: templates cycle so every kind is present. */
  private def draw(r: java.util.SplittableRandom, k: Int)
      : (String, String, String, (Long, Long), Boolean) = {
    val len = 1 + r.nextInt(6)
    val lo = Epoch + r.nextInt(Hours - len + 1) * HourMs
    val hi = lo + len * HourMs
    val iv = s""""intervals":["${interval(lo, hi)}"]"""
    val where = s"__time >= $lo AND __time < $hi"
    val aggs = """"aggregations":[{"type":"count","name":"rows"},""" +
      """{"type":"longSum","name":"clicks","fieldName":"clicks"},""" +
      """{"type":"doubleSum","name":"revenue","fieldName":"revenue"}]"""
    val users = Seq.fill(20)(user(r)).distinct.sorted
    val (a, b) = { val x = user(r); val y = user(r); if (x <= y) (x, y) else (y, x) }
    val inF = s"""{"type":"in","dimension":"user","values":[${users.map("\"" + _ + "\"").mkString(",")}]}"""
    val inSql = s"user IN (${users.map("'" + _ + "'").mkString(",")})"
    val boundF = s"""{"type":"bound","dimension":"user","lower":"$a","upper":"$b","ordering":"lexicographic"}"""
    val boundSql = s"user >= '$a' AND user <= '$b'"
    k % PoolSize match {
      case 0 =>
        val u = user(r)
        ("timeseries",
          s"""{"queryType":"timeseries","dataSource":"events","granularity":"hour",$iv,""" +
            s""""filter":{"type":"selector","dimension":"user","value":"$u"},$aggs}""",
          s"SELECT date_trunc('HOUR', ts), count(*), sum(clicks), sum(revenue) FROM ev " +
            s"WHERE $where AND user = '$u' GROUP BY 1 ORDER BY 1", (lo, hi), true)
      case 1 => ("timeBoundary",
        s"""{"queryType":"timeBoundary","dataSource":"events",$iv,"filter":$inF}""",
        s"SELECT min(__time), max(__time) FROM ev WHERE $where AND $inSql", (lo, hi), false)
      case 2 => ("topN",
        s"""{"queryType":"topN","dataSource":"events","granularity":"all",$iv,"dimension":"country",""" +
          s""""metric":"clicks","threshold":5,"filter":$inF,$aggs}""",
        s"SELECT country, count(*), sum(clicks) AS c, sum(revenue) FROM ev WHERE $where AND $inSql " +
          "GROUP BY country ORDER BY c DESC, country ASC LIMIT 5", (lo, hi), true)
      case 3 => ("groupBy",
        s"""{"queryType":"groupBy","dataSource":"events","granularity":"all",$iv,""" +
          s""""dimensions":["device","country"],"filter":$boundF,$aggs}""",
        s"SELECT device, country, count(*), sum(clicks), sum(revenue) FROM ev " +
          s"WHERE $where AND $boundSql GROUP BY device, country", (lo, hi), false)
      case _ => ("scan",
        s"""{"queryType":"scan","dataSource":"events",$iv,"columns":["__time","user","clicks"],""" +
          s""""filter":$boundF,"order":"ascending","limit":20}""",
        s"SELECT __time, user, clicks FROM ev WHERE $where AND $boundSql " +
          "ORDER BY __time, user, clicks LIMIT 20", (lo, hi), true)
    }
  }

  override def kindOf(i: Int): String =
    if (i % RepublishEvery == RepublishEvery - 1) "republish" else mainKind

  def op(ctx: Ctx, i: Int): OpRun =
    if (kindOf(i) == "republish") {
      // re-publish one hour's identical rows under a newer version:
      // answers stay the same while overshadowed segments pile up
      republished += 1
      val h = mix.nextInt(Hours)
      val (lo, hi) = (Epoch + h * HourMs, Epoch + (h + 1) * HourMs)
      val hourRows = rows.slice(h * RowsPerHour, (h + 1) * RowsPerHour)
      writeSegments(ctx, hourRows, spec.schema, root, "HOUR",
        iso(Gen.Epoch + 90L * DayMs + republished * 1000L), 1)
      val got = readBack(ctx, root, lo, hi)
      OpRun("republish", hourRows.size, (lo, hi), () =>
        checkReadBack(s"re-published hour $h read-back", got, Gen.totals(spec, hourRows)))
    } else {
      // the pool cycles in a fixed order, so every run sends the same
      // mix of query types; the seed sets their intervals and filters
      val k = queried % pool.size
      queried += 1
      val (kind, json, _, iv, ordered) = pool(k)
      val got = ctx.run(load(ctx.spark, root))(df => DruidQueries.run(df, "__time", json))
      OpRun("query", 1, iv,
        () => Check.rows(s"$kind $json", got.toSeq.map(Check.canon), answer(ctx, k), ordered))
    }

  def inputs: Seq[(String, Any)] = Seq("rows" -> totals.rows, "segments" -> Hours,
    "rows_per_segment" -> RowsPerHour, "distinct_per_dim" -> distinctCounts(totals),
    "tags_cardinality" -> spec.tags, "query_pool" -> PoolSize,
    "republished_hours" -> republished)
}

/** The write path: each op appends one seeded batch in DAY chunks and
  * reads its count and sums back. */
final class SegmentIngest extends Workload {
  val name = "segment_ingest"
  val mainKind = "ingest"
  val unit = "rows"
  val spec = EventSpec(Seq(Dim("user", "u", 20000), Dim("session", "s", 100000), Dim("country", "c", 40)), 12)
  val DaysPerBatch = 4
  val RowsPerDay = 2000
  val warmupOps = 1
  var root: String = _
  private var seed = 0L
  private var rowsWritten = 0L
  private var bytesWritten = 0L
  private val distinct = mutable.Map.empty[String, Int]

  def setup(ctx: Ctx, dir: File): Unit = {
    seed = ctx.seed
    root = new File(dir, "deep").getPath
    new File(root).mkdirs()
  }

  /** Batch `i`: its own days, so batches never overshadow each other. */
  def batch(seed: Long, i: Int): (IndexedSeq[Row], Long, Long) = {
    val lo = Epoch + i.toLong * DaysPerBatch * DayMs
    val r = Gen.rng(seed, 1000L + i)
    val rows = (0 until DaysPerBatch).flatMap(d =>
      Gen.events(spec, r, RowsPerDay, lo + d * DayMs, DayMs))
    (rows, lo, lo + DaysPerBatch * DayMs)
  }

  private var next: (IndexedSeq[Row], Long, Long, Totals) = _

  override def prepare(ctx: Ctx, i: Int): Unit = {
    val (rows, lo, hi) = batch(seed, i)
    next = (rows, lo, hi, Gen.totals(spec, rows))
  }

  def op(ctx: Ctx, i: Int): OpRun = {
    val (rows, lo, hi, t) = next
    val version = iso(Epoch + 30L * DayMs + i * 1000L)
    writeSegments(ctx, rows, spec.schema, root, "DAY", version, DaysPerBatch)
    val got = readBack(ctx, root, lo, hi)
    rowsWritten += rows.size
    bytesWritten += segmentBytes(new File(root), Some(version))
    t.dims.zip(t.distinct.map(_.size)).foreach { case (d, n) => distinct(d) = n }
    OpRun("ingest", rows.size, (lo, hi), () => checkReadBack(s"batch $i read-back", got, t))
  }

  def generated(seed: Long): Seq[Any] = (0 until 3).flatMap(batch(seed, _)._1)

  def bytesPerUnit: Double = bytesWritten.toDouble / rowsWritten

  def inputs: Seq[(String, Any)] = Seq("rows_per_batch" -> DaysPerBatch * RowsPerDay,
    "segments_per_batch" -> DaysPerBatch, "rows_per_segment" -> RowsPerDay,
    "distinct_per_dim" -> distinct.toMap, "tags_cardinality" -> spec.tags,
    "rows_written" -> rowsWritten)
}

/** LLM data prep: near-duplicate clusters and canonical picks over a
  * corpus with planted clusters. */
final class DocDedup extends Workload {
  val name = "doc_dedup"
  val mainKind = "dedup"
  val unit = "docs"
  val Docs = 1000
  var root: String = _
  var corpusPath: String = _
  var docs: IndexedSeq[Doc] = _
  var wantCluster: Map[Long, Long] = _
  var wantKeep: Map[Long, (Long, Long)] = _
  var bytesPerUnit: Double = _
  val warmupOps = 3

  def setup(ctx: Ctx, dir: File): Unit = {
    // no deep storage here: the discovery probes list an empty root
    root = new File(dir, "deep").getPath
    new File(root).mkdirs()
    corpusPath = new File(dir, "corpus.parquet").getPath
    docs = ctx.span("setup.generate")(generated(ctx.seed))
    ctx.span("setup.oracle") {
      val byCluster = docs.groupBy(_.cluster).values
      wantCluster = byCluster.flatMap { m =>
        val c = m.map(_.id).min
        m.map(_.id -> c)
      }.toMap
      // keep = max quality, ties to the smallest id
      wantKeep = byCluster.map { m =>
        val keep = m.maxBy(d => (d.quality, -d.id))
        m.map(_.id).min -> (keep.id, m.size.toLong)
      }.toMap
    }
    import ctx.spark.implicits._
    ctx.span("write.save") {
      docs.map(d => (d.id, d.text, d.quality)).toDF("doc_id", "text", "quality")
        .repartition(4).write.parquet(corpusPath)
    }
    bytesPerUnit = fileBytes(new File(corpusPath), _.toString.endsWith(".parquet")).toDouble / Docs
  }

  def generated(seed: Long): IndexedSeq[Doc] = Gen.corpus(Gen.rng(seed, 4), Docs)

  def op(ctx: Ctx, i: Int): OpRun = {
    val corpus = () => ctx.spark.read.parquet(corpusPath)
    // the Dedup.* calls are the compile phase: connected components
    // runs its eager actions inside them
    val clusters = ctx.run(corpus())(df => Dedup.clusters(df, "doc_id", "text"))
    val keeps = ctx.run(corpus())(df => Dedup.canonicalPerCluster(df, "doc_id", "text", "quality"))
    OpRun("dedup", Docs, (Long.MinValue, Long.MaxValue), () => {
      val gotCluster = clusters.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      val gotKeep = keeps.map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("keep_id"), r.getAs[Long]("n_members"))).toMap
      if (gotCluster != wantCluster)
        Some(s"clusters: ${gotCluster.size} labels, ${(gotCluster.toSet diff wantCluster.toSet).size} " +
          s"differ from the ${wantCluster.size} planted")
      else if (gotKeep != wantKeep)
        Some(s"canonicalPerCluster: ${(gotKeep.toSet diff wantKeep.toSet).take(3)} not planted")
      else None
    })
  }

  override def probe(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    val bands = ctx.span("probe.minhash") {
      ctx.spark.read.parquet(corpusPath)
        .select(explode(graft.functions.TextFunctions.minhashBands(col("text"), 3, 64, 2)))
        .count()
    }
    require(bands == Docs.toLong * 32, s"minhash probe: $bands bands for $Docs docs")
    ctx.note("functions.minhash_docs_per_s", Docs / ((System.nanoTime() - t0) / 1e9))
  }

  def inputs: Seq[(String, Any)] = Seq("docs" -> Docs,
    "planted_clusters" -> wantKeep.count(_._2._2 > 1),
    "docs_in_clusters" -> wantKeep.values.filter(_._2 > 1).map(_._2).sum,
    "singletons" -> wantKeep.count(_._2._2 == 1))
}

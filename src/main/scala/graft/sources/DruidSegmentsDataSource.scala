package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, Transform, Expression => V2Expression, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.model.DictPred

/** Druid deep storage as a first-class Spark DataSource V2 table —
  * the Spark-native re-expression of the reference's Hadoop
  * InputFormat entry point (druid-mr/DruidInputFormat.java:44-120,
  * which exposes a (dataSource, interval) segment list as MapReduce
  * splits):
  *
  * {{{
  * spark.read.format("druid-segments")
  *   .option("dataSource", "events")        // optional when the tree has one
  *   .load("/deep/storage/root")
  *   .where($"__time" >= t0 && $"host" === "a")   // pushed down
  *   .select("__time", "hits")                    // pruned at decode
  * }}}
  *
  * It is the one read path over Druid segments: a reference-style
  * (dataSource, interval, columns, DimFilter) read is `load` +
  * `.where` + `.select`, with a DimFilter JSON compiled to a `Column`
  * (`DimFilter.parse(json).compile(df.schema)`). Catalyst drives
  * projection and filters through the V2 pushdown hooks, so the same
  * pruning happens for plain SQL over the table:
  *
  *  - '''Column pruning''' (`SupportsPushDownRequiredColumns`) reaches
  *    the binary decoder: unprojected columns' bytes are never
  *    decompressed (DruidSegmentReader decodes only the requested
  *    internal smoosh files).
  *  - '''Filter pushdown''' (`SupportsPushDownFilters`): `__time`
  *    bounds tighten the scan interval BEFORE timeline resolution, so
  *    out-of-interval segments are never planned as partitions (the
  *    reference's interval argument, now inferred from the WHERE
  *    clause); string-dimension equality/IN/range/substring
  *    conjuncts feed the Druid-native dictionary short-circuit — a
  *    segment whose dictionary provably contains no matching value
  *    skips row decode entirely. All filters are also left for Spark to re-evaluate
  *    above the scan (same contract as the built-in file sources):
  *    the source prunes work, Spark owns exactness.
  *  - '''Statistics''' (`SupportsReportStatistics`): sizeInBytes =
  *    Σ index.zip bytes of the planned (post-pushdown) windows, so AQE
  *    and the broadcast-join threshold see a real, filter-aware size
  *    instead of defaulting to "huge".
  *
  * One InputPartition per timeline-visible segment window (Druid
  * builds ~500 MB segments — the natural split, exactly the
  * reference's WindowedDataSegment granularity), so a 100 TB
  * datasource plans ~200k independent decode tasks with no driver
  * bottleneck beyond the descriptor listing the reference also does.
  */
class DruidSegmentsDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "druid-segments"

  // writes hand getTable the query's own schema (the table declares
  // ACCEPT_ANY_SCHEMA and the WriteBuilder validates it), so the first
  // write into a fresh deep-storage root never infers anything — and
  // inference, which only reads reach, can fail loudly on the path
  override def supportsExternalMetadata(): Boolean = true

  // the schema inferSchema last returned: a plain read hands this very
  // instance back to getTable; any other schema (a write's query
  // schema, a read's user-specified one) is checked against the
  // segments if the table is read
  @volatile private var inferred: StructType = _

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    inferred = DruidSegmentsDataSource.discoveredSchema(SparkSession.active, options)
    inferred
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DruidSegmentsTable(schema, new CaseInsensitiveStringMap(properties),
      checkSchemaOnRead = !(schema eq inferred))
}

private[sources] object DruidSegmentsDataSource {

  /** Grouped-aggregate pushdown cap: past a few dims the combo count
    * approaches the row count and the pushed partial stops paying for
    * itself (and Spark-side grouping is already exact) — the same
    * conservatism Druid's own groupBy planner applies. */
  val MaxGroupDims = 4

  /** UNION schema across TIMELINE-VISIBLE segments of an
    * already-discovered descriptor set: Druid datasources evolve their
    * dimension set per-interval, so no single segment is
    * authoritative — but overshadowed generations can never be read,
    * so they neither widen the schema nor get to fail the
    * type-conflict check. Columns a segment lacks decode as null
    * there; conflicting types fail loudly
    * (DruidSegmentReader.unionSchema). Probes are cached per path
    * (segments are immutable). Taking descriptors — not a path — lets
    * [[DruidCatalog.loadTable]] reuse ITS discovery instead of
    * re-listing the tree. */
  private[sources] def visibleSchema(
      spark: SparkSession, segs: Seq[SegmentDescriptor]): StructType = {
    val visible = VersionedTimeline.resolve(segs, Long.MinValue, Long.MaxValue)
      .map(_.segment.path).distinct
    DruidSegmentReader.unionSchema(spark, visible)
  }

  /** The visible schema of the tree `options` names; a missing root
    * or segment dir fails with the path. */
  def discoveredSchema(spark: SparkSession, options: CaseInsensitiveStringMap): StructType = {
    val segs =
      try discover(spark, options)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new java.io.FileNotFoundException(
            s"druid-segments: no deep-storage root or segment dir at " +
              s"${options.get("path")} (${e.getMessage})")
      }
    visibleSchema(spark, segs)
  }

  /** A declared read schema the segments do not hold would decode
    * silently wrong: an unknown column as all-null (decode treats a
    * missing column as schema evolution), a mistyped one into the
    * wrong reader. Every declared column must exist with its type. */
  def requireHeld(declared: StructType, segments: StructType, where: String): Unit = {
    val held = segments.fields.map(f => f.name -> f.dataType).toMap
    val bad = declared.fields.filterNot(f => held.get(f.name).contains(f.dataType))
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"druid-segments: the read schema declares " +
        bad.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ") +
        s", which the segments at $where do not hold (they hold " +
        s"${segments.fields.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ")})")
  }

  /** Driver-side descriptor discovery + dataSource filter (one
    * listing per directory — the same O(#segments) planning cost as
    * the reference's overlord segment-list action). */
  def discover(spark: SparkSession, options: CaseInsensitiveStringMap): Seq[SegmentDescriptor] = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "druid-segments: option 'path' (deep-storage root) is required — " +
          "spark.read.format(\"druid-segments\").load(<root>)"))
    val all = DruidDeepStorage.discover(spark, root)
    val segs = Option(options.get("dataSource")) match {
      case Some(ds) => all.filter(_.dataSource == ds)
      case None =>
        val names = all.map(_.dataSource).distinct
        require(names.size <= 1,
          s"druid-segments: tree at $root holds dataSources ${names.mkString(", ")} — " +
            "pass .option(\"dataSource\", ...) to pick one")
        all
    }
    require(segs.nonEmpty, s"druid-segments: no segments under $root" +
      Option(options.get("dataSource")).map(ds => s" for dataSource '$ds'").getOrElse(""))
    segs
  }
}

/** `checkSchemaOnRead`: `tableSchema` did not come from the segments
  * (a user-specified read schema, a write's query schema), so a scan
  * first checks it against the discovered one. */
private[sources] class DruidSegmentsTable(tableSchema: StructType,
                                          options: CaseInsensitiveStringMap,
                                          checkSchemaOnRead: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = {
    val ds = Option(options.get("dataSource")).map(d => s"/$d").getOrElse("")
    s"druid-segments:${options.get("path")}$ds"
  }

  override def schema(): StructType = tableSchema

  // ACCEPT_ANY_SCHEMA: the write schema is the QUERY's schema (segments
  // are schemaless across intervals — Druid datasources evolve; the
  // WriteBuilder validates the mapping itself and fails loudly), which
  // also lets the FIRST write into an empty tree plan without an
  // inferred table schema.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    if (checkSchemaOnRead)
      DruidSegmentsDataSource.requireHeld(tableSchema,
        DruidSegmentsDataSource.discoveredSchema(SparkSession.active, options), options.get("path"))
    new DruidScanBuilder(tableSchema, options)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(info.options().asCaseSensitiveMap())
    val mergedMap = new CaseInsensitiveStringMap(merged)
    val root = Option(mergedMap.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "druid-segments write: option 'path' (deep-storage root) is required"))
    new DruidWriteBuilder(info, root, mergedMap)
  }
}

/** Accumulates Catalyst's pushdown into (interval ∩ __time bounds,
  * dictionary-required values, pruned columns) — the exact inputs of
  * [[DruidSegmentReader.decodeWindow]]. */
private[sources] class DruidScanBuilder(fullSchema: StructType,
                                        options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  private var requiredSchema: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty
  private var pushedAggs: Seq[DruidAgg] = Nil
  private var groupDims: Seq[String] = Nil
  private var pushedLimit: Int = -1
  private var pushedTopN: Option[(Boolean, Int)] = None // (desc, n)
  private var timeLo: Long = Long.MinValue
  private var timeHi: Long = Long.MaxValue
  // dim -> conjunctive dictionary predicates: every conjunct must
  // find a matching dictionary value, or the segment skips; each
  // conjunct's bitmap union intersects into the decoded row set
  private var preds: Map[String, Seq[DictPred]] = Map.empty

  private def isScalarString(dim: String): Boolean =
    fullSchema.fields.exists(f => f.name == dim && f.dataType == StringType)

  private def addPred(dim: String, p: DictPred): Unit =
    preds = preds.updated(dim, preds.getOrElse(dim, Nil) :+ p)

  private def longBound(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case _ => None // non-integral __time comparisons stay Spark-side
  }

  /** How a conjunct pushes: `Exact` means the source ALONE enforces it
    * (the per-row `__time` window clip in decodeWindow is exact, so the
    * conjunct needs no residual re-evaluation — which is what lets
    * Spark offer aggregate pushdown on time-bounded queries); `Approx`
    * means the source only PRUNES with it (dictionary short-circuit +
    * bitmap row sets are subset-safe, not exact — a column without a
    * readable bitmap region decodes unfiltered) and Spark must
    * re-evaluate it above the scan; `No` stays entirely Spark-side.
    * Side-effects accumulate the interval/dictionary bounds.
    *
    * `timeHi` is EXCLUSIVE, so `=`/`<=` bounds need `t + 1` — which
    * overflows at Long.MaxValue, wrapping the bound to MinValue and
    * planning an incorrectly EMPTY scan. `= MaxValue` therefore doesn't
    * push; `<= MaxValue` is a tautology over longs (exact with no
    * tightening) and `> MaxValue` a contradiction (exact: clamp to the
    * empty window [MaxValue, MaxValue)). */
  private def push(f: Filter): PushKind = f match {
    // decoded rows always carry a non-null __time (rows are walked off
    // the physical time column itself)
    case IsNotNull("__time") => PushKind.Exact
    case EqualTo("__time", v) => longBound(v).fold[PushKind](PushKind.No) { t =>
      if (t == Long.MaxValue) PushKind.No
      else {
        timeLo = math.max(timeLo, t); timeHi = math.min(timeHi, t + 1); PushKind.Exact
      }
    }
    case GreaterThan("__time", v) => longBound(v).fold[PushKind](PushKind.No) { t =>
      if (t == Long.MaxValue) { timeLo = t; timeHi = math.min(timeHi, t) }
      else timeLo = math.max(timeLo, t + 1)
      PushKind.Exact
    }
    case GreaterThanOrEqual("__time", v) => longBound(v).fold[PushKind](PushKind.No) { t =>
      timeLo = math.max(timeLo, t); PushKind.Exact
    }
    case LessThan("__time", v) => longBound(v).fold[PushKind](PushKind.No) { t =>
      timeHi = math.min(timeHi, t); PushKind.Exact
    }
    case LessThanOrEqual("__time", v) => longBound(v).fold[PushKind](PushKind.No) { t =>
      if (t != Long.MaxValue) timeHi = math.min(timeHi, t + 1)
      PushKind.Exact
    }
    case EqualTo(d, v: String) if isScalarString(d) =>
      addPred(d, DictPred.Values(Set(v))); PushKind.Approx
    case In(d, vs) if isScalarString(d) && vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      addPred(d, DictPred.Values(vs.map(_.asInstanceOf[String]).toSet)); PushKind.Approx
    // string ranges/patterns prune via the dictionary: Spark compares
    // strings in binary (UTF-8 byte) order, which DictPred.LexBound
    // mirrors exactly
    case GreaterThan(d, v: String) if isScalarString(d) =>
      addPred(d, DictPred.LexBound(Some(v), lowerStrict = true, None, upperStrict = false)); PushKind.Approx
    case GreaterThanOrEqual(d, v: String) if isScalarString(d) =>
      addPred(d, DictPred.LexBound(Some(v), lowerStrict = false, None, upperStrict = false)); PushKind.Approx
    case LessThan(d, v: String) if isScalarString(d) =>
      addPred(d, DictPred.LexBound(None, lowerStrict = false, Some(v), upperStrict = true)); PushKind.Approx
    case LessThanOrEqual(d, v: String) if isScalarString(d) =>
      addPred(d, DictPred.LexBound(None, lowerStrict = false, Some(v), upperStrict = false)); PushKind.Approx
    case StringStartsWith(d, v) if isScalarString(d) =>
      addPred(d, DictPred.Prefix(v)); PushKind.Approx
    case StringEndsWith(d, v) if isScalarString(d) =>
      addPred(d, DictPred.Suffix(v)); PushKind.Approx
    case StringContains(d, v) if isScalarString(d) =>
      addPred(d, DictPred.Contains(v)); PushKind.Approx
    case _ => PushKind.No
  }

  /** Returns the residual: Approx conjuncts (pruning-only — Spark owns
    * exactness, the built-in file sources' contract) and unpushed
    * conjuncts. Exact `__time` bounds are fully consumed by the window
    * clip, so they DON'T come back — a purely time-bounded query keeps
    * no Filter above the scan and stays eligible for aggregate
    * pushdown. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val acc = Array.newBuilder[Filter]
    val residual = Array.newBuilder[Filter]
    filters.foreach { f =>
      push(f) match {
        case PushKind.Exact => acc += f
        case PushKind.Approx => acc += f; residual += f
        case PushKind.No => residual += f
      }
    }
    accepted = acc.result()
    residual.result()
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(schema: StructType): Unit = requiredSchema = schema

  private def isTimeRef(e: V2Expression): Boolean = e match {
    case nr: NamedReference => nr.fieldNames.toSeq == Seq("__time")
    case _ => false
  }

  /** Partial pushdown only: each timeline window answers its own
    * (count, min __time, max __time) from segment metadata / the
    * `__time` column alone, and Spark merges the partials — correct
    * for any number of windows, where complete pushdown would need a
    * single-partition guarantee. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false

  /** Accept count(*) / count(__time) / min(__time) / max(__time),
    * globally or GROUPED BY up to [[DruidSegmentsDataSource.MaxGroupDims]]
    * scalar string dims — Druid's timeBoundary, timeseries-count and
    * topN/groupBy shapes, the queries an aggregation-first datasource
    * serves constantly. The grouped form answers from the dims'
    * inverted indexes (per-combo count = bitmap ∧ … ∧ bitmap ∧ window
    * cardinality; empty subtrees pruned, per-segment decode fallback
    * past a cardinality-product cap) without ever decompressing the
    * dims' value chunks. Spark only offers aggregation when no
    * residual Filter remains above the scan, i.e. when every WHERE
    * conjunct pushed Exact; dictionary predicates always leave a
    * residual, so `preds` is empty here by construction (checked
    * anyway — a wrongly-counted row is silent corruption). */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (preds.nonEmpty) return false
    // flat column refs over DISTINCT scalar string dims; __time
    // grouping and MV dims (ArrayType in the schema) stay Spark-side
    val groupRefs = aggregation.groupByExpressions.toSeq
    val dims: Seq[String] =
      if (groupRefs.isEmpty) Nil
      else if (groupRefs.length <= DruidSegmentsDataSource.MaxGroupDims &&
        groupRefs.forall {
          case nr: NamedReference => nr.fieldNames.length == 1 &&
            nr.fieldNames.head != "__time" && isScalarString(nr.fieldNames.head)
          case _ => false
        }) {
        val names = groupRefs.map(_.asInstanceOf[NamedReference].fieldNames.head)
        if (names.distinct.length != names.length) return false
        names
      } else return false
    // a LONG metric column (never a dim — dims are strings — and never
    // a grouped column); exact long arithmetic is what makes the
    // partial sound, so FLOAT/DOUBLE metrics never push
    def longMetric(e: V2Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val n = nr.fieldNames.head
        if (n != "__time" && fullSchema.fields.exists(f => f.name == n && f.dataType == LongType))
          Some(n)
        else None
      case _ => None
    }
    val translated = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(DruidAgg.RowCount)
      // __time is physically never null → count(__time) ≡ count(*)
      case c: Count if !c.isDistinct && isTimeRef(c.column) => Some(DruidAgg.RowCount)
      case m: Min if isTimeRef(m.column) => Some(DruidAgg.MinTime)
      case m: Max if isTimeRef(m.column) => Some(DruidAgg.MaxTime)
      case s: Sum if !s.isDistinct => longMetric(s.column).map(DruidAgg.SumMetric)
      case m: Min => longMetric(m.column).map(DruidAgg.MinMetric)
      case m: Max => longMetric(m.column).map(DruidAgg.MaxMetric)
      case _ => None
    }
    if (translated.nonEmpty && translated.forall(_.isDefined)) {
      pushedAggs = translated.flatten
      groupDims = dims
      true
    } else false
  }

  /** PARTIAL limit: each partition stops decoding after `limit` rows
    * (with lazy chunks that means later rows' chunks never
    * decompress); Spark keeps the global Limit above the scan.
    * Declined when dictionary predicates are pushed — they prune
    * approximately, and truncating an over-approximate row stream
    * could starve the residual filter of matching rows (Spark's own
    * rule wouldn't push a limit below a residual Filter; declining is
    * defense-in-depth at the source). */
  override def pushLimit(limit: Int): Boolean =
    preds.isEmpty && limit >= 0 && { pushedLimit = limit; true }

  /** PARTIAL top-n on `__time` — Druid's time-ordered scan shape
    * ("latest n events"): each partition heap-selects its n best rows
    * off the __time column and decodes ONLY those rows' dims/metrics;
    * Spark's TakeOrderedAndProject merges and re-sorts the per-window
    * winners. Same decline rule as limit: approximate dictionary
    * predicates keep a residual filter that a truncated stream could
    * starve. Null ordering is irrelevant — __time is physically
    * non-null. */
  override def pushTopN(orders: Array[V2SortOrder], limit: Int): Boolean =
    preds.isEmpty && limit >= 1 && (orders match {
      case Array(o) if isTimeRef(o.expression()) =>
        pushedTopN = Some((o.direction() == SortDirection.DESCENDING, limit))
        true
      case _ => false
    })

  /** Shared by limit and top-n pushdown: both are per-partition
    * partials — Spark keeps the global Limit / ordered merge above. */
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    new DruidScan(options, requiredSchema, accepted, timeLo, timeHi, preds,
      pushedAggs,
      if (pushedAggs.nonEmpty || pushedTopN.nonEmpty) -1 else pushedLimit,
      if (pushedAggs.nonEmpty) None else pushedTopN,
      groupDims)
}

private[sources] sealed abstract class PushKind
private[sources] object PushKind {
  case object Exact extends PushKind
  case object Approx extends PushKind
  case object No extends PushKind
}

/** The aggregate shapes the source can answer without materializing
  * rows: counts and `__time` bounds from metadata/the time column,
  * long-metric sum/min/max from the metric column alone (modulo-2^64
  * long addition is associative, so window partials merge to exactly
  * Spark's own non-ANSI long SUM under any row order — which is why
  * LONG metrics push and floating-point ones never do). */
private[sources] sealed abstract class DruidAgg extends Serializable
private[sources] object DruidAgg {
  case object RowCount extends DruidAgg
  case object MinTime extends DruidAgg
  case object MaxTime extends DruidAgg
  final case class SumMetric(col: String) extends DruidAgg
  final case class MinMetric(col: String) extends DruidAgg
  final case class MaxMetric(col: String) extends DruidAgg

  def metricCols(aggs: Seq[DruidAgg]): Seq[String] = aggs.collect {
    case SumMetric(c) => c
    case MinMetric(c) => c
    case MaxMetric(c) => c
  }.distinct

  def describe(aggs: Seq[DruidAgg]): String = aggs.map {
    case RowCount => "COUNT(*)"
    case MinTime => "MIN(__time)"
    case MaxTime => "MAX(__time)"
    case SumMetric(c) => s"SUM($c)"
    case MinMetric(c) => s"MIN($c)"
    case MaxMetric(c) => s"MAX($c)"
  }.mkString(", ")

  def schema(aggs: Seq[DruidAgg]): StructType = StructType(aggs.zipWithIndex.map {
    case (RowCount, i) => StructField(s"count_$i", LongType, nullable = false)
    case (MinTime, i) => StructField(s"min_time_$i", LongType, nullable = true)
    case (MaxTime, i) => StructField(s"max_time_$i", LongType, nullable = true)
    case (SumMetric(c), i) => StructField(s"sum_${c}_$i", LongType, nullable = true)
    case (MinMetric(c), i) => StructField(s"min_${c}_$i", LongType, nullable = true)
    case (MaxMetric(c), i) => StructField(s"max_${c}_$i", LongType, nullable = true)
  })
}

private[sources] class DruidScan(options: CaseInsensitiveStringMap,
                                 prunedSchema: StructType,
                                 pushed: Array[Filter],
                                 timeLo: Long, timeHi: Long,
                                 preds: Map[String, Seq[DictPred]],
                                 aggs: Seq[DruidAgg] = Nil,
                                 limit: Int = -1,
                                 topN: Option[(Boolean, Int)] = None,
                                 groupDims: Seq[String] = Nil)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportOrdering {

  /** Druid segments store rows sorted by `__time` ascending (the
    * ingestion-time invariant real Druid and this repo's writer both
    * guarantee), and every decode path walks rows in ascending row-id
    * order (full walk, bitmap iterator, window clip, early-stop limit)
    * — so each partition streams time-ordered and Spark can drop
    * per-partition Sorts on `__time`. Not reported for pushed
    * aggregates (different output schema) or pushed top-n (heap
    * winners re-sorted by TakeOrderedAndProject above). */
  override def outputOrdering(): Array[V2SortOrder] =
    if (aggs.nonEmpty || topN.isDefined) Array.empty
    else if (prunedSchema.fieldNames.contains("__time"))
      Array(Expressions.sort(Expressions.column("__time"), SortDirection.ASCENDING))
    else Array.empty

  // ---- runtime (dynamic-partition-pruning) filters ----
  // Spark hands the build side's join-key values to `filter()` at
  // execution; both effects are PRUNING-ONLY (the join above still
  // enforces exactness, the DPP contract): `__time` values tighten the
  // planned interval so out-of-range WINDOWS never become tasks, and
  // dim values become extra dictionary conjuncts so a segment whose
  // dictionary lacks every value skips without decoding a chunk. At a
  // 100 TB datasource this is the difference between scanning the year
  // and scanning the week the dim table selected.
  private var runtimeLo: Long = Long.MinValue
  private var runtimeHi: Long = Long.MaxValue
  private var runtimePreds: Map[String, Seq[DictPred]] = Map.empty

  /** Offered only for plain row scans: pushed aggregates answer from
    * metadata (no benefit, and a grouped partial must count every
    * window), and pushed limit/top-n already bound their decode. Only
    * columns surviving column pruning may be offered — Spark resolves
    * these refs against the scan's OUTPUT and throws on a miss. */
  override def filterAttributes(): Array[NamedReference] =
    if (aggs.nonEmpty || topN.isDefined || limit >= 0) Array.empty
    else prunedSchema.fields.collect {
      case f if f.name == "__time" || f.dataType == StringType => Expressions.column(f.name)
    }

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("__time", vs) =>
      val longs = vs.toSeq.collect { case l: Long => l; case i: Int => i.toLong }
      if (longs.isEmpty) { runtimeLo = Long.MaxValue; runtimeHi = Long.MinValue }
      else {
        runtimeLo = math.max(runtimeLo, longs.min)
        // max+1 can't overflow here: a join-side __time of
        // Long.MaxValue can't exist (segments carry finite intervals),
        // but clamp anyway
        runtimeHi = math.min(runtimeHi,
          if (longs.max == Long.MaxValue) Long.MaxValue else longs.max + 1)
      }
    case EqualTo("__time", v) => v match {
      case l: Long => runtimeLo = math.max(runtimeLo, l)
        if (l != Long.MaxValue) runtimeHi = math.min(runtimeHi, l + 1)
      case _ => ()
    }
    case In(dim, vs) if prunedSchema.fields.exists(f => f.name == dim && f.dataType == StringType) =>
      // nulls never equi-join: dropping them keeps pruning sound
      val strs = vs.toSeq.collect { case s: String => s }.toSet
      runtimePreds = runtimePreds.updated(dim,
        runtimePreds.getOrElse(dim, Nil) :+ DictPred.Values(strs))
    case EqualTo(dim, v: String) if prunedSchema.fields.exists(f => f.name == dim && f.dataType == StringType) =>
      runtimePreds = runtimePreds.updated(dim,
        runtimePreds.getOrElse(dim, Nil) :+ DictPred.Values(Set(v)))
    case _ => () // unknown shapes are ignored — pruning is optional
  }

  override def readSchema(): StructType =
    if (aggs.nonEmpty) {
      // pushed-aggregate layout: group-by columns first, then the
      // aggregate partials — the order V2ScanRelationPushDown expects
      val group = groupDims.map(d => StructField(d, StringType, nullable = true))
      StructType(group ++ DruidAgg.schema(aggs).fields)
    } else prunedSchema

  override def description(): String = {
    val aggPart = if (aggs.isEmpty) "" else
      s"PushedAggregates: [${DruidAgg.describe(aggs)}], " +
        (if (groupDims.isEmpty) "" else s"PushedGroupBy: [${groupDims.mkString(", ")}], ")
    val limitPart = if (limit < 0) "" else s"PushedLimit: $limit, "
    val topPart = topN.map { case (desc, n) =>
      s"PushedTopN: ORDER BY __time ${if (desc) "DESC" else "ASC"} LIMIT $n, "
    }.getOrElse("")
    s"DruidSegments $aggPart$limitPart${topPart}PushedFilters: [${pushed.mkString(", ")}], " +
      s"interval: [$timeLo, $timeHi), ReadColumns: ${readSchema.fieldNames.mkString(", ")}"
  }

  override def toBatch: Batch = this

  override def supportedCustomMetrics(): Array[CustomMetric] = DruidScanMetrics.supported

  /** Timeline resolution under the pushed interval — overshadowed
    * versions and out-of-interval segments never become partitions. */
  private lazy val windows: Seq[WindowedSegment] = {
    val spark = SparkSession.active
    val segs = DruidSegmentsDataSource.discover(spark, options)
    VersionedTimeline.resolve(segs, timeLo, timeHi)
  }

  // Σ index.zip bytes of the PLANNED windows: filter-aware, and the
  // same on-disk convention the parquet source reports, so the
  // broadcast threshold compares like with like. Cached on the Scan
  // (not recomputed per estimateStatistics() call — Spark may ask
  // several times during planning), and None when ANY file status
  // fails: reporting a failed stat as 0 bytes would steer AQE into
  // broadcasting an arbitrarily large table, while "unknown" falls
  // back to Spark's conservative default.
  private lazy val plannedBytes: Option[Long] =
    try {
      val conf = SparkSession.active.sparkContext.hadoopConfiguration
      Some(windows.map(_.segment.path).distinct.map { dir =>
        val p = new HPath(s"$dir/index.zip")
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum)
    } catch { case _: Exception => None }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      if (aggs.nonEmpty && groupDims.isEmpty) // one partial row per window
        util.OptionalLong.of(math.max(1, windows.size).toLong * 24)
      // grouped: row count is windows × per-window group cardinality —
      // unknown without opening dictionaries; report nothing rather
      // than steer AQE with a guess
      else if (aggs.nonEmpty) util.OptionalLong.empty()
      else plannedBytes.map(util.OptionalLong.of).getOrElse(util.OptionalLong.empty())
    override def numRows(): util.OptionalLong =
      if (aggs.nonEmpty && groupDims.isEmpty)
        util.OptionalLong.of(math.max(1, windows.size).toLong)
      else util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (aggs.nonEmpty) {
      val parts: Array[InputPartition] = windows.map { w =>
        val lo = math.max(w.windowStartMs, timeLo)
        val hi = math.min(w.windowEndMs, timeHi)
        // the clipped window covers the segment's WHOLE declared
        // interval → every row passes the time clip, so a count-only
        // partial needs just the supplier-header row count
        val full = lo <= w.segment.startMs && hi >= w.segment.endMs
        DruidAggPartition(w.segment.path, lo, hi, full): InputPartition
      }.toArray
      // zero windows must still aggregate to count=0 for the GLOBAL
      // form (Spark's final merge is a SUM over partials — over an
      // EMPTY scan it yields null, not 0): one synthetic partition
      // emits the zero row. A grouped aggregate over zero rows is
      // correctly EMPTY — no synthetic partition.
      if (parts.nonEmpty) parts
      else if (groupDims.nonEmpty) Array.empty
      else Array(DruidAggPartition("", 0L, 0L, fullCoverage = false))
    } else {
      val eLo = math.max(timeLo, runtimeLo)
      val eHi = math.min(timeHi, runtimeHi)
      // plan-time preds and runtime (DPP) preds are independent
      // conjunct sets; per dim they concatenate
      val mergedPreds = runtimePreds.foldLeft(preds) { case (acc, (d, ps)) =>
        acc.updated(d, acc.getOrElse(d, Nil) ++ ps)
      }
      windows.flatMap { w =>
        val lo = math.max(w.windowStartMs, eLo)
        val hi = math.min(w.windowEndMs, eHi)
        if (lo >= hi) None // runtime-pruned window: never becomes a task
        else Some(DruidInputPartition(w.segment.path, lo, hi, mergedPreds, limit,
          topN = topN.map(_._2).getOrElse(-1),
          topDesc = topN.exists(_._1)): InputPartition)
      }.toArray
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new DruidSegmentReader.SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    groupDims match {
      case ds if ds.nonEmpty && aggs.nonEmpty => DruidGroupByReaderFactory(conf, aggs, ds)
      case _ if aggs.nonEmpty => DruidAggReaderFactory(conf, aggs)
      case _ => DruidPartitionReaderFactory(conf, readSchema)
    }
  }

  /** Streaming READ: tail the datasource — each trigger emits the rows
    * of segments PUBLISHED (descriptor.json written) since the last
    * offset. Append-only semantics, deliberately: a realtime tail
    * cannot retract rows it already emitted, so a later version
    * overshadowing an earlier one streams as ADDITIONAL rows (exactly
    * what Druid's own realtime→historical handoff looks like from a
    * tailing consumer); batch reads remain the timeline-resolved
    * truth. Pushed `__time` bounds and dictionary predicates still
    * prune each new segment's decode. */
  override def toMicroBatchStream(
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(aggs.isEmpty && topN.isEmpty && limit < 0,
      "druid-segments streaming read supports plain row scans only")
    new DruidMicroBatchStream(options, prunedSchema, timeLo, timeHi, preds)
  }
}

/** Offset = the set of segment dirs already emitted (sorted JSON list
  * — segment publications have no global order, so the offset is the
  * SET, and each batch is a set difference). */
private[sources] final case class DruidSegmentsOffset(dirs: Set[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.JArray(dirs.toSeq.sorted.map(org.json4s.JString(_)).toList))
}

private[sources] object DruidSegmentsOffset {
  def fromJson(json: String): DruidSegmentsOffset = {
    val org.json4s.JArray(items) =
      (org.json4s.jackson.JsonMethods.parse(json)): @unchecked
    DruidSegmentsOffset(items.collect { case org.json4s.JString(s) => s }.toSet)
  }
}

private[sources] class DruidMicroBatchStream(
    options: CaseInsensitiveStringMap, schema: StructType,
    timeLo: Long, timeHi: Long, preds: Map[String, Seq[DictPred]])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Discovery that tolerates an EMPTY (or not-yet-created) tree — a
    * tail may start before the first publish. */
  private def discoverNow(): Seq[SegmentDescriptor] =
    try DruidSegmentsDataSource.discover(SparkSession.active, options)
    catch {
      case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("no segments") => Nil
      case _: java.io.FileNotFoundException => Nil
    }

  override def initialOffset(): Offset = DruidSegmentsOffset(Set.empty)
  override def latestOffset(): Offset =
    DruidSegmentsOffset(discoverNow().map(_.path).toSet)
  override def deserializeOffset(json: String): Offset =
    DruidSegmentsOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[DruidSegmentsOffset].dirs
    val target = end.asInstanceOf[DruidSegmentsOffset].dirs
    discoverNow()
      .filter(s => target.contains(s.path) && !seen.contains(s.path))
      .flatMap { s =>
        val lo = math.max(s.startMs, timeLo)
        val hi = math.min(s.endMs, timeHi)
        if (lo >= hi) None
        else Some(DruidInputPartition(s.path, lo, hi, preds): InputPartition)
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    DruidPartitionReaderFactory(
      new DruidSegmentReader.SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration), schema)
}

private[sources] final case class DruidInputPartition(
    segmentDir: String, windowLo: Long, windowHi: Long,
    preds: Map[String, Seq[DictPred]],
    limit: Int = -1, topN: Int = -1, topDesc: Boolean = false) extends InputPartition

/** The source's SQL metrics, shown on its `BatchScanExec`: each reader
  * reports its own task's decode work ([[DruidSegmentReader.DecodeCounts]]
  * and the rows it emitted) and Spark sums the tasks. Spark builds the
  * metric classes by name, so each is a top-level no-arg class. */
private[sources] object DruidScanMetrics {
  val SegmentsDecoded = "segmentsDecoded"
  val ChunksDecompressed = "chunksDecompressed"
  val RowsEmitted = "rowsEmitted"

  def supported: Array[CustomMetric] = Array(
    new DruidSegmentsDecodedMetric, new DruidChunksDecompressedMetric, new DruidRowsEmittedMetric)

  /** Live views of one task's counts: built once per reader, read by
    * Spark at every metrics update. */
  def task(counts: DruidSegmentReader.DecodeCounts, rows: () => Long): Array[CustomTaskMetric] =
    Array(taskMetric(SegmentsDecoded, () => counts.segments),
      taskMetric(ChunksDecompressed, () => counts.chunks), taskMetric(RowsEmitted, rows))

  private def taskMetric(n: String, v: () => Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v()
  }
}

private[sources] class DruidSegmentsDecodedMetric extends CustomSumMetric {
  override def name(): String = DruidScanMetrics.SegmentsDecoded
  override def description(): String = "segments decoded"
}

private[sources] class DruidChunksDecompressedMetric extends CustomSumMetric {
  override def name(): String = DruidScanMetrics.ChunksDecompressed
  override def description(): String = "chunks decompressed"
}

private[sources] class DruidRowsEmittedMetric extends CustomSumMetric {
  override def name(): String = DruidScanMetrics.RowsEmitted
  override def description(): String = "rows emitted"
}

/** A partition reader over a lazily produced row stream: `next()`
  * advances, `get()` returns the current row (reused by the row
  * decoder, so a consumer that keeps it must `copy()`), and the task's
  * decode work is reported as the source's SQL metrics. */
private[sources] final class DruidRowReader(rows: Iterator[InternalRow],
                                            counts: DruidSegmentReader.DecodeCounts)
    extends PartitionReader[InternalRow] {
  private var cur: InternalRow = _
  private var emitted = 0L
  private val metrics = DruidScanMetrics.task(counts, () => emitted)
  override def next(): Boolean = rows.hasNext && { cur = rows.next(); emitted += 1; true }
  override def get(): InternalRow = cur
  override def currentMetricsValues(): Array[CustomTaskMetric] = metrics
  override def close(): Unit = ()
}

/** One timeline window's partial-aggregate task; an empty `segmentDir`
  * is the synthetic zero-row partition of an empty timeline. */
private[sources] final case class DruidAggPartition(
    segmentDir: String, windowLo: Long, windowHi: Long,
    fullCoverage: Boolean) extends InputPartition

private[sources] final case class DruidAggReaderFactory(
    conf: DruidSegmentReader.SerializableConfiguration,
    aggs: Seq[DruidAgg]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DruidAggPartition]
    val needBounds = aggs.contains(DruidAgg.MinTime) || aggs.contains(DruidAgg.MaxTime)
    val metricCols = DruidAgg.metricCols(aggs)
    val counts = new DruidSegmentReader.DecodeCounts
    val (count, mn, mx, metrics) =
      if (p.segmentDir.isEmpty)
        (0L, None, None, metricCols.map(_ -> None).toMap)
      else DruidSegmentReader.aggregateWindow(conf.value, p.segmentDir,
        p.windowLo, p.windowHi, p.fullCoverage, needBounds, metricCols, counts)
    val row = new GenericInternalRow(aggs.map[Any] {
      case DruidAgg.RowCount => count
      case DruidAgg.MinTime => mn.map(Long.box).orNull
      case DruidAgg.MaxTime => mx.map(Long.box).orNull
      case DruidAgg.SumMetric(c) => metrics(c).map(a => Long.box(a.sum)).orNull
      case DruidAgg.MinMetric(c) => metrics(c).map(a => Long.box(a.min)).orNull
      case DruidAgg.MaxMetric(c) => metrics(c).map(a => Long.box(a.max)).orNull
    }.toArray)
    new DruidRowReader(Iterator.single(row), counts)
  }
}

/** Grouped partial aggregates off the dim's inverted index: one
  * output row per (window, dictionary value with rows in the window)
  * — value chunks never decompress; Spark's final aggregate merges
  * groups across windows (partial pushdown). */
private[sources] final case class DruidGroupByReaderFactory(
    conf: DruidSegmentReader.SerializableConfiguration,
    aggs: Seq[DruidAgg], dims: Seq[String]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DruidAggPartition]
    val needBounds = aggs.contains(DruidAgg.MinTime) || aggs.contains(DruidAgg.MaxTime)
    val counts = new DruidSegmentReader.DecodeCounts
    val groups = DruidSegmentReader.aggregateGroupByDims(conf.value, p.segmentDir,
      dims, p.windowLo, p.windowHi, p.fullCoverage, needBounds, DruidAgg.metricCols(aggs),
      counts = counts)
    val rows = groups.map { g =>
      val cells = g.values.map[Any](v =>
        if (v == null) null else UTF8String.fromString(v)) ++
        aggs.map[Any] {
          case DruidAgg.RowCount => g.count
          case DruidAgg.MinTime => g.minT.map(Long.box).orNull
          case DruidAgg.MaxTime => g.maxT.map(Long.box).orNull
          case DruidAgg.SumMetric(c) => g.metrics(c).map(a => Long.box(a.sum)).orNull
          case DruidAgg.MinMetric(c) => g.metrics(c).map(a => Long.box(a.min)).orNull
          case DruidAgg.MaxMetric(c) => g.metrics(c).map(a => Long.box(a.max)).orNull
        }
      new GenericInternalRow(cells.toArray): InternalRow
    }
    new DruidRowReader(rows, counts)
  }
}

private[sources] final case class DruidPartitionReaderFactory(
    conf: DruidSegmentReader.SerializableConfiguration,
    schema: StructType) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DruidInputPartition]
    val counts = new DruidSegmentReader.DecodeCounts
    val rows =
      if (p.topN >= 0)
        DruidSegmentReader.decodeTopN(conf.value, p.segmentDir,
          p.windowLo, p.windowHi, schema, p.topN, p.topDesc, counts)
      else {
        val decoded = DruidSegmentReader.decodeWindow(
          conf.value, p.segmentDir, p.windowLo, p.windowHi, schema, p.preds, counts)
        // partial limit: rows stream lazily, so stopping here means
        // later rows' chunks are never decompressed
        if (p.limit >= 0) decoded.take(p.limit) else decoded
      }
    new DruidRowReader(rows, counts)
  }
}

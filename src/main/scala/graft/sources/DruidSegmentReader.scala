package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.roaringbitmap.buffer.{ImmutableRoaringBitmap, MutableRoaringBitmap}
import graft.model.DictPred

/** Reader for ACTUAL Apache Druid binary segments (binaryVersion 9) —
  * the reference's core capability re-expressed for Spark: where
  * druid-mr/DruidInputFormat.java:66-120 hands WindowedDataSegments to
  * Druid's own DatasourceInputFormat for decoding, this decodes the
  * segment format directly (smoosh container, GenericIndexed,
  * dictionary-encoded string dims, LZ4-compressed long/float metric
  * columns, complex metrics as raw bytes) and exposes the rows through
  * the `druid-segments` DataSource V2 table
  * ([[DruidSegmentsDataSource]]), so a user migrating off Druid can
  * read their existing deep-storage segments with no Druid runtime at
  * all.
  *
  * A segment directory holds `descriptor.json` (identity, interval,
  * version, dimension/metric name lists — the shape the reference's
  * overlord action returns) and `index.zip` (version.bin, meta.smoosh,
  * NNNNN.smoosh). All IO goes through the Hadoop FileSystem API, so
  * segments read straight off HDFS/S3 deep storage.
  *
  * Scale design: the driver touches ONE segment to derive the schema;
  * row decoding runs per-segment on executors (one task per segment —
  * Druid segments are built ~500 MB-sized, a natural split). Complex
  * metrics (e.g. hyperUnique) surface as their raw sketch bytes,
  * exactly like the reference's Pig adapter
  * (druid-pig/DruidStorage.java:139-152).
  *
  * Format notes (public, from the Apache Druid source):
  *  - meta.smoosh: csv — `v1,maxChunkSize,numChunks` then
  *    `name,chunk,start,end` per internal file.
  *  - GenericIndexed v1: version(1)=1, allowReverseLookup(1),
  *    totalBytes(4BE), count(4BE), end-offsets(4BE each, relative to
  *    the values region), values (each 4BE-length-prefixed).
  *  - String dim column: serde version(1)=2, flags(4), dictionary
  *    GenericIndexed<utf8>, then compressed int row ids: version(1)=2,
  *    numBytes(1), totalSize(4BE), sizePer(4BE), compression(1),
  *    GenericIndexed of LZ4 chunks. A roaring bitmap index follows
  *    (GenericIndexed of portable-format bitmaps, one per dictionary
  *    entry); filtered scans intersect these to prune row decode.
  *  - long/float metric: version(1)=2, totalSize(4BE), sizePer(4BE),
  *    compression(1), GenericIndexed of LZ4 chunks of little-endian
  *    values.
  *  - complex metric: GenericIndexed of opaque byte arrays.
  */
object DruidSegmentReader {

  // ---- public API ----

  final case class DruidColumn(name: String, valueType: String, hasMultipleValues: Boolean)

  /** Schema of a segment (driver-side: reads descriptors only). */
  def segmentSchema(spark: SparkSession, segmentDir: String): StructType =
    segmentSchema(spark.sparkContext.hadoopConfiguration, segmentDir)

  /** Druid segments are immutable once written (a new version is a new
    * directory), so per-path schema probes cache for the JVM's life —
    * repeated reads of the same datasource stop re-opening index.zip
    * for schema discovery (on the driver AND inside distributed probe
    * tasks). Bounded like the other path-keyed caches
    * ([[graft.BoundedCache]]): a long-lived session probing many
    * segments re-warms instead of growing without bound. */
  private[sources] val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private[sources] def segmentSchema(conf: Configuration, segmentDir: String): StructType = {
    val cached = schemaCache.get(segmentDir)
    if (cached != null) cached
    else {
      val schema = StructType(columnsOf(openSegment(conf, segmentDir)).map(sparkField))
      graft.BoundedCache.put(schemaCache, segmentDir, schema)
      schema
    }
  }

  /** Union schema across segments — real Druid datasources EVOLVE
    * their dimension set over time (new dims appear, old ones are
    * dropped per-interval), so one arbitrary segment's schema is not
    * the datasource's. Fields keep first-seen order; a column absent
    * from a segment decodes as null there (the same semantics Druid's
    * own readers and parquet's mergeSchema give). Same-name columns
    * with CONFLICTING Spark types fail loudly — silent coercion would
    * corrupt sketch bytes vs strings.
    *
    * Probing cost is one index.zip open per segment; beyond
    * `distributedProbeThreshold` segments the probes run as a Spark
    * job (the driver only merges the collected StructTypes) so a
    * 200k-segment datasource doesn't serialize schema discovery on
    * the driver. */
  private[sources] def unionSchema(spark: SparkSession, segmentDirs: Seq[String]): StructType = {
    val distributedProbeThreshold = 16
    val schemas: Seq[StructType] =
      if (segmentDirs.size <= distributedProbeThreshold)
        segmentDirs.map(segmentSchema(spark, _))
      else {
        val confSer = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
        spark.sparkContext
          .parallelize(segmentDirs, math.min(segmentDirs.size, 64))
          .map(d => segmentSchema(confSer.value, d))
          .collect().toSeq
      }
    val out = scala.collection.mutable.LinkedHashMap[String, StructField]()
    for (sch <- schemas; f <- sch.fields) out.get(f.name) match {
      case None => out(f.name) = f
      case Some(prev) =>
        require(prev.dataType == f.dataType,
          s"druid segments disagree on column '${f.name}' type: " +
            s"${prev.dataType.simpleString} vs ${f.dataType.simpleString} — " +
            "the datasource tree mixes incompatible schemas")
        // a column nullable anywhere (or absent anywhere) is nullable
        if (f.nullable && !prev.nullable) out(f.name) = prev.copy(nullable = true)
    }
    // any column missing from ≥1 segment must be nullable in the union
    val everywhere = schemas.map(_.fieldNames.toSet).reduceOption(_ intersect _)
      .getOrElse(Set.empty)
    StructType(out.values.toSeq.map(f =>
      if (everywhere.contains(f.name)) f else f.copy(nullable = true)))
  }

  /** Decode one windowed segment on an executor: dictionary
    * short-circuit, then the `[lo, hi)` row clip and a typed decode of
    * `schema`'s columns (in the caller's order; `__time` need not be
    * among them — the clip reads it regardless) straight into one
    * reused row, which the caller must `copy()` to keep. The
    * executor-side row decode of the DataSource V2 table
    * ([[DruidSegmentsDataSource]]), the one read path; `counts`
    * collects the caller's share of the decode work.
    *
    * The dictionary short-circuit is Druid-native, generalized from
    * selector/in to ANY dictionary predicate (string ranges, prefix,
    * suffix, contains): a conjunct with NO matching value in a string dim's
    * dictionary proves zero rows match — the row decode is skipped
    * for the whole segment. The dictionary is a prefix of the
    * column's bytes, so the probe never decompresses row ids. */
  private[sources] def decodeWindow(
      conf: Configuration, dir: String, lo: Long, hi: Long,
      schema: StructType,
      preds: Map[String, Seq[DictPred]],
      counts: DecodeCounts = new DecodeCounts): Iterator[InternalRow] =
    decodeSegment(openSegment(conf, dir), lo, hi, schema, preds, counts)

  private def decodeSegment(file: SegmentFile, lo: Long, hi: Long, schema: StructType,
                           preds: Map[String, Seq[DictPred]],
                           counts: DecodeCounts): Iterator[InternalRow] = {
    // a segment that LACKS a conjunctively-constrained column is
    // all-null for it — no non-null value can match, so the segment
    // skips (the schema-evolution analogue of the dictionary
    // short-circuit). Per-conjunct emptiness (not one-value-satisfies-
    // all) keeps multi-value semantics: different values of one row
    // may satisfy different conjuncts.
    val skip = preds.exists { case (d, ps) =>
      !file.has(d) ||
        dictionaryOf(file, d).exists(dict =>
          ps.exists(p => !dict.exists(p.matches)))
    }
    if (skip) Iterator.empty
    else {
      // bitmap row pruning: for each conjunct, the union of its
      // matching dictionary values' bitmaps; conjuncts intersect —
      // only matching rows are decoded, and LazyChunks means
      // non-matching rows' chunks are never even decompressed. A dim
      // without a readable bitmap region contributes no constraint
      // (None ≠ empty).
      val pruned: Option[ImmutableRoaringBitmap] =
        preds.foldLeft(Option.empty[ImmutableRoaringBitmap]) {
          case (acc0, (d, ps)) => ps.foldLeft(acc0) { (acc, p) =>
            bitmapRowSet(file, d, p) match {
              case None => acc
              case Some(b) => Some(acc.fold(b)(a => ImmutableRoaringBitmap.and(a, b)))
            }
          }
        }
      if (pruned.exists(_.isEmpty)) Iterator.empty
      else {
        counts.segmentDecoded()
        // the time clip runs INSIDE the row walk, before any dim or
        // metric value materializes (decodeRows checks __time first):
        // out-of-window rows touch only the __time column's chunks, so
        // a 1h window over a 24h segment decodes ~1h of dims, not 24h —
        // and a downstream early stop (limit) never forces a full
        // column pass
        val clips = lo != Long.MinValue || hi != Long.MaxValue
        decodeRows(file, schema, timeColumn(file, counts), pruned,
          timeWindow = if (clips) Some((lo, hi)) else None, counts)
      }
    }
  }

  /** The `__time` column (chunks decompress on first access). */
  private def timeColumn(file: SegmentFile, counts: DecodeCounts): LongColumn = {
    val buf = ByteBuffer.wrap(file("__time"))
    readPrefixedJson(buf)
    compressedLongs(buf, counts)
  }

  /** Ids of the `n` earliest (asc) / latest (desc) rows by `__time`
    * within `[lo, hi)` — a bounded heap over the `__time` column
    * alone, so losing rows' dim/metric chunks are never touched. Ties
    * resolve to the lowest row ids (the walk is ascending and replaces
    * only on strictly-better times) — deterministic for a fixed
    * segment. */
  private[sources] def topNRowIds(times: LongColumn, lo: Long, hi: Long,
                                  n: Int, desc: Boolean): ImmutableRoaringBitmap = {
    // head of the queue = the WORST kept row (smallest kept time for
    // desc, largest for asc), so one comparison decides a replace
    val ord: Ordering[(Long, Int)] =
      if (desc) Ordering.by[(Long, Int), Long](_._1).reverse
      else Ordering.by[(Long, Int), Long](_._1)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Int)](ord)
    var i = 0
    val len = times.length
    while (i < len) {
      val t = times(i)
      if (t >= lo && t < hi) {
        if (heap.size < n) heap.enqueue((t, i))
        else if (if (desc) t > heap.head._1 else t < heap.head._1) {
          heap.dequeue()
          heap.enqueue((t, i))
        }
      }
      i += 1
    }
    val out = new MutableRoaringBitmap()
    heap.foreach { case (_, id) => out.add(id) }
    out
  }

  /** Top-n by `__time` over a window: select winning row ids off the
    * time column, then decode ONLY those rows' requested columns (the
    * winners' `__time` comes from the chunks the selection already
    * decompressed). Emission order is row-id order — the caller
    * (Spark's TakeOrderedAndProject above a partially-pushed TopN)
    * re-sorts. */
  private[sources] def decodeTopN(conf: Configuration, dir: String,
                                  lo: Long, hi: Long, schema: StructType,
                                  n: Int, desc: Boolean,
                                  counts: DecodeCounts): Iterator[InternalRow] = {
    val file = openSegment(conf, dir)
    val times = timeColumn(file, counts)
    val ids = topNRowIds(times, lo, hi, n, desc)
    if (ids.isEmpty) Iterator.empty
    else {
      counts.segmentDecoded()
      decodeRows(file, schema, times, Some(ids), timeWindow = None, counts)
    }
  }

  /** Row count of a segment from the `__time` supplier HEADER alone —
    * the `totalSize` field of the compressed-longs supplier; zero
    * chunks are decompressed. Druid's own segment metadata query
    * answers numRows the same way (the reference surfaces it through
    * Druid's QueryableIndex, DruidInputFormat.java:66-120). */
  private[sources] def numRows(file: SegmentFile): Int = {
    val buf = ByteBuffer.wrap(file("__time"))
    readPrefixedJson(buf)
    supplierHeader(buf, "longs")._1 // totalSize = row count
  }

  /** Per-metric window partial: modulo-2^64 sum (associative, so
    * partial-then-merge equals any row order — including Spark's own
    * non-ANSI long SUM), min and max. */
  private[sources] final case class MetricAgg(sum: Long, min: Long, max: Long)

  /** A LONG metric column's decoded values, or None when the column is
    * absent from this segment (schema evolution: its rows are all-null
    * for the metric, so pushed partials must be null too). A non-LONG
    * column under a pushed long aggregate is a planner/schema
    * contradiction — loud failure, exactly where the unpushed decode
    * would have failed its Catalyst conversion. */
  private def longMetricColumn(file: SegmentFile, name: String,
                               counts: DecodeCounts): Option[LongColumn] =
    if (!file.has(name)) None
    else {
      val buf = ByteBuffer.wrap(file(name))
      val json = readPrefixedJson(buf)
      (json \ "valueType") match {
        case JString("LONG") => Some(compressedLongs(buf, counts))
        case vt => throw new IllegalStateException(
          s"pushed long aggregate over column '$name' of valueType $vt")
      }
    }

  /** Partial (count, min/max __time, per-metric sum/min/max) over
    * `[lo, hi)`, decoding AT MOST `__time` + the aggregated metric
    * columns — dimension bytes are never touched. When the window is
    * known to cover the segment's whole interval and only the count is
    * wanted, even `__time` stays compressed: the supplier header alone
    * answers it. The backing of DSv2 aggregate pushdown (count(*) /
    * min/max(__time) / sum/min/max(metric) over a migrated datasource —
    * Druid's timeBoundary + timeseries fast paths). */
  private[sources] def aggregateWindow(
      conf: Configuration, dir: String, lo: Long, hi: Long,
      fullCoverage: Boolean, needTimeBounds: Boolean,
      metricCols: Seq[String], counts: DecodeCounts)
      : (Long, Option[Long], Option[Long], Map[String, Option[MetricAgg]]) = {
    val file = openSegment(conf, dir)
    if (fullCoverage && !needTimeBounds && metricCols.isEmpty)
      (numRows(file).toLong, None, None, Map.empty)
    else {
      val metrics: Seq[(String, Option[LongColumn])] =
        metricCols.map(m => m -> longMetricColumn(file, m, counts))
      val present = metrics.collect { case (m, Some(vs)) => (m, vs) }.toArray
      val sums = new Array[Long](present.length)
      val mins = Array.fill(present.length)(Long.MaxValue)
      val maxs = Array.fill(present.length)(Long.MinValue)
      val times = if (!fullCoverage || needTimeBounds) timeColumn(file, counts) else null
      var count = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var i = 0
      val n = if (times ne null) times.length else numRows(file)
      while (i < n) {
        val t = if (times ne null) times(i) else 0L
        if (fullCoverage || (t >= lo && t < hi)) {
          count += 1
          if (needTimeBounds) {
            if (t < mn) mn = t
            if (t > mx) mx = t
          }
          var j = 0
          while (j < present.length) {
            val v = present(j)._2(i)
            sums(j) += v
            if (v < mins(j)) mins(j) = v
            if (v > maxs(j)) maxs(j) = v
            j += 1
          }
        }
        i += 1
      }
      val metricOut: Map[String, Option[MetricAgg]] = metrics.map {
        case (m, None) => m -> None
        case (m, Some(_)) =>
          if (count == 0L) m -> None
          else {
            val j = present.indexWhere(_._1 == m)
            m -> Some(MetricAgg(sums(j), mins(j), maxs(j)))
          }
      }.toMap
      if (count == 0L) (0L, None, None, metricOut)
      else (count,
        if (needTimeBounds) Some(mn) else None,
        if (needTimeBounds) Some(mx) else None,
        metricOut)
    }
  }

  /** One window's partial of `GROUP BY dims → count(*) [, min/max
    * __time, metric sum/min/max]` for scalar STRING dims, answered
    * from the dictionaries + bitmap indexes: a group's row set is the
    * AND of its dims' posting bitmaps (∧ the window rows) — Druid's
    * topN/groupBy shape, served the way Druid itself serves it
    * (cardinality off the inverted index; DruidInputFormat.java:66-120
    * delegates to the same QueryableIndex bitmaps). The dims' VALUE
    * chunks are never decompressed; `__time` decodes only when the
    * window clips the segment or time bounds are requested.
    *
    * Enumeration recurses dim-by-dim and prunes empty intersections,
    * so cost is bounded by (observed parent combos × dictionary width)
    * per level — output-sensitive, not the full cardinality product.
    * Rows not covered by a dim's postings (segment evolved without the
    * column; defensive for malformed indexes) surface as that dim's
    * null group at every level. Falls back to a per-row decode walk
    * when any dim lacks a usable bitmap index (or is multi-value under
    * an evolved scalar schema), or when the dictionary-cardinality
    * product exceeds `productCap` — past that bound decode-and-hash
    * is the cheaper worst case. Emission is partial-per-window;
    * Spark's final aggregate merges groups across windows. */

  /** One group's partial row: one value per group dim (null = that
    * dim's null group), count, optional time bounds, and per-metric
    * sum/min/max (None = metric column absent from the segment →
    * null partials). */
  private[sources] final case class GroupPartial(
      values: Seq[String], count: Long, minT: Option[Long], maxT: Option[Long],
      metrics: Map[String, Option[MetricAgg]])

  private[sources] def aggregateGroupByDims(
      conf: Configuration, dir: String, dims: Seq[String], lo: Long, hi: Long,
      fullCoverage: Boolean, needTimeBounds: Boolean,
      metricCols: Seq[String] = Nil,
      productCap: Double = 1000000.0,
      counts: DecodeCounts = new DecodeCounts): Iterator[GroupPartial] = {
    require(dims.nonEmpty, "at least one group dim")
    val file = openSegment(conf, dir)

    // a segment missing EVERY group column is one all-null combo over
    // the window — answered by the global-aggregate metadata path
    if (dims.forall(d => !file.has(d))) {
      val (c, mn, mx, ms) =
        aggregateWindow(conf, dir, lo, hi, fullCoverage, needTimeBounds, metricCols, counts)
      return if (c == 0L) Iterator.empty
      else Iterator(GroupPartial(dims.map(_ => null: String), c, mn, mx, ms))
    }

    // per-dim plan: Some(None) = column absent (all-null level, passes
    // the parent row set through); Some(Some(idx)) = inverted index;
    // None = no usable index → whole segment falls back to decode
    val planned: Seq[Option[Option[DimBitmapIndex]]] = dims.map { d =>
      if (!file.has(d)) Some(None)
      else dimBitmapIndex(file, d).filter(!_.multiValue) match {
        case Some(i) => Some(Some(i))
        case None => None
      }
    }
    val cardProduct = planned.flatten.flatten
      .map(i => i.dict.length + 1.0).product
    if (planned.exists(_.isEmpty) || cardProduct > productCap)
      return groupByDecode(file, dims, lo, hi, needTimeBounds, metricCols, counts)
    val idxs: Seq[Option[DimBitmapIndex]] = planned.map(_.get)

    def boundsOf(b: ImmutableRoaringBitmap,
                 times: LongColumn): (Option[Long], Option[Long]) = {
      var mn = Long.MaxValue
      var mx = Long.MinValue
      val it = b.getIntIterator
      while (it.hasNext) {
        val t = times(it.next())
        if (t < mn) mn = t
        if (t > mx) mx = t
      }
      if (mn > mx) (None, None) else (Some(mn), Some(mx))
    }

    val metrics: Seq[(String, Option[LongColumn])] =
      metricCols.map(m => m -> longMetricColumn(file, m, counts))
    val needTimes = !fullCoverage || needTimeBounds
    val times: LongColumn = if (needTimes) timeColumn(file, counts) else null
    // row ids inside the clipped window; None = every row
    val windowSet: Option[ImmutableRoaringBitmap] =
      if (fullCoverage) None
      else {
        val w = new MutableRoaringBitmap()
        var i = 0
        val n = times.length
        while (i < n) {
          val t = times(i)
          if (t >= lo && t < hi) w.add(i)
          i += 1
        }
        Some(w)
      }
    val windowRows: Long =
      windowSet.map(_.getLongCardinality).getOrElse(numRows(file).toLong)
    if (windowRows == 0L) return Iterator.empty

    lazy val allRows: ImmutableRoaringBitmap = {
      val a = new MutableRoaringBitmap()
      a.add(0L, numRows(file).toLong)
      a
    }

    // per-group accumulation over one bitmap's rows: metric chunks
    // decode lazily, so only in-group rows' chunks decompress
    def metricsOf(b: ImmutableRoaringBitmap): Map[String, Option[MetricAgg]] =
      metrics.map {
        case (m, None) => m -> None
        case (m, Some(vs)) =>
          var sum = 0L
          var mn = Long.MaxValue
          var mx = Long.MinValue
          val it = b.getIntIterator
          while (it.hasNext) {
            val v = vs(it.next())
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
          m -> (if (mn > mx) None else Some(MetricAgg(sum, mn, mx)))
      }.toMap

    // dim-by-dim recursion: children of a node are (value, parent ∧
    // posting) for every non-empty intersection plus the uncovered
    // remainder as the null child; prefix accumulates REVERSED
    def recurse(level: Int, parent: Option[ImmutableRoaringBitmap],
                parentCount: Long, prefix: List[String]): Iterator[GroupPartial] =
      if (level == dims.length) {
        // parent is concrete here: the all-absent case returned early,
        // so at least one indexed level intersected above
        val leaf = parent.getOrElse(allRows)
        val (mn, mx) = if (needTimeBounds) boundsOf(leaf, times) else (None, None)
        Iterator(GroupPartial(prefix.reverse, parentCount, mn, mx, metricsOf(leaf)))
      } else idxs(level) match {
        case None => // column absent from the segment: all-null level
          recurse(level + 1, parent, parentCount, (null: String) :: prefix)
        case Some(idx) =>
          val kids = scala.collection.mutable.ArrayBuffer
            .empty[(String, ImmutableRoaringBitmap, Long)]
          var covered = 0L
          val union = new MutableRoaringBitmap()
          var id = 0
          while (id < idx.dict.length) {
            if (idx.entryNonEmpty(id)) {
              val b = idx.bitmap(id)
              val inter = parent.fold(b)(p => ImmutableRoaringBitmap.and(b, p))
              val c = inter.getLongCardinality
              if (c > 0L) {
                covered += c
                union.or(inter)
                kids += ((idx.dict(id), inter, c))
              }
            }
            id += 1
          }
          val base = kids.iterator.flatMap { case (v, bm, c) =>
            recurse(level + 1, Some(bm), c, v :: prefix)
          }
          if (covered >= parentCount) base
          else { // uncovered rows = this dim's null group
            val rest = parent.getOrElse(allRows).toMutableRoaringBitmap
            rest.andNot(union)
            base ++ recurse(level + 1, Some(rest), parentCount - covered,
              (null: String) :: prefix)
          }
      }
    recurse(0, windowSet, windowRows, Nil)
  }

  /** Decode-walk grouping fallback (no usable index on some dim, or
    * cardinality product past the cap): one pass over the window's
    * (dims…, __time, metrics…) rows into a hash of combos. Absent
    * columns contribute null at their position. */
  private def groupByDecode(
      file: SegmentFile, dims: Seq[String], lo: Long, hi: Long,
      needTimeBounds: Boolean, metricCols: Seq[String],
      counts: DecodeCounts): Iterator[GroupPartial] = {
    val present = dims.filter(file.has)
    val posOf: Map[String, Int] = present.zipWithIndex.toMap
    val tIdx = present.length
    val rows = decodeSegment(file, lo, hi, StructType(
      present.map(StructField(_, StringType)) ++ Seq(StructField("__time", LongType)) ++
        metricCols.map(StructField(_, LongType))), Map.empty, counts)
    final case class Acc(var c: Long, var mnT: Long, var mxT: Long,
                         sums: Array[Long], mins: Array[Long],
                         maxs: Array[Long], nn: Array[Boolean])
    val k = metricCols.length
    val acc = scala.collection.mutable.HashMap.empty[List[String], Acc]
    rows.foreach { r =>
      val key: List[String] = dims.map(d => posOf.get(d).map(i =>
        if (r.isNullAt(i)) null else r.getUTF8String(i).toString).orNull).toList
      val t = r.getLong(tIdx)
      val a = acc.getOrElseUpdate(key, Acc(0L, Long.MaxValue, Long.MinValue,
        new Array[Long](k), Array.fill(k)(Long.MaxValue),
        Array.fill(k)(Long.MinValue), new Array[Boolean](k)))
      a.c += 1
      if (t < a.mnT) a.mnT = t
      if (t > a.mxT) a.mxT = t
      var j = 0
      while (j < k) {
        if (!r.isNullAt(tIdx + 1 + j)) {
          val mv = r.getLong(tIdx + 1 + j)
          a.nn(j) = true
          a.sums(j) += mv
          if (mv < a.mins(j)) a.mins(j) = mv
          if (mv > a.maxs(j)) a.maxs(j) = mv
        }
        j += 1
      }
    }
    acc.iterator.map { case (key, a) =>
      GroupPartial(key, a.c,
        if (needTimeBounds) Some(a.mnT) else None,
        if (needTimeBounds) Some(a.mxT) else None,
        metricCols.zipWithIndex.map { case (m, j) =>
          m -> (if (a.nn(j)) Some(MetricAgg(a.sums(j), a.mins(j), a.maxs(j))) else None)
        }.toMap)
    }
  }

  /** Row-decode invocations per segment — a one-increment-per-SEGMENT
    * test probe for the dictionary short-circuit (meaningful in
    * local mode, where executors share the JVM). */
  private[graft] val decodedSegments = new java.util.concurrent.atomic.AtomicInteger(0)

  /** LZ4 chunks actually decompressed — the test probe proving decode
    * work tracks bitmap/window selectivity (chunks no selected row
    * touches stay compressed). */
  private[graft] val decompressedChunks = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One caller's share of the decode work (a scan task's reader): the
    * JVM-wide counters above sum every concurrent task, these count
    * only what this caller decoded — the source's SQL metrics. */
  private[sources] final class DecodeCounts {
    var segments = 0L
    var chunks = 0L
    def segmentDecoded(): Unit = { decodedSegments.incrementAndGet(); segments += 1 }
    def chunkDecompressed(): Unit = { decompressedChunks.incrementAndGet(); chunks += 1 }
  }

  // ---- bitmap index ----

  /** Spec/compat shorthand: row ids matching `dim ∈ values`. */
  private[sources] def bitmapRowSet(file: SegmentFile, dim: String,
                                    values: Set[String]): Option[ImmutableRoaringBitmap] =
    bitmapRowSet(file, dim, DictPred.Values(values))

  /** Row ids whose `dim` satisfies `pred` — the union over matching
    * dictionary values' bitmaps — or None when the column has no
    * readable bitmap region (absent column, non-string, legacy
    * layout, parse failure) — callers must treat None as "no pruning",
    * never "no rows". Reads dictionary + bitmap entries only: the row
    * ids supplier is SKIPPED by its length header, never decompressed.
    *
    * Selector/in predicates binary-search the sorted dictionary; any
    * other predicate (range/prefix/suffix/contains) scans it — the
    * dictionary is per-segment value CARDINALITY (tiny next to row
    * count), and a scan makes no assumption about which collation the
    * writer sorted under, which a range binary search would.
    *
    * Bitmap entries are standard portable-format RoaringBitmaps (what
    * Druid's `{"type":"roaring"}` serde writes) or CONCISE word arrays
    * (pre-0.18 `{"type":"concise"}`, per the descriptor's declared
    * serde), one per dictionary entry, in a GenericIndexed after the
    * row ids — the index the reference's reader prunes with
    * (DruidInputFormat.java:66-120 delegates to Druid's QueryableIndex
    * bitmap path). */
  private[sources] def bitmapRowSet(file: SegmentFile, dim: String,
                                    pred: DictPred): Option[ImmutableRoaringBitmap] =
    try dimBitmapIndex(file, dim).map { idx =>
      val out = new MutableRoaringBitmap()
      def orId(id: Int): Unit = if (idx.entryNonEmpty(id)) out.or(idx.bitmap(id))
      pred match {
        // dictionary is sorted: binary search each wanted value
        case DictPred.Values(vs) => vs.foreach { v =>
          idx.dict.search(v) match {
            case scala.collection.Searching.Found(id) => orId(id)
            case _ => ()
          }
        }
        // anything else: scan the (cardinality-sized) dictionary
        case p => var id = 0
          while (id < idx.dict.length) {
            if (p.matches(idx.dict(id))) orId(id)
            id += 1
          }
      }
      out: ImmutableRoaringBitmap
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A string dim's parsed inverted index: sorted value dictionary +
    * one bitmap of row ids per value. Bitmaps decode lazily per
    * access — a consumer that touches 2 of 10k entries pays for 2. */
  private[sources] final class DimBitmapIndex(val dict: IndexedSeq[String],
                                              val multiValue: Boolean,
                                              serde: String,
                                              raw: IndexedSeq[Array[Byte]]) {
    def entryNonEmpty(id: Int): Boolean = raw(id).nonEmpty
    def bitmap(id: Int): ImmutableRoaringBitmap =
      if (raw(id).isEmpty) new MutableRoaringBitmap()
      else serde match {
        case "concise" => conciseToBitmap(raw(id))
        case _ => new ImmutableRoaringBitmap(ByteBuffer.wrap(raw(id)))
      }
  }

  /** Parse `dim`'s dictionary + bitmap region, or None when the column
    * is absent / non-string / has no readable bitmap region — callers
    * must treat None as "no index", never "no rows". Reads dictionary
    * and bitmap entries only: the row-ids supplier is SKIPPED by its
    * length header, never decompressed.
    *
    * Bitmap entries are standard portable-format RoaringBitmaps (what
    * Druid's `{"type":"roaring"}` serde writes) or CONCISE word arrays
    * (pre-0.18 `{"type":"concise"}`, per the descriptor's declared
    * serde), one per dictionary entry, in a GenericIndexed after the
    * row ids (DruidInputFormat.java:66-120 delegates to Druid's
    * QueryableIndex bitmap path). */
  private[sources] def dimBitmapIndex(file: SegmentFile, dim: String): Option[DimBitmapIndex] =
    try {
      if (!file.has(dim)) return None
      val buf = ByteBuffer.wrap(file(dim))
      val json = readPrefixedJson(buf)
      (json \ "valueType") match {
        case JString("STRING") => ()
        case _ => return None
      }
      val mv = (json \ "hasMultipleValues") match { case JBool(b) => b; case _ => false }
      val version = buf.get()
      require(version == 2, s"dictionary column serde version $version")
      val flags = buf.getInt()
      val dict = readGenericIndexedBytes(buf).map(b => new String(b, StandardCharsets.UTF_8))
      if (!mv) skipSupplier(buf, vsize = true)
      else {
        require((flags & 0x2) != 0, "legacy V2 multi-value layout")
        require(buf.get() == 3, "V3 ColumnarMultiInts version")
        skipSupplier(buf, vsize = false) // offsets
        skipSupplier(buf, vsize = true)  // values
      }
      if (!buf.hasRemaining) return None // no bitmap region (legacy fixture)
      val bitmaps = readGenericIndexedBytes(buf)
      require(bitmaps.size == dict.size,
        s"bitmap index has ${bitmaps.size} entries for ${dict.size} dictionary values")
      // serde declared in the column descriptor's parts (real Druid);
      // absent → roaring (this repo's writer, and Druid's default
      // since 0.18). Pre-0.18 datasources declare "concise".
      val serde = (json \ "parts") match {
        case JArray(parts) => parts.iterator
          .map(p => p \ "bitmapSerdeFactory" \ "type")
          .collectFirst { case JString(s) => s }.getOrElse("roaring")
        case _ => "roaring"
      }
      val idx = new DimBitmapIndex(dict, mv, serde, bitmaps)
      // CONCISE bytes that are NOT the assumed container (e.g. a serde
      // adding a length header) still parse as plausible words and
      // yield a WRONG bitmap — and pruning on a wrong bitmap drops
      // rows irrecoverably (the residual Spark filter cannot
      // resurrect rows never decoded). Gate the serde behind a
      // structural self-check before trusting it: decoded per-value
      // bitmaps must exactly cover [0, numRows) (and partition it for
      // single-value dims) — a property garbage decodes essentially
      // never satisfy. Failure degrades to None = "no pruning", never
      // wrong results. Verified positive against the reference's real
      // 2015 ConciseBitmapSerdeFactory segment.
      if (serde == "concise" && !conciseIndexValid(idx, numRows(file))) None
      else Some(idx)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Structural validity of a decoded CONCISE index: every row id in
    * [0, rows) appears in some value's bitmap and none outside it;
    * for single-value dims the bitmaps are additionally disjoint
    * (cardinalities sum to rows). Cost is one decode of each of the
    * dictionary's (cardinality-many, row-count-independent) bitmaps,
    * paid once per pruning attempt. */
  private[sources] def conciseIndexValid(idx: DimBitmapIndex, rows: Int): Boolean = {
    val union = new MutableRoaringBitmap()
    var sum = 0L
    var id = 0
    while (id < idx.dict.length) {
      val b = idx.bitmap(id)
      sum += b.getLongCardinality
      union.or(b)
      id += 1
    }
    // card == rows with all ids in [0, rows-1] ⇒ union is exactly
    // [0, rows) by pigeonhole
    val covers = union.getLongCardinality == rows &&
      (rows == 0 || (union.first() == 0 && union.last() == rows - 1))
    covers && (idx.multiValue || sum == rows)
  }

  /** CONCISE bitmap → roaring (Colantonio & Di Pietro 2010; the
    * extendedset encoding Druid's pre-0.18 default serde writes as
    * big-endian words). Word types: MSB set = literal (31 positions);
    * else a fill of (count+1) 31-bit blocks — bit 30 picks 0-fill vs
    * 1-fill, bits 25-29 encode one flipped bit in the first block
    * (0 = none, else position+1). */
  private[sources] def conciseToBitmap(bytes: Array[Byte]): MutableRoaringBitmap = {
    val out = new MutableRoaringBitmap()
    val buf = ByteBuffer.wrap(bytes) // big-endian
    var offset = 0
    while (buf.remaining() >= 4) {
      val w = buf.getInt()
      if ((w & 0x80000000) != 0) {
        var b = 0
        while (b < 31) { if ((w & (1 << b)) != 0) out.add(offset + b); b += 1 }
        offset += 31
      } else {
        val isOneFill = (w & 0x40000000) != 0
        val blocks = (w & 0x01FFFFFF) + 1
        val flipped = (w >>> 25) & 0x1F
        if (isOneFill) {
          out.add(offset.toLong, offset.toLong + blocks.toLong * 31)
          if (flipped != 0) out.remove(offset + flipped - 1)
        } else if (flipped != 0) out.add(offset + flipped - 1)
        offset += blocks * 31
      }
    }
    out
  }

  /** Skip a compressed supplier (v2 header + GenericIndexed of chunks)
    * without decompressing anything. */
  private def skipSupplier(buf: ByteBuffer, vsize: Boolean): Unit = {
    val version = buf.get()
    require(version == 2, s"compressed supplier version $version")
    if (vsize) buf.get() // numBytes
    buf.getInt() // totalSize
    buf.getInt() // sizePer
    buf.get()    // compression
    skipGenericIndexed(buf)
  }

  private def skipGenericIndexed(buf: ByteBuffer): Unit = {
    val version = buf.get()
    require(version == 1, s"GenericIndexed version $version (want 1)")
    buf.get() // allowReverseLookup
    val totalBytes = buf.getInt()
    buf.position(buf.position() + totalBytes)
  }

  /** Dictionary of a STRING column, or None when the column is absent
    * / non-string / unreadable (no short-circuit then). The dictionary
    * is a prefix of the column's internal file — no row ids are
    * decompressed. */
  private def dictionaryOf(file: SegmentFile, name: String): Option[Set[String]] =
    try {
      val buf = ByteBuffer.wrap(file(name))
      val json = readPrefixedJson(buf)
      (json \ "valueType") match {
        case JString("STRING") =>
          val version = buf.get()
          require(version == 2, s"dictionary column serde version $version")
          buf.getInt() // flags
          Some(readGenericIndexedBytes(buf)
            .map(b => new String(b, StandardCharsets.UTF_8)).toSet)
        case _ => None
      }
    } catch { case _: Exception => None }

  // ---- segment container ----

  private[sources] class SerializableConfiguration(@transient var conf: Configuration)
      extends Serializable {
    def value: Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject(); conf = new Configuration(false); conf.readFields(in)
    }
  }

  /** A decoded smoosh container: internal file name → bytes. */
  private[sources] final class SegmentFile(entries: Map[String, (Int, Int, Int)],
                                  chunks: IndexedSeq[Array[Byte]]) {
    def apply(name: String): Array[Byte] = {
      val (chunk, start, end) = entries.getOrElse(name,
        throw new IllegalArgumentException(s"smoosh missing internal file $name"))
      java.util.Arrays.copyOfRange(chunks(chunk), start, end)
    }
    def has(name: String): Boolean = entries.contains(name)
    def names: Seq[String] = entries.keys.toSeq
  }

  /** Unzip index.zip (via Hadoop FS, so HDFS/S3 paths work) into a
    * SegmentFile. Segments are bounded (~500 MB by Druid's build
    * defaults), so whole-file buffering per task is the simple,
    * correct choice. */
  private[sources] def openSegment(conf: Configuration, segmentDir: String): SegmentFile = {
    val zipPath = new HPath(s"$segmentDir/index.zip")
    val fs = zipPath.getFileSystem(conf)
    val entries = scala.collection.mutable.Map[String, Array[Byte]]()
    val in = new java.util.zip.ZipInputStream(fs.open(zipPath))
    try {
      var e = in.getNextEntry
      while (e != null) {
        if (!e.isDirectory) entries(e.getName) = in.readAllBytes()
        e = in.getNextEntry
      }
    } finally in.close()
    val versionBin = entries.getOrElse("version.bin",
      throw new IllegalArgumentException(s"$segmentDir: no version.bin in index.zip"))
    val binaryVersion = ByteBuffer.wrap(versionBin).getInt
    require(binaryVersion == 9, s"unsupported segment binaryVersion $binaryVersion (only 9)")
    val metaText = new String(entries("meta.smoosh"), StandardCharsets.UTF_8)
    val lines = metaText.linesIterator.toSeq
    val header = lines.head.split(",")
    require(header(0) == "v1", s"unsupported smoosh version ${header(0)}")
    val chunkData = (0 until header(2).toInt).map(i => entries(f"$i%05d.smoosh"))
    val fileMap = lines.tail.filter(_.nonEmpty).map { l =>
      val Array(name, chunk, start, end) = l.split(",")
      name -> ((chunk.toInt, start.toInt, end.toInt))
    }.toMap
    new SegmentFile(fileMap, chunkData)
  }

  // ---- column decoding ----

  private def columnsOf(file: SegmentFile): Seq[DruidColumn] = {
    val buf = ByteBuffer.wrap(file("index.drd"))
    val allCols = readGenericIndexedStrings(buf)
    val dims = readGenericIndexedStrings(buf).toSet
    val ordered = "__time" +: (allCols.filter(dims.contains) ++ allCols.filterNot(dims.contains))
    ordered.distinct.map(name => druidColumn(name, readPrefixedJson(ByteBuffer.wrap(file(name)))))
  }

  /** A column's type, from the JSON descriptor that prefixes its file. */
  private def druidColumn(name: String, json: JValue): DruidColumn = {
    val vt = (json \ "valueType") match { case JString(s) => s; case _ => "COMPLEX" }
    val mv = (json \ "hasMultipleValues") match { case JBool(b) => b; case _ => false }
    DruidColumn(name, vt, mv)
  }

  private def sparkField(c: DruidColumn): StructField = c.valueType match {
    case _ if c.name == "__time" => StructField("__time", LongType, nullable = false)
    case "STRING" if c.hasMultipleValues => StructField(c.name, ArrayType(StringType), nullable = true)
    case "STRING" => StructField(c.name, StringType, nullable = true)
    case "LONG" => StructField(c.name, LongType, nullable = true)
    case "FLOAT" => StructField(c.name, FloatType, nullable = true)
    case "DOUBLE" => StructField(c.name, DoubleType, nullable = true)
    case _ => StructField(c.name, BinaryType, nullable = true) // complex → sketch bytes
  }

  /** The row walk: candidate ids (every row, or a bitmap's), the
    * half-open `[lo, hi)` `timeWindow` clip on `times`, then one typed
    * reader per `schema` column writing into its ordinal of ONE reused
    * row. The clip runs BEFORE any other column is read, so rows
    * outside the window cost only their (sequentially-chunked)
    * `__time` access — the enabler of window-proportional decode — and
    * a `__time` chunk decompresses once for both the clip and the
    * output. A union-schema column absent from this segment (schema
    * evolution across a datasource's segments) is null in every row. */
  private def decodeRows(file: SegmentFile, schema: StructType, times: LongColumn,
                         rowIds: Option[ImmutableRoaringBitmap],
                         timeWindow: Option[(Long, Long)],
                         counts: DecodeCounts): Iterator[InternalRow] = {
    val readers: Array[ColumnReader] = schema.fields.map { f =>
      if (f.name == "__time") longReader(times)
      else if (file.has(f.name)) columnReader(file, f, counts)
      else null
    }
    val n = readers.foldLeft(times.length)((m, r) => if (r eq null) m else math.min(m, r.length))
    val row = new SpecificInternalRow(schema.fields.map(_.dataType).toSeq)
    readers.indices.foreach(k => if (readers(k) eq null) row.setNullAt(k))
    val clip = timeWindow.isDefined
    val (lo, hi) = timeWindow.getOrElse((Long.MinValue, Long.MaxValue))
    val ids = rowIds.map(_.getIntIterator).orNull
    // rows stream out one at a time, so a downstream early stop (limit)
    // leaves later rows' chunks compressed
    new Iterator[InternalRow] {
      private var pending = -1 // next row id to emit; -1 = not found yet
      private var cursor = 0   // next candidate of a full walk
      private var done = false

      override def hasNext: Boolean = {
        while (pending < 0 && !done) {
          val c =
            if (ids eq null) { cursor += 1; cursor - 1 }
            else if (ids.hasNext) ids.next()
            else n
          if (c >= n) done = true
          else if (!clip || { val t = times(c); t >= lo && t < hi }) pending = c
        }
        pending >= 0
      }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("segment rows exhausted")
        var k = 0
        while (k < readers.length) {
          if (readers(k) ne null) readers(k).write(row, k, pending)
          k += 1
        }
        pending = -1
        row
      }
    }
  }

  // GenericIndexed v1 of UTF-8 strings
  private def readGenericIndexedStrings(buf: ByteBuffer): Seq[String] =
    readGenericIndexedBytes(buf).map(b => new String(b, StandardCharsets.UTF_8))

  /** GenericIndexed v1, leaving `buf` positioned after it. */
  private def readGenericIndexedBytes(buf: ByteBuffer): IndexedSeq[Array[Byte]] = {
    val version = buf.get()
    require(version == 1, s"GenericIndexed version $version (want 1)")
    buf.get() // allowReverseLookup
    val totalBytes = buf.getInt()
    val regionEnd = buf.position() + totalBytes
    val count = buf.getInt()
    val offsets = (0 until count).map(_ => buf.getInt())
    val valuesStart = buf.position()
    val out = (0 until count).map { i =>
      val start = valuesStart + (if (i == 0) 0 else offsets(i - 1))
      val b = buf.duplicate()
      b.position(start)
      val len = b.getInt()
      val arr = new Array[Byte](len)
      b.get(arr)
      arr
    }
    buf.position(regionEnd)
    out
  }

  private def readPrefixedJson(buf: ByteBuffer): JValue = {
    val len = buf.getInt()
    val arr = new Array[Byte](len)
    buf.get(arr)
    JsonMethods.parse(new String(arr, StandardCharsets.UTF_8))
  }

  private val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()

  /** A compressed supplier's values, one chunk at a time: a chunk is
    * decompressed at most once, on the first access to one of its
    * rows, and converted to a primitive array in one little-endian
    * bulk get. A chunk no selected row touches is never decompressed,
    * so decode work tracks bitmap/window selectivity instead of
    * segment size. The compressed chunk bytes are sliced eagerly
    * (cheap — no decompression); `chunkBytes` is the room one
    * decompressed chunk may take. */
  private[sources] abstract class Chunked[A <: AnyRef](
      val length: Int, sizePer: Int, compression: Int, chunkBytes: Int,
      buf: ByteBuffer, counts: DecodeCounts) {
    private val raw = readGenericIndexedBytes(buf)
    compression match {
      case 0x1 | 0xFF => ()
      case other => throw new IllegalArgumentException(
        f"unsupported segment compression id 0x$other%02x (LZ4 and uncompressed only)")
    }
    private val decoded = new Array[AnyRef](raw.length)
    private var scratch: Array[Byte] = _

    /** The chunk's `count` values from its little-endian bytes. */
    protected def convert(le: ByteBuffer, count: Int): A

    /** Chunk `c`'s values; row `i` is value `i % sizePer` of chunk
      * `i / sizePer`. */
    protected final def chunk(c: Int): A = {
      val hit = decoded(c)
      if (hit ne null) hit.asInstanceOf[A]
      else {
        val bytes = raw(c)
        val le =
          if (compression == 0xFF) ByteBuffer.wrap(bytes)
          else {
            if (scratch == null) scratch = new Array[Byte](chunkBytes)
            ByteBuffer.wrap(scratch, 0, lz4.decompress(bytes, 0, bytes.length, scratch, 0))
          }
        val a = convert(le.order(ByteOrder.LITTLE_ENDIAN), math.min(sizePer, length - c * sizePer))
        decoded(c) = a
        counts.chunkDecompressed()
        a
      }
    }
  }

  private[sources] final class LongColumn(length: Int, sizePer: Int, compression: Int,
                                          buf: ByteBuffer, counts: DecodeCounts)
      extends Chunked[Array[Long]](length, sizePer, compression, sizePer * 8, buf, counts) {
    protected def convert(le: ByteBuffer, count: Int): Array[Long] = {
      val a = new Array[Long](count); le.asLongBuffer().get(a); a
    }
    def apply(i: Int): Long = { val c = i / sizePer; chunk(c)(i - c * sizePer) }
  }

  private final class FloatColumn(length: Int, sizePer: Int, compression: Int,
                                  buf: ByteBuffer, counts: DecodeCounts)
      extends Chunked[Array[Float]](length, sizePer, compression, sizePer * 4, buf, counts) {
    protected def convert(le: ByteBuffer, count: Int): Array[Float] = {
      val a = new Array[Float](count); le.asFloatBuffer().get(a); a
    }
    def apply(i: Int): Float = { val c = i / sizePer; chunk(c)(i - c * sizePer) }
  }

  private final class DoubleColumn(length: Int, sizePer: Int, compression: Int,
                                   buf: ByteBuffer, counts: DecodeCounts)
      extends Chunked[Array[Double]](length, sizePer, compression, sizePer * 8, buf, counts) {
    protected def convert(le: ByteBuffer, count: Int): Array[Double] = {
      val a = new Array[Double](count); le.asDoubleBuffer().get(a); a
    }
    def apply(i: Int): Double = { val c = i / sizePer; chunk(c)(i - c * sizePer) }
  }

  /** Ints of `numBytes` little-endian bytes each: vsize dictionary ids
    * (1–4 bytes), or full ints (`numBytes = 4`). */
  private[sources] final class IntColumn(length: Int, sizePer: Int, compression: Int,
                                         numBytes: Int, chunkBytes: Int,
                                         buf: ByteBuffer, counts: DecodeCounts)
      extends Chunked[Array[Int]](length, sizePer, compression, chunkBytes, buf, counts) {
    protected def convert(le: ByteBuffer, count: Int): Array[Int] = {
      val a = new Array[Int](count)
      if (numBytes == 4) le.asIntBuffer().get(a)
      else {
        var off = le.position()
        var i = 0
        while (i < count) {
          var v = 0
          var b = 0
          while (b < numBytes) { v |= (le.get(off + b) & 0xff) << (8 * b); b += 1 }
          a(i) = v
          off += numBytes
          i += 1
        }
      }
      a
    }
    def apply(i: Int): Int = { val c = i / sizePer; chunk(c)(i - c * sizePer) }
  }

  /** Compressed supplier v2 header of longs/floats/doubles/full ints:
    * (totalSize, sizePer, compression) — the single owner of the
    * layout for both the row-count probe and the decoders. */
  private def supplierHeader(buf: ByteBuffer, what: String): (Int, Int, Int) = {
    val version = buf.get()
    require(version == 2, s"compressed $what version $version")
    (buf.getInt(), buf.getInt(), buf.get() & 0xff)
  }

  /** CompressedLongsIndexedSupplier v2 (little-endian longs). */
  private def compressedLongs(buf: ByteBuffer, counts: DecodeCounts): LongColumn = {
    val (totalSize, sizePer, compression) = supplierHeader(buf, "longs")
    new LongColumn(totalSize, sizePer, compression, buf, counts)
  }

  /** CompressedColumnarIntsSupplier v2 (full little-endian 4-byte
    * ints — the offsets column of a V3 multi-value dim). */
  private def compressedInts(buf: ByteBuffer, counts: DecodeCounts): IntColumn = {
    val (totalSize, sizePer, compression) = supplierHeader(buf, "ints")
    new IntColumn(totalSize, sizePer, compression, 4, sizePer * 4, buf, counts)
  }

  /** CompressedVSizeIntsIndexedSupplier v2. The decompress buffer
    * carries (4 - numBytes) bytes of slack: real Druid pads each vsize
    * chunk so its 4-byte-window value reads can't run off the end
    * (CompressedVSizeColumnarIntsSupplier.bufferPadding), so a FULL
    * chunk of a real segment decompresses LARGER than sizePer×numBytes
    * — without the slack the safe decompressor would throw on it.
    * Unpadded chunks (this repo's writer) decompress smaller; either
    * way only the chunk's values are read, so both layouts decode. */
  private[sources] def compressedVSizeInts(buf: ByteBuffer, counts: DecodeCounts): IntColumn = {
    val version = buf.get()
    require(version == 2, s"compressed vsize ints version $version")
    val numBytes = buf.get() & 0xff
    val totalSize = buf.getInt()
    val sizePer = buf.getInt()
    val compression = buf.get() & 0xff
    new IntColumn(totalSize, sizePer, compression, numBytes,
      sizePer * numBytes + (4 - numBytes), buf, counts)
  }

  /** Writes row `i` of one column into `ordinal` of the reused row. */
  private abstract class ColumnReader {
    def length: Int
    def write(row: InternalRow, ordinal: Int, i: Int): Unit
  }

  private def longReader(c: LongColumn): ColumnReader = new ColumnReader {
    def length: Int = c.length
    def write(row: InternalRow, ordinal: Int, i: Int): Unit = row.setLong(ordinal, c(i))
  }

  /** The typed reader of column `f` of this segment. The segment must
    * store it as the type the scan reads (the union schema guarantees
    * this; a segment published after the schema was taken may not). */
  private def columnReader(file: SegmentFile, f: StructField,
                           counts: DecodeCounts): ColumnReader = {
    val buf = ByteBuffer.wrap(file(f.name))
    val col = druidColumn(f.name, readPrefixedJson(buf))
    val stored = sparkField(col).dataType
    require(stored == f.dataType, s"column '${f.name}' is ${stored.simpleString} " +
      s"in this segment but read as ${f.dataType.simpleString}")
    col.valueType match {
      case "LONG" => longReader(compressedLongs(buf, counts))
      case "FLOAT" =>
        val (totalSize, sizePer, compression) = supplierHeader(buf, "floats")
        val c = new FloatColumn(totalSize, sizePer, compression, buf, counts)
        new ColumnReader {
          def length: Int = c.length
          def write(row: InternalRow, ordinal: Int, i: Int): Unit = row.setFloat(ordinal, c(i))
        }
      case "DOUBLE" =>
        // CompressedColumnarDoublesSupplier v2 — any post-0.13 Druid
        // segment with a doubleSum/doubleMin/doubleMax metric stores one
        val (totalSize, sizePer, compression) = supplierHeader(buf, "doubles")
        val c = new DoubleColumn(totalSize, sizePer, compression, buf, counts)
        new ColumnReader {
          def length: Int = c.length
          def write(row: InternalRow, ordinal: Int, i: Int): Unit = row.setDouble(ordinal, c(i))
        }
      case "STRING" => stringReader(buf, col.hasMultipleValues, counts)
      case _ =>
        // ComplexColumnPartSerde: GenericIndexed of the aggregator's
        // serialized form — surfaced raw, like the reference's Pig
        // bytearray metrics
        val values = readGenericIndexedBytes(buf)
        new ColumnReader {
          def length: Int = values.length
          def write(row: InternalRow, ordinal: Int, i: Int): Unit = row.update(ordinal, values(i))
        }
    }
  }

  /** Dictionary-encoded string column (bitmap indexes after the row
    * ids are not needed for scans and are skipped implicitly). The
    * dictionary becomes Spark strings once per segment; rows carry its
    * entries, never a copy.
    *
    * Single-value: dictionary + compressed vsize int row ids →
    * `string`. Multi-value (the reference maps every dim as a Pig
    * tuple precisely because Druid dims are multi-value,
    * druid-pig/DruidStorage.java:109-165): dictionary + a V3
    * ColumnarMultiInts — version byte 3, a compressed int column of
    * n+1 row end-offsets, then one compressed vsize int column of all
    * values concatenated — decoded to `array<string>`, matching the
    * engine's own parquet MV-dim representation so explode_outer
    * groupBy semantics apply unchanged to migrated segments. */
  private def stringReader(buf: ByteBuffer, multiValue: Boolean,
                           counts: DecodeCounts): ColumnReader = {
    val version = buf.get()
    require(version == 2, s"dictionary column serde version $version")
    val flags = buf.getInt()
    // through java.lang.String, so malformed UTF-8 is replaced exactly
    // as a String-typed read would replace it
    val dict: Array[UTF8String] = readGenericIndexedBytes(buf)
      .map(b => UTF8String.fromString(new String(b, StandardCharsets.UTF_8))).toArray
    def lookup(id: Int): UTF8String = if (id >= 0 && id < dict.length) dict(id) else null
    if (!multiValue) {
      val ids = compressedVSizeInts(buf, counts)
      new ColumnReader {
        def length: Int = ids.length
        def write(row: InternalRow, ordinal: Int, i: Int): Unit = row.update(ordinal, lookup(ids(i)))
      }
    } else {
      // flags bit 0x1 = legacy V2 multi-value, bit 0x2 = V3 (the
      // layout every Druid ≥ 0.9.2 writes)
      require((flags & 0x2) != 0,
        f"unsupported multi-value column layout (flags=0x$flags%x): only V3 compressed multi-ints")
      val v3 = buf.get()
      require(v3 == 3, s"V3 ColumnarMultiInts version $v3 (want 3)")
      val offsets = compressedInts(buf, counts) // n+1 end-offsets, offsets(0)=0
      val ids = compressedVSizeInts(buf, counts)
      new ColumnReader {
        def length: Int = offsets.length - 1
        def write(row: InternalRow, ordinal: Int, i: Int): Unit = {
          val start = offsets(i)
          val values = new Array[Any](math.max(0, offsets(i + 1) - start))
          var j = 0
          while (j < values.length) { values(j) = lookup(ids(start + j)); j += 1 }
          row.update(ordinal, new GenericArrayData(values))
        }
      }
    }
  }
}

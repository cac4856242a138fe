package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Descriptor-driven discovery over a Druid deep-storage tree — the
  * reference's actual entry point: (dataSource, interval) → segment
  * list → VersionedIntervalTimeline → windowed reads
  * (druid-mr/DruidInputFormat.java:85-115, where the list comes from
  * an overlord `segmentListUsedAction`; here it comes from the
  * `descriptor.json` Druid writes next to every pushed `index.zip`,
  * so no Druid service is needed to migrate).
  *
  * Discovery walks the tree once on the driver (same O(#segments)
  * cost as the reference's overlord round-trip) and feeds the
  * existing [[VersionedTimeline]]: latest version wins per
  * overlapping time chunk, partial overshadow clips the loser to its
  * still-visible windows, and the clip is applied inside each
  * per-segment decode task.
  */
object DruidDeepStorage {

  /** Find every `descriptor.json` under `root` (recursive, via the
    * Hadoop FS API — local/HDFS/s3a alike) and parse it into the
    * engine's SegmentDescriptor. `path` is the segment dir holding
    * index.zip.
    *
    * The walk is pre-order in listing order — the order
    * `listFiles(root, true)` yields, which union-schema column order
    * (first seen) depends on — but it makes one `listStatus` per
    * directory: `listFiles` wraps every file in a `LocatedFileStatus`,
    * whose permission load forks a process per file on the local FS.
    * A missing root throws `FileNotFoundException`. */
  def discover(spark: SparkSession, root: String): Seq[SegmentDescriptor] = {
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val found = scala.collection.mutable.ArrayBuffer[SegmentDescriptor]()
    def walk(dir: HPath): Unit = fs.listStatus(dir).foreach { st =>
      if (!st.isFile) walk(st.getPath)
      else if (st.getPath.getName == "descriptor.json") {
        val in = fs.open(st.getPath)
        val text = try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          StandardCharsets.UTF_8) finally in.close()
        found += parseDescriptor(text, st.getPath.getParent.toString)
      }
    }
    walk(rootPath)
    found.toSeq
  }

  /** Parse one Druid segment descriptor (the deep-storage JSON, e.g.
    * the reference fixture's test-segment/descriptor.json). */
  def parseDescriptor(json: String, segmentDir: String): SegmentDescriptor = {
    val j = JsonMethods.parse(json)
    val JString(ds) = (j \ "dataSource"): @unchecked
    val JString(interval) = (j \ "interval"): @unchecked
    val JString(version) = (j \ "version"): @unchecked
    val Array(startIso, endIso) = interval.split("/", 2)
    val (shardNum, numShards) = (j \ "shardSpec") match {
      case o: JObject =>
        val num = (o \ "partitionNum") match { case JInt(n) => n.toInt; case _ => 0 }
        // Druid's NumberedShardSpec allows partitions=0 ("unknown
        // count"); the timeline only needs shard identity, so clamp
        val total = (o \ "partitions") match { case JInt(n) => math.max(n.toInt, num + 1); case _ => num + 1 }
        (num, total)
      case _ => (0, 1)
    }
    SegmentDescriptor(ds,
      java.time.Instant.parse(startIso).toEpochMilli,
      java.time.Instant.parse(endIso).toEpochMilli,
      version, shardNum, numShards, segmentDir)
  }

  /** Druid "kill task" over a deep-storage tree: delete segments with
    * NO timeline-visible window (fully overshadowed by later
    * versions) — the storage-reclaim half of the version lifecycle the
    * write path creates. Partially-overshadowed segments survive
    * (their un-overshadowed windows are still readable truth).
    *
    * Visibility flips FIRST: each dead segment's `descriptor.json` is
    * deleted before its dir, so a discovery racing the vacuum either
    * sees the segment whole or not at all — never a descriptor whose
    * index.zip is gone. Returns the deleted segment dirs. */
  def vacuum(spark: SparkSession, root: String, dataSource: String): Seq[String] = {
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = discover(spark, root).filter(_.dataSource == dataSource)
    val visible = VersionedTimeline
      .resolve(segs, Long.MinValue, Long.MaxValue)
      .map(_.segment.path).toSet
    val dead = segs.filterNot(s => visible.contains(s.path))
    dead.foreach { s =>
      fs.delete(new HPath(s.path, "descriptor.json"), false)
      fs.delete(new HPath(s.path), true)
    }
    dead.map(_.path)
  }

  /** KILL a whole datasource: delete EVERY discovered segment of it —
    * visible generations included (vs [[vacuum]], which reclaims only
    * overshadowed ones) — plus the writer-layout `<root>/<dataSource>`
    * tree. The descriptor goes first per segment, so a crash mid-kill
    * leaves partially-deleted segments invisible to discovery (a
    * retried kill converges; a reader never resolves a half-deleted
    * segment). This is the backend of `DROP TABLE` on a
    * [[DruidCatalog]] with `dropEnabled = true`. Returns the killed
    * segment paths. */
  def kill(spark: SparkSession, root: String, dataSource: String): Seq[String] = {
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = discover(spark, root).filter(_.dataSource == dataSource)
    segs.foreach { s =>
      fs.delete(new HPath(s.path, "descriptor.json"), false)
      fs.delete(new HPath(s.path), true)
    }
    // the writer always lays segments under <root>/<dataSource>/ —
    // remove the now-empty tree (fixture segments elsewhere under the
    // root were already removed individually above)
    if (!dataSource.contains("/") && !dataSource.contains(".."))
      fs.delete(new HPath(s"$root/$dataSource"), true)
    segs.map(_.path)
  }

  /** The reference's DatasourceIngestionSpec surface with deep-storage
    * discovery: scan (dataSource, interval) with optional projection
    * and Druid DimFilter JSON, reading only the timeline-visible
    * windows of each segment. */
  def scan(spark: SparkSession, root: String, dataSource: String,
           intervalStartMs: Long, intervalEndMs: Long,
           columns: Seq[String] = Nil,
           filterJson: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val segments = discover(spark, root).filter(_.dataSource == dataSource)
    require(segments.nonEmpty, s"no segments for dataSource '$dataSource' under $root")
    val windows = VersionedTimeline.resolve(segments, intervalStartMs, intervalEndMs)
    // decode-time pruning: projection ∪ the filter's referenced dims.
    // Only a free-form `expression` filter (referencedDims = None)
    // forces a full decode — every structured DimFilter names its
    // columns, so a filtered 2-column scan still skips the other
    // columns' decompression.
    val parsedFilter = filterJson.map(graft.model.DimFilter.parse)
    val pruned =
      if (columns.isEmpty) Nil
      else parsedFilter match {
        case None => columns
        case Some(f) => f.referencedDims match {
          case Some(dims) => (columns ++ dims).distinct
          case None => Nil // unknown references: decode everything
        }
      }
    val df0 =
      if (windows.isEmpty) // interval misses every segment: empty, correct schema
        DruidSegmentReader.read(spark, Seq(segments.head.path), pruned).limit(0)
      else DruidSegmentReader.readWindowed(spark,
        windows.map(w => (w.segment.path, w.windowStartMs, w.windowEndMs)), pruned)
    val df1 = parsedFilter match {
      case Some(f) => df0.filter(f.compile(df0.schema))
      case None => df0
    }
    if (columns.isEmpty) df1
    else df1.select(("__time" +: columns.filter(_ != "__time")).map(col): _*)
  }
}

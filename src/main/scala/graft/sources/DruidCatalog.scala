package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL-surface catalog over a Druid deep-storage tree — the
  * `SELECT … FROM druid.<datasource>` convenience on top of the
  * `druid-segments` DataSource V2 (every scan capability — descriptor
  * discovery, timeline overshadow resolution, dictionary-predicate
  * segment pruning, grouped-aggregate pushdown — is the Table's, not
  * the catalog's; this class only resolves names).
  *
  * Wire-up:
  * {{{
  *   spark.sql.catalog.druid      = graft.sources.DruidCatalog
  *   spark.sql.catalog.druid.root = /path/to/deep-storage
  * }}}
  * then `spark.sql("SELECT host, sum(hits) FROM druid.events GROUP BY host")`.
  *
  * Tables are the DATASOURCES discovered under the root (the same
  * one-listing planning cost as the reference's overlord segment-list
  * action — DruidInputFormat.java:64-115). Writes ride the SQL surface
  * too: `CREATE TABLE druid.<ds> AS SELECT …` and
  * `INSERT INTO druid.<ds>` route through the segment writer with
  * Druid's version semantics (a later statement overshadows the time
  * chunks it touches — see [[createTable]]); destructive DDL
  * (DROP/ALTER/RENAME) is refused — segments are immutable, cleanup is
  * the vacuum/kill path. Resolution cost: `loadTable` runs
  * descriptor discovery + union-schema inference for the named
  * datasource — the same work `spark.read.format("druid-segments")`
  * does; Spark caches the resolved table per query. */
class DruidCatalog extends TableCatalog {

  private var catalogName: String = _
  private var root: String = _
  private var listingTtlNanos: Long = _
  private var dropEnabled: Boolean = _

  /** (expiry deadline, listing) — the discovery cache. A SHOW TABLES
    * loop or a multi-table query resolves several names back-to-back;
    * without the cache each resolution re-LISTs the deep-storage tree
    * (an object store charges and throttles per LIST, and a tree with
    * thousands of segments makes each one slow). Staleness bound =
    * the TTL: a segment published inside the window is invisible
    * until expiry or [[invalidateTable]] — the same lag a Druid
    * broker's periodic segment-view poll has. */
  @volatile private var cachedListing: (Long, Seq[SegmentDescriptor]) = _

  /** Count of ACTUAL tree listings — observability + spec hook. */
  private[sources] val listingCount = new java.util.concurrent.atomic.AtomicLong

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"DruidCatalog '$name' needs spark.sql.catalog.$name.root = <deep-storage root>"))
    // 0 disables caching (every resolution re-LISTs — the pre-cache
    // behavior); default 30 s, the usual object-store listing-cache
    // order of magnitude
    listingTtlNanos = Option(options.get("listingTtlMs"))
      .map(_.toLong).getOrElse(30000L) * 1000000L
    dropEnabled = Option(options.get("dropEnabled")).exists(_.toBoolean)
    // register for write-side invalidation: a same-session segment
    // publish through the writer path drops this catalog's listing
    // (DruidCatalog.invalidateRoot) so read-after-write via the
    // catalog is consistent by default, not after the TTL
    DruidCatalog.register(this)
  }

  override def name(): String = catalogName

  private def requireTopLevel(namespace: Array[String]): Unit =
    if (namespace.nonEmpty)
      throw new NoSuchNamespaceException(catalogName +: namespace)

  /** ONE recursive listing (memoized for `listingTtlMs`); a root that
    * does not exist yet (a fresh deep-storage tree before its first
    * ingest — a state the writer path supports) reads as "no tables",
    * per the catalog contract (tableExists → false, listTables →
    * empty, loadTable → NoSuchTableException), never a raw
    * FileNotFoundException out of analysis. */
  private def safeDiscover(): Seq[SegmentDescriptor] = {
    val now = System.nanoTime()
    val cached = cachedListing
    if (listingTtlNanos > 0 && cached != null && now < cached._1)
      cached._2
    else {
      listingCount.incrementAndGet()
      val segs =
        try DruidDeepStorage.discover(SparkSession.active, root)
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      // the NEGATIVE result (empty/missing root) is never cached: a
      // fresh deep-storage tree's first ingest must become visible on
      // the next resolution, not after the TTL — an empty tree is
      // also exactly the tree whose re-LIST is cheapest
      if (segs.nonEmpty) cachedListing = (now + listingTtlNanos, segs)
      else cachedListing = null
      segs
    }
  }

  /** Drop the cached listing — call after publishing segments to make
    * them visible before the TTL expires. Spark invokes this on
    * `REFRESH TABLE <catalog>.<ds>`. */
  override def invalidateTable(ident: Identifier): Unit =
    cachedListing = null

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireTopLevel(namespace)
    safeDiscover()
      .map(_.dataSource).distinct.sorted
      .map(ds => Identifier.of(Array.empty[String], ds)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty &&
      safeDiscover().exists(_.dataSource == ident.name())

  override def loadTable(ident: Identifier): Table = {
    // one discovery serves BOTH the existence check and schema
    // inference — resolution costs a single tree listing on our side
    // (an object-store tree with thousands of segments pays per LIST)
    val segs =
      if (ident.namespace().isEmpty)
        safeDiscover().filter(_.dataSource == ident.name())
      else Seq.empty
    if (segs.isEmpty)
      throw new NoSuchTableException(
        (catalogName +: ident.namespace().toSeq) :+ ident.name())
    val opts = new CaseInsensitiveStringMap(
      util.Map.of("path", root, "dataSource", ident.name()))
    new DruidSegmentsTable(
      DruidSegmentsDataSource.visibleSchema(SparkSession.active, segs), opts)
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"DruidCatalog: $op is not supported — Druid segments are immutable; " +
        "overwrite by writing a later version (it overshadows), remove " +
        "overshadowed generations with the vacuum/kill path " +
        "(graft.sources.DruidDeepStorage.vacuum)")

  /** Write-option table properties forwarded to the segment writer —
    * `CREATE TABLE … TBLPROPERTIES('segmentGranularity'='DAY', …)`
    * (accepted bare or with Spark's `option.` prefix). */
  private val writeProps = Seq("segmentGranularity", "version",
    "maxRowsPerSegment", "rowsPerChunk", "complexMetrics", "appendShards")

  /** CREATE TABLE / CTAS — the write half of the SQL surface:
    * `CREATE TABLE druid.<ds> [TBLPROPERTIES(…)] AS SELECT …` routes
    * the query through the SAME DSv2 writer as
    * `df.write.format("druid-segments")` (real v9 segments, publish by
    * descriptor, versioned). `INSERT INTO druid.<ds>` needs no DDL —
    * [[loadTable]]'s table already supports BATCH_WRITE — and carries
    * Druid's version semantics: each statement writes a LATER version
    * over the time chunks it touches, which OVERSHADOWS those chunks'
    * previous rows (Druid versions are immutable — "append into a
    * version" is the streaming ingestion shape, option
    * `appendShards`). Overshadow-on-an-EXISTING datasource is the
    * INSERT INTO form only: plain CTAS on an existing datasource fails
    * Spark's own tableExists pre-check with TableAlreadyExistsException
    * (existence here is discovery-based), so "replace these chunks" is
    * `INSERT INTO`, never a repeated CREATE. A datasource EXISTS once
    * its first segment publishes: a bare CREATE TABLE with no data is
    * accepted but stays invisible to listings until a write lands —
    * CTAS is the natural form (and a FAILED CTAS rolls back cleanly:
    * Spark drops the half-created table, which [[dropTable]] reports
    * as a no-op for a never-published datasource). Partition
    * transforms are refused: Druid partitions by __time chunks
    * internally (`segmentGranularity`), not by Spark DDL. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    requireTopLevel(ident.namespace())
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "DruidCatalog: PARTITIONED BY is not supported — Druid " +
          "datasources partition by __time chunks internally " +
          "(TBLPROPERTIES('segmentGranularity'='DAY'))")
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", root)
    opts.put("dataSource", ident.name())
    for (k <- writeProps)
      Option(properties.get(k))
        .orElse(Option(properties.get(s"option.$k")))
        .foreach(v => opts.put(k, v))
    new DruidSegmentsTable(schema, new CaseInsensitiveStringMap(opts),
      checkSchemaOnRead = true)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly("ALTER TABLE")

  /** DROP TABLE = the KILL lifecycle, opt-in: with
    * `spark.sql.catalog.<name>.dropEnabled = true`, dropping a
    * datasource kills EVERY version (visible generations included —
    * [[DruidDeepStorage.kill]]) and removes its tree; listings forget
    * it immediately and a re-CTAS plans fresh. Without the opt-in the
    * statement refuses loudly, naming both remedies — destructive DDL
    * stays a deliberate choice, not a default.
    *
    * A datasource with NO discovered segments returns false ("no such
    * table") in both modes: that is what Spark's non-atomic CTAS
    * rollback calls after a failed CTAS write, and a discovery-based
    * datasource that never published has nothing to clean — the
    * original write failure surfaces clean instead of dragging an
    * UnsupportedOperationException in as suppressed noise. */
  override def dropTable(ident: Identifier): Boolean = {
    if (ident.namespace().nonEmpty) return false
    val ds = ident.name()
    // destructive DDL decides on a FRESH discovery, never the
    // TTL-cached listing: a datasource published by another process
    // inside the TTL window must be droppable immediately (and a
    // just-killed one must not re-resolve)
    cachedListing = null
    if (!safeDiscover().exists(_.dataSource == ds)) false
    else if (!dropEnabled)
      throw new UnsupportedOperationException(
        s"DruidCatalog: DROP TABLE is disabled — Druid segments are " +
          "immutable and datasource removal is the kill lifecycle. Reclaim " +
          "overshadowed generations with DruidDeepStorage.vacuum, or opt " +
          s"into full drops with spark.sql.catalog.$catalogName.dropEnabled" +
          " = true (drop kills EVERY version of the datasource)")
    else {
      DruidDeepStorage.kill(SparkSession.active, root, ds)
      DruidCatalog.invalidateRoot(root)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")

  private[sources] def rootPath: String = root
}

/** Write-side listing invalidation: the segment WRITER
  * ([[DruidBatchWrite]]'s publish) calls [[invalidateRoot]] so every
  * catalog instance over the published root drops its cached listing
  * — same-session `CTAS/INSERT then SELECT FROM druid.<ds>` sees the
  * new segments immediately instead of after the TTL. Instances are
  * weakly referenced (a dropped SparkSession's catalogs get collected)
  * and keyed by the NORMALIZED root path, so `/x/` and `/x` meet. */
object DruidCatalog {
  private val instances =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.Map[DruidCatalog, java.lang.Boolean]]

  private def normalize(root: String): String =
    new org.apache.hadoop.fs.Path(root).toString

  private[sources] def register(c: DruidCatalog): Unit =
    instances.computeIfAbsent(normalize(c.rootPath),
        _ => java.util.Collections.synchronizedMap(
          new java.util.WeakHashMap[DruidCatalog, java.lang.Boolean]))
      .put(c, java.lang.Boolean.TRUE)

  /** Drop the cached listing of every registered catalog over `root`
    * — a no-op when no catalog watches it. */
  private[sources] def invalidateRoot(root: String): Unit = {
    val m = instances.get(normalize(root))
    if (m != null) m.synchronized {
      m.keySet().forEach(c =>
        c.invalidateTable(Identifier.of(Array.empty[String], "*")))
    }
  }
}

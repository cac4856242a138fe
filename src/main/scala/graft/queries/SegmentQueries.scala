package graft.queries

import graft.Tables
import graft.functions.Sketches
import graft.model.Granularity
import graft.sources.{SegmentCatalog, SegmentStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver queries exercising the segment store end-to-end: rollup
  * ingestion of `events` into a versioned, time-chunked store, then
  * timeline-resolved scans and sketch re-aggregation. Oracles recompute
  * from the raw events table, proving the store round-trip is lossless
  * at the rollup grain.
  */
object SegmentQueries {

  private val metricsJson =
    """[
      |{"type":"count","name":"cnt"},
      |{"type":"longSum","name":"sum_users","fieldName":"user_id"},
      |{"type":"doubleSum","name":"sum_value","fieldName":"value"},
      |{"type":"thetaSketch","name":"users_sk","fieldName":"user_id"}
      |]""".stripMargin

  private def ingestSpec = SegmentStore.IngestSpec(
    dataSource = "events_rollup",
    timeCol = "ts",
    dimensions = Seq("event_type"),
    metricsJson = metricsJson,
    queryGranularity = Granularity.Calendar("hour"),
    segmentGranularity = Granularity.Calendar("day"))

  /** Bump when the ingest layout/semantics change, so a cached store
    * from an earlier driver round can never serve stale data. */
  private val StoreFormatVersion = 3

  /** Build-once segment store `<fixture>/store` ([[GateFixture]]):
    * `ingest` fills the staging store, then every descriptor's absolute
    * path is retargeted from the staging dir to the promoted root. */
  private def storeFixture(name: String, sfDir: String, dataSource: String)(
      ingest: String => Unit): String = {
    val root = GateFixture.buildOnce(s"${name}_v$StoreFormatVersion", sfDir) { staging =>
      val store = s"$staging/store"
      ingest(store)
      val (from, to) = (staging.getAbsolutePath,
        GateFixture.promotedRoot(staging).getAbsolutePath)
      SegmentCatalog.mutate(store, dataSource)(
        _.map(s0 => s0.copy(path = s0.path.replace(from, to))))
    }
    s"$root/store"
  }

  /** Per-sfDir ingest shared by the store gates. v1 = full range; v2
    * re-ingests 2024-01-15 with identical data, so the scan exercises
    * version overshadowing while staying oracle-equivalent to a raw
    * recompute. */
  private def ensureIngested(spark: SparkSession, sfDir: String): String = synchronized {
    storeFixture("graft_segstore", sfDir, "events_rollup") { base =>
      val ev = Tables.events(spark, sfDir)
      SegmentStore.ingest(spark, ev, ingestSpec, base, version = "v1")
      val d0 = java.time.Instant.parse("2024-01-15T00:00:00Z").toEpochMilli
      val d1 = d0 + 86400000L
      val day = ev.filter(unix_millis(col("ts")) >= d0 && unix_millis(col("ts")) < d1)
      if (day.limit(1).count() > 0)
        SegmentStore.ingest(spark, day, ingestSpec, base, version = "v2")
    }
  }

  private val t0 = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
  private val t1 = java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli

  /** Timeline-resolved scan of the rolled-up store: interval pruning +
    * dim filter + projection (≙ DruidInputFormat read with a spec). */
  def segmentScan(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ensureIngested(spark, sfDir)
    SegmentStore.scan(spark, base, SegmentStore.ScanSpec(
      "events_rollup", t0, t1,
      dimensions = Seq("event_type"),
      metrics = Seq("cnt", "sum_users", "sum_value"),
      filterJson = Some(
        """{"type":"in","dimension":"event_type","values":["click","view","purchase"]}""")))
      .orderBy(col("__time"), col("event_type"))
  }

  val segmentScanSql: String =
    s"""SELECT epoch_ms(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS __time,
       |  event_type,
       |  count(*) AS cnt,
       |  CAST(sum(user_id) AS BIGINT) AS sum_users,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
       |  AND event_type IN ('click', 'view', 'purchase')
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Re-aggregation of stored sketch bytes to a coarser grain: hourly
    * theta sketches → daily distinct users, exact below k=4096
    * (≙ NonFinalizing→Finalizing adapter chain in the reference). */
  def rollupReagg(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ensureIngested(spark, sfDir)
    val scanned = SegmentStore.scan(spark, base, SegmentStore.ScanSpec(
      "events_rollup", t0, t1,
      dimensions = Seq("event_type"),
      metrics = Seq("cnt", "users_sk")))
    scanned
      .groupBy(date_trunc("day", timestamp_millis(col("__time"))).as("day"))
      .agg(
        sum(col("cnt")).as("cnt"),
        Sketches.theta_estimate(Sketches.theta_sketch_agg(col("users_sk"))).as("n_users"))
      .orderBy(col("day"))
  }

  val rollupReaggSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |  count(*) AS cnt,
      |  CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Compaction end-to-end: hourly segments re-published as daily
    * under a new version (its own store dir — compaction overshadows,
    * so it must not mutate the shared hourly store other queries
    * scan), then scanned back. Totals must equal a raw daily rollup —
    * the oracle recomputes from the events table. */
  def segmentCompact(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val src = ensureIngested(spark, sfDir)
    val base = storeFixture("graft_segcompact", sfDir, "events_rollup") { base =>
      // seed the compaction store with the hourly segments, then compact
      val hourly = SegmentStore.scan(spark, src, SegmentStore.ScanSpec(
        "events_rollup", t0, t1, Seq("event_type"),
        Seq("cnt", "sum_users", "sum_value", "users_sk")))
      SegmentStore.ingest(spark,
        hourly.withColumn("ts", timestamp_millis(col("__time"))),
        ingestSpec.copy(metricsJson = graft.model.Aggregators.reaggSpec(metricsJson)),
        base, version = "v1")
      SegmentStore.compact(spark, base, "events_rollup", t0, t1,
        dimensions = Seq("event_type"),
        metricsJson = graft.model.Aggregators.reaggSpec(metricsJson),
        queryGranularity = Granularity.Calendar("day"),
        segmentGranularity = Granularity.Calendar("day"),
        version = "v2_compacted")
    }
    val daily = SegmentStore.scan(spark, base, SegmentStore.ScanSpec(
      "events_rollup", t0, t1, Seq("event_type"),
      Seq("cnt", "sum_users", "sum_value", "users_sk")))
    daily.select(
        timestamp_millis(col("__time")).as("day"), col("event_type"),
        col("cnt"), col("sum_users"),
        col("sum_value"),
        Sketches.theta_estimate(col("users_sk")).as("n_users"))
      .orderBy("day", "event_type")
  }

  val segmentCompactSql: String =
    s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       |  count(*) AS cnt,
       |  CAST(sum(user_id) AS BIGINT) AS sum_users,
       |  ${Exact.sqlSum("value")} AS sum_value,
       |  CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The reference's DatasourceIngestionSpec JSON driving a read END
    * TO END under the correctness gate: the spec string (dataSource /
    * interval / granularity / dimensions / metrics / DimFilter JSON —
    * the exact dialect of druid.datasource.schema,
    * DruidInputFormat.java:44-57) is parsed and executed against the
    * shared rolled-up store, then aggregated per dim. The oracle
    * recomputes from raw events with the same interval clip and
    * filter — proving the JSON surface drives the same scan a typed
    * ScanSpec does. */
  def ingestionSpecScan(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ensureIngested(spark, sfDir)
    val specJson =
      """{
        |  "dataSource": "events_rollup",
        |  "interval": "2024-01-05T00:00:00Z/2024-01-25T00:00:00Z",
        |  "granularity": "hour",
        |  "dimensions": ["event_type"],
        |  "metrics": ["cnt", "sum_users", "sum_value"],
        |  "filter": {"type": "not", "field":
        |    {"type": "selector", "dimension": "event_type", "value": "error"}}
        |}""".stripMargin
    val spec = graft.model.IngestionSpec.parse(specJson)
    graft.model.IngestionSpec.scan(spark, base, spec)
      .groupBy("event_type")
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_users")).as("sum_users"),
        graft.queries.Exact.dsum(col("sum_value")).as("sum_value"))
      .orderBy("event_type")
  }

  val ingestionSpecScanSql: String =
    s"""SELECT event_type,
       |  count(*) AS cnt,
       |  CAST(sum(user_id) AS BIGINT) AS sum_users,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
       |  AND event_type <> 'error'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Vacuum (Druid kill task) under the correctness gate: ingest v1
    * over the full range, overwrite 2024-01-10..20 with v2 carrying
    * DIFFERENT data (value × 3 — so serving any killed v1 chunk would
    * break the value hash), vacuum, then scan the full range. Build
    * asserts the storage invariants: only fully-overshadowed v1 chunks
    * are killed, their files are gone, the catalog no longer
    * references them, and the scan result is IDENTICAL before and
    * after the vacuum (reclaim must never change query results). The
    * oracle recomputes from raw events with the v2 transform applied
    * inside the overwritten window. */
  def segmentVacuum(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val full0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val full1 = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
    def scanDaily(base: String): DataFrame =
      SegmentStore.scan(spark, base, SegmentStore.ScanSpec(
          "events_rollup", full0, full1, Seq("event_type"),
          Seq("cnt", "sum_users", "sum_value")))
        .groupBy(
          timestamp_millis(col("__time") - pmod(col("__time"), lit(86400000L))).as("day"),
          col("event_type"))
        .agg(sum(col("cnt")).as("cnt"),
          sum(col("sum_users")).as("sum_users"),
          graft.queries.Exact.dsum(col("sum_value")).as("sum_value"))
        .orderBy("day", "event_type")
    val base = storeFixture("graft_segvac", sfDir, "events_rollup") { base =>
      val ev = Tables.events(spark, sfDir)
      val numericSpec = ingestSpec.copy(metricsJson =
        """[
          |{"type":"count","name":"cnt"},
          |{"type":"longSum","name":"sum_users","fieldName":"user_id"},
          |{"type":"doubleSum","name":"sum_value","fieldName":"value"}
          |]""".stripMargin)
      SegmentStore.ingest(spark, ev, numericSpec, base, version = "v1")
      val d0 = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
      val d1 = java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli
      val win = ev.filter(unix_millis(col("ts")) >= d0 && unix_millis(col("ts")) < d1)
        .withColumn("value", col("value") * 3)
      SegmentStore.ingest(spark, win, numericSpec, base, version = "v2")
      val pre = scanDaily(base).collect().toSeq
      val killed = SegmentStore.vacuum(base, "events_rollup")
      require(killed.nonEmpty, "vacuum must reclaim the overshadowed v1 chunks")
      require(killed.forall(s => s.version == "v1" && s.startMs >= d0 && s.endMs <= d1),
        s"only fully-overshadowed v1 chunks may die, got: $killed")
      killed.foreach { s =>
        require(!new java.io.File(s.path).exists(), s"killed files must be deleted: ${s.path}")
      }
      val cat = SegmentCatalog.read(base, "events_rollup")
      val killedPaths = killed.map(_.path).toSet
      require(cat.forall(s => !killedPaths.contains(s.path)),
        "catalog must not reference killed segments")
      val post = scanDaily(base).collect().toSeq
      require(pre == post, "vacuum changed scan results")
    }
    scanDaily(base)
  }

  val segmentVacuumSql: String =
    s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       |  count(*) AS cnt,
       |  CAST(sum(user_id) AS BIGINT) AS sum_users,
       |  CAST(CAST(sum(CAST(
       |    CASE WHEN ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
       |         THEN value * 3 ELSE value END AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
       |    AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Decode a REAL Apache Druid v9 binary segment (the reference
    * repo's test fixture) — dictionary strings, LZ4 longs, and the
    * hyperUnique complex metric finalized via the Druid HLL estimator.
    * Oracle: the fixture's known contents as a VALUES table (same
    * pattern as [[druidDeepStoreSql]]) — the reference's own test
    * asserts these rows (druid-pig DruidStorageTest over the same
    * test-segment), so every decoded cell is value-checked; byte-level
    * decode details are additionally pinned in DruidSegmentReaderSpec. */
  def druidSegmentRead(spark: SparkSession, sfDir: String): DataFrame = {
    // the segment dir holds its own descriptor.json: a one-segment tree
    val fixture = "/root/reference/druid-mr/src/test/resources/test-segment"
    spark.read.format("druid-segments").load(fixture)
      .withColumn("unique_hosts_est",
        graft.functions.DruidHll.druid_hll_estimate(col("unique_hosts")))
      .drop("unique_hosts")
      .orderBy("__time")
  }

  /** 2014-10-22T00/01/02Z hourly rows; the hyperUnique estimate of a
    * single-host sketch is Druid HLLC's documented 1-element value. */
  val druidSegmentReadSql: String = {
    val oneHostEst = "1.0002442201269182"
    val rows = Seq(
      (1413936000000L, "a.example.com", 100),
      (1413939600000L, "b.example.com", 150),
      (1413943200000L, "c.example.com", 200))
    rows.map { case (t, h, v) =>
      s"(CAST($t AS BIGINT), '$h', CAST($v AS BIGINT), CAST($oneHostEst AS DOUBLE))"
    }.mkString("SELECT * FROM (VALUES\n", ",\n", s""")
      | AS t(__time, host, visited_sum, unique_hosts_est)""".stripMargin)
  }

  /** Streaming rollup end to end under the correctness gate: the
    * events table staged as 4 parquet files, consumed as an
    * AvailableNow stream one file per micro-batch (so the store takes
    * several update-mode publications and the carry-forward chunk
    * merge actually runs), rolled up hourly into the segment store,
    * then scanned back through the timeline. The oracle recomputes the
    * same rollup from raw events in one batch — streaming ingestion
    * must be indistinguishable from batch at the rollup grain.
    * Lateness 40d > the data's 30d span, so no event is ever dropped
    * by the watermark and the comparison is exact. */
  def streamRollup(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    import graft.streaming.StreamingRollup
    // A non-empty catalog appears after the FIRST of several
    // micro-batch publications, so the whole store (staged input,
    // checkpoint, segments) builds as one fixture, sealed only after
    // awaitTermination()
    val base = storeFixture("graft_streamroll", sfDir, "events_stream") { store =>
      val staging = new java.io.File(store).getParent
      val stage = s"$staging/stage"
      Tables.events(spark, sfDir)
        .select(col("ts"), col("event_type"), col("user_id"), col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(stage)
      val schema = spark.read.parquet(stage).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val spec = StreamingRollup.StreamSpec(
        dataSource = "events_stream",
        timeCol = "ts",
        dimensions = Seq("event_type"),
        metricsJson =
          """[
            |{"type":"count","name":"cnt"},
            |{"type":"longSum","name":"sum_users","fieldName":"user_id"},
            |{"type":"doubleSum","name":"sum_value","fieldName":"value"}
            |]""".stripMargin,
        queryGranularity = "1 hour",
        segmentGranularity = Granularity.Calendar("day"),
        lateness = "40 days")
      StreamingRollup.toSegmentStore(spark,
          StreamingRollup.rollup(src, spec), spec, store,
          checkpoint = Some(s"$staging/ckpt"))
        .start().awaitTermination()
    }
    val all0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val all1 = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
    SegmentStore.scan(spark, base, SegmentStore.ScanSpec(
      "events_stream", all0, all1,
      dimensions = Seq("event_type"),
      metrics = Seq("cnt", "sum_users", "sum_value")))
      .orderBy(col("__time"), col("event_type"))
  }

  val streamRollupSql: String =
    s"""SELECT epoch_ms(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS __time,
       |  event_type,
       |  count(*) AS cnt,
       |  CAST(sum(user_id) AS BIGINT) AS sum_users,
       |  ${Exact.sqlSum("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** Build-once ([[GateFixture]]) Druid v9 tree `name`, versioned by
    * the segment writer's format so a layout change never serves stale
    * descriptors. */
  private def druidFixture(name: String, sfDir: String)(
      build: java.io.File => Unit): java.io.File =
    GateFixture.buildOnce(
      s"${name}_v2_w${graft.sources.DruidSegmentWriter.FormatVersion}", sfDir)(build)

  /** Deep-store fixture tree shared by q_druid_deepstore, q_druid_agg,
    * q_druid_ds_metadata and q_druid_topn: a deterministic two-version
    * Druid v9 layout (v2 half-day overshadows v1's tail). */
  private def deepStoreFixture(sfDir: String): java.io.File = {
    import graft.sources.{DruidSegmentWriter => W}
    val day = 24 * 3600 * 1000L
    val t0 = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli
    def seg(dir: java.io.File, version: String, hosts: Seq[String],
            tags: Seq[Seq[String]], lo: Long, hi: Long): Unit = {
      val n = hosts.size
      val times = (0 until n).map(i => lo + i * ((hi - lo) / n))
      W.write(dir, "fixture", times,
        Seq(W.StrDim("host", hosts), W.MvDim("tags", tags),
          W.LongMet("hits", (1 to n).map(_ * 10L)),
          W.DoubleMet("revenue", (1 to n).map(_ * 1.25))),
        lo, hi, version = version)
    }
    druidFixture("graft_druid_deepstore", sfDir) { staging =>
      seg(new java.io.File(staging, "fixture/day/v1/0"), "v1",
        Seq("a", "b", "c", "d", "e"),
        Seq(Seq("x", "y"), Seq(), Seq("y"), Seq("x", "z"), Seq("z")), t0, t0 + day)
      seg(new java.io.File(staging, "fixture/half2/v2/0"), "v2",
        Seq("n1", "n2"), Seq(Seq("x"), Seq()), t0 + day / 2, t0 + day)
    }
  }

  /** Descriptor-driven deep-storage scan, oracle-checked end to end:
    * reads (dataSource, interval) of the two-version fixture tree (v2
    * partially overshadows v1) through the `druid-segments` table —
    * discovery → VersionedTimeline → windowed binary decode — exploding
    * the multi-value dim. Covers the DOUBLE metric and array<string>
    * decode paths under the driver's hash gate; the oracle is the
    * fixture's known contents as a VALUES table. */
  def druidDeepStore(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val day = 24 * 3600 * 1000L
    val t0 = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli
    val root = deepStoreFixture(sfDir)
    // the exact `__time` interval reaches timeline resolution, which
    // clips each segment to its visible windows at planning
    spark.read.format("druid-segments")
      .option("dataSource", "fixture")
      .load(root.getAbsolutePath)
      .where(col("__time") >= t0 && col("__time") < t0 + day)
      .select(col("__time"), col("host"), col("hits"), col("revenue"),
        explode_outer(col("tags")).as("tag"))
      .orderBy("__time", "tag")
  }

  /** The VALUES oracle: v1's rows 0-2 survive (rows 3-4 overshadowed
    * by v2's half-day window), v2 contributes both its rows. */
  val druidDeepStoreSql: String = {
    val day = 24 * 3600 * 1000L
    val t0 = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli
    val rows = Seq(
      (t0, "a", 10, 1.25, "'x'"), (t0, "a", 10, 1.25, "'y'"),
      (t0 + day / 5, "b", 20, 2.5, "NULL"),
      (t0 + 2 * day / 5, "c", 30, 3.75, "'y'"),
      (t0 + day / 2, "n1", 10, 1.25, "'x'"),
      (t0 + 3 * day / 4, "n2", 20, 2.5, "NULL"))
    rows.map { case (t, h, hits, rev, tag) =>
      s"(CAST($t AS BIGINT), '$h', CAST($hits AS BIGINT), CAST($rev AS DOUBLE), $tag)"
    }.mkString(
      "SELECT * FROM (VALUES\n", ",\n", ") AS t(__time, host, hits, revenue, tag)")
  }

  /** DSv2 AGGREGATE pushdown under the driver gate: global
    * count(*) / min(__time) / max(__time) over the deep-store fixture,
    * answered from segment metadata + the `__time` column alone —
    * Druid's timeBoundary + timeseries-count fast paths
    * (DruidSegmentsDataSourceSpec pins the plan: PushedAggregates
    * present, zero row decode; this query pins the VALUES under the
    * driver's hash gate). The `__time` range is exactly consumed by
    * the window clip, which is what keeps the Aggregate directly above
    * the scan and pushdown-eligible. */
  def druidAgg(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    import org.apache.spark.sql.functions.{count, max, min}
    val day = 24 * 3600 * 1000L
    val t0 = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli
    val root = deepStoreFixture(sfDir)
    spark.read.format("druid-segments")
      .option("dataSource", "fixture")
      .load(root.getAbsolutePath)
      .where(col("__time") >= t0 && col("__time") < t0 + day)
      .agg(count("*").as("n"), min("__time").as("t_first"), max("__time").as("t_last"))
  }

  /** Oracle from the fixture's known timeline: v1 rows 0-2 survive the
    * v2 half-day overshadow, v2 contributes 2 rows → 5 rows; first row
    * at t0, last at v2's second row (t0 + 3·day/4). */
  val druidAggSql: String = {
    val day = 24 * 3600 * 1000L
    val t0 = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli
    s"SELECT CAST(5 AS BIGINT) AS n, CAST($t0 AS BIGINT) AS t_first, " +
      s"CAST(${t0 + 3 * day / 4} AS BIGINT) AS t_last"
  }

  /** Druid dataSourceMetadata queryType (the ingestion watermark,
    * native query #8 — the reference's ingestion loop polls it to
    * decide what interval to pull next) run as the JSON dialect over
    * the DSv2 deep-store datasource: maxIngestedEventTime =
    * max(__time) over timeline-VISIBLE rows. Dispatches on the raw
    * ms-long __time so the max stays a pushed-down aggregate — the
    * answer comes from the compressed-longs header, zero row decode
    * (DruidSegmentsDataSourceSpec pins PushedAggregates). */
  def druidDsMetadata(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = deepStoreFixture(sfDir)
    val ds = spark.read.format("druid-segments")
      .option("dataSource", "fixture")
      .load(root.getAbsolutePath)
    DruidQueries.run(ds, "__time", """{"queryType": "dataSourceMetadata"}""")
  }

  /** v2's second row is the newest visible event (t0 + 3·day/4). */
  val druidDsMetadataSql: String = {
    val day = 24 * 3600 * 1000L
    val t0 = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli
    s"SELECT CAST(${t0 + 3 * day / 4} AS BIGINT) AS maxIngestedEventTime"
  }

  /** DSv2 TOP-N pushdown under the driver gate: "latest 3 events" —
    * Druid's time-ordered scan shape — over the deep-store fixture.
    * The source heap-selects winners off the __time column per window
    * and decodes only their dims (DruidSegmentsDataSourceSpec pins the
    * plan + chunk accounting); fixture times are strictly increasing,
    * so the top-3 set is deterministic and hash-checkable. */
  def druidTopN(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = deepStoreFixture(sfDir)
    spark.read.format("druid-segments")
      .option("dataSource", "fixture")
      .load(root.getAbsolutePath)
      .select(col("__time"), col("host"), col("hits"))
      .orderBy(col("__time").desc)
      .limit(3)
  }

  /** Latest 3 of the 5 timeline-visible rows: v2's two rows, then
    * v1's last surviving row (c at 2·day/5). */
  val druidTopNSql: String = {
    val day = 24 * 3600 * 1000L
    val t0 = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli
    val rows = Seq(
      (t0 + 3 * day / 4, "n2", 20), (t0 + day / 2, "n1", 10),
      (t0 + 2 * day / 5, "c", 30))
    rows.map { case (t, h, hits) =>
      s"(CAST($t AS BIGINT), '$h', CAST($hits AS BIGINT))"
    }.mkString("SELECT * FROM (VALUES\n", ",\n", ") AS t(__time, host, hits)")
  }

  /** Schema EVOLUTION across a datasource's segments, read through the
    * DataSource V2 connector (`spark.read.format("druid-segments")`):
    * day 1 carries (host, hits), day 2 adds `country`/`clicks` and
    * drops `hits` — the union schema null-fills what each segment
    * lacks, exactly how real Druid datasources evolve per interval.
    * Also exercises the bitmap/dictionary prune machinery end-to-end
    * because both segments carry roaring bitmap regions. */
  def druidEvolved(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    import graft.sources.{DruidSegmentWriter => W}
    val day = 24 * 3600 * 1000L
    val t0 = java.time.Instant.parse("2021-03-01T00:00:00Z").toEpochMilli
    val root = druidFixture("graft_druid_evolved", sfDir) { staging =>
      W.write(new java.io.File(staging, "evolved/day1/v1/0"), "evolved",
        (0 until 5).map(i => t0 + i * 3600000L),
        Seq(W.StrDim("host", Seq("a", "b", "c", "d", "e")),
          W.LongMet("hits", Seq(10L, 20L, 30L, 40L, 50L))),
        t0, t0 + day, version = "v1")
      W.write(new java.io.File(staging, "evolved/day2/v1/0"), "evolved",
        (0 until 3).map(i => t0 + day + i * 3600000L),
        Seq(W.StrDim("host", Seq("f", "g", "h")),
          W.StrDim("country", Seq("US", "DE", "JP")),
          W.LongMet("clicks", Seq(7L, 8L, 9L))),
        t0 + day, t0 + 2 * day, version = "v1")
    }
    spark.read.format("druid-segments")
      .option("dataSource", "evolved")
      .load(root.getAbsolutePath)
      .select(col("__time"), col("host"), col("country"),
        col("hits"), col("clicks"))
      .orderBy("__time")
  }

  /** VALUES oracle: day-1 rows null-fill country/clicks, day-2 rows
    * null-fill hits. */
  val druidEvolvedSql: String = {
    val day = 24 * 3600 * 1000L
    val t0 = java.time.Instant.parse("2021-03-01T00:00:00Z").toEpochMilli
    val rows = Seq(
      (t0, "'a'", "NULL", "10", "NULL"),
      (t0 + 3600000L, "'b'", "NULL", "20", "NULL"),
      (t0 + 2 * 3600000L, "'c'", "NULL", "30", "NULL"),
      (t0 + 3 * 3600000L, "'d'", "NULL", "40", "NULL"),
      (t0 + 4 * 3600000L, "'e'", "NULL", "50", "NULL"),
      (t0 + day, "'f'", "'US'", "NULL", "7"),
      (t0 + day + 3600000L, "'g'", "'DE'", "NULL", "8"),
      (t0 + day + 2 * 3600000L, "'h'", "'JP'", "NULL", "9"))
    rows.map { case (t, h, c, hits, clicks) =>
      s"(CAST($t AS BIGINT), $h, CAST($c AS VARCHAR), " +
        s"CAST($hits AS BIGINT), CAST($clicks AS BIGINT))"
    }.mkString(
      "SELECT * FROM (VALUES\n", ",\n",
      ") AS t(__time, host, country, hits, clicks)")
  }

  /** DSv2 GROUPED aggregate pushdown under the driver gate — Druid's
    * topN/groupBy-count shape: `GROUP BY host → count(*), min/max
    * (__time)` answered from the dim's inverted index (per-group count
    * = bitmap ∧ window cardinality; the dim's value chunks never
    * decompress — DruidSegmentsDataSourceSpec pins PushedGroupBy +
    * zero-decode). The WHERE clips the day-2 segment mid-window, so
    * the partial-coverage path (window row set off the __time column)
    * is under the hash gate too. */
  def druidGroupBy(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    import graft.sources.{DruidSegmentWriter => W}
    import org.apache.spark.sql.functions.{count, max, min}
    val day = 24 * 3600 * 1000L
    val hour = 3600000L
    val t0 = java.time.Instant.parse("2021-04-01T00:00:00Z").toEpochMilli
    val root = druidFixture("graft_druid_groupby", sfDir) { staging =>
      W.write(new java.io.File(staging, "gb/day1/v1/0"), "gb",
        (0 until 4).map(i => t0 + i * hour),
        Seq(W.StrDim("host", Seq("a", "a", "b", "c")),
          W.LongMet("hits", Seq(10L, 20L, 30L, 40L))),
        t0, t0 + day, version = "v1")
      W.write(new java.io.File(staging, "gb/day2/v1/0"), "gb",
        (0 until 3).map(i => t0 + day + i * hour),
        Seq(W.StrDim("host", Seq("a", "b", "b")),
          W.LongMet("hits", Seq(50L, 60L, 70L))),
        t0 + day, t0 + 2 * day, version = "v1")
    }
    spark.read.format("druid-segments")
      .option("dataSource", "gb")
      .load(root.getAbsolutePath)
      .where(col("__time") < t0 + day + hour + hour / 2) // clips day2 to rows 0-1
      .groupBy("host")
      .agg(count("*").as("n"), sum("hits").as("sum_hits"),
        min("__time").as("t_first"), max("__time").as("t_last"))
      .orderBy("host")
  }

  /** VALUES oracle from the fixture's known layout: day1 a@0h(10),
    * a@1h(20), b@2h(30), c@3h(40) + day2's unclipped rows a@24h(50),
    * b@25h(60). */
  val druidGroupBySql: String = {
    val day = 24 * 3600 * 1000L
    val hour = 3600000L
    val t0 = java.time.Instant.parse("2021-04-01T00:00:00Z").toEpochMilli
    val rows = Seq(
      ("a", 3L, 80L, t0, t0 + day),
      ("b", 2L, 90L, t0 + 2 * hour, t0 + day + hour),
      ("c", 1L, 40L, t0 + 3 * hour, t0 + 3 * hour))
    rows.map { case (h, n, s, lo, hi) =>
      s"('$h', CAST($n AS BIGINT), CAST($s AS BIGINT), " +
        s"CAST($lo AS BIGINT), CAST($hi AS BIGINT))"
    }.mkString(
      "SELECT * FROM (VALUES\n", ",\n",
      ") AS t(host, n, sum_hits, t_first, t_last) ORDER BY host")
  }

  /** MULTI-dim grouped-aggregate pushdown under the driver gate:
    * `GROUP BY (host, dc)` over two real segments — one carrying both
    * dims, one EVOLVED without `dc` (its rows land in dc's null
    * group) — with the second segment window-CLIPPED mid-interval.
    * Served by per-combo bitmap ANDs off the inverted indexes
    * (DruidSegmentsDataSourceSpec pins PushedGroupBy: [host, dc] and
    * zero row decode); the oracle is the fixture's known layout. */
  def druidGroupBy2(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    import graft.sources.{DruidSegmentWriter => W}
    import org.apache.spark.sql.functions.{count, sum}
    val day = 24 * 3600 * 1000L
    val hour = 3600000L
    val t0 = java.time.Instant.parse("2021-04-01T00:00:00Z").toEpochMilli
    val root = druidFixture("graft_druid_groupby2", sfDir) { staging =>
      W.write(new java.io.File(staging, "gb2/day1/v1/0"), "gb2",
        (0 until 5).map(i => t0 + i * hour),
        Seq(W.StrDim("host", Seq("a", "a", "b", "b", "c")),
          W.StrDim("dc", Seq("e", "w", "e", "w", "e")),
          W.LongMet("hits", Seq(10L, 20L, 30L, 40L, 50L))),
        t0, t0 + day, version = "v1")
      W.write(new java.io.File(staging, "gb2/day2/v1/0"), "gb2",
        (0 until 3).map(i => t0 + day + i * hour),
        Seq(W.StrDim("host", Seq("a", "b", "a")),
          W.LongMet("hits", Seq(60L, 70L, 80L))),
        t0 + day, t0 + 2 * day, version = "v1")
    }
    spark.read.format("druid-segments")
      .option("dataSource", "gb2")
      .load(root.getAbsolutePath)
      .where(col("__time") < t0 + day + hour + hour / 2) // clips day2 to rows 0-1
      .groupBy("host", "dc")
      .agg(count("*").as("n"), sum("hits").as("sum_hits"))
      .orderBy("host", "dc")
  }

  /** VALUES oracle from the fixture's known layout: day1's five
    * (host, dc) rows + day2's two unclipped rows in dc's null group. */
  val druidGroupBy2Sql: String = {
    val rows = Seq(
      ("'a'", "'e'", 1L, 10L), ("'a'", "'w'", 1L, 20L),
      ("'b'", "'e'", 1L, 30L), ("'b'", "'w'", 1L, 40L),
      ("'c'", "'e'", 1L, 50L),
      ("'a'", "NULL", 1L, 60L), ("'b'", "NULL", 1L, 70L))
    rows.map { case (h, dc, n, s) =>
      s"($h, CAST($dc AS VARCHAR), CAST($n AS BIGINT), CAST($s AS BIGINT))"
    }.mkString(
      "SELECT * FROM (VALUES\n", ",\n",
      ") AS t(host, dc, n, sum_hits) ORDER BY host, dc")
  }

  /** DSv2 WRITE path under the driver gate: a 3-day slice of `events`
    * is written as REAL Druid v9 DAY segments through
    * `df.write.format("druid-segments")` (a [[GateFixture]] built
    * once per sf), read
    * back through the DSv2 table, and aggregated per event_type. The
    * oracle computes the same aggregate from the ORIGINAL parquet in
    * DuckDB, so the whole write→publish→discover→decode chain gates on
    * value equality: any loss, duplication, or reorder in the writer's
    * chunking/sharding/commit protocol breaks the hash. */
  def druidWrite(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = druidFixture("graft_druid_write", sfDir) { staging =>
      Tables.events(spark, sfDir)
        .where(col("ts") >= lit("2024-01-05").cast("timestamp") &&
          col("ts") < lit("2024-01-08").cast("timestamp"))
        .select(unix_millis(col("ts")).as("__time"),
          col("event_type"), col("user_id"), col("value"))
        .write.format("druid-segments").mode("append")
        .option("dataSource", "events_rt")
        .option("segmentGranularity", "DAY")
        .option("version", "v1")
        .save(staging.getAbsolutePath)
    }
    spark.read.format("druid-segments")
      .option("dataSource", "events_rt")
      .load(root.getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Exact.dsum(col("value")).as("sum_value"),
        sum(col("user_id")).as("sum_uid"),
        min(col("__time")).as("t_min"),
        max(col("__time")).as("t_max"))
      .orderBy("event_type")
  }

  val druidWriteSql: String =
    s"""SELECT event_type, count(*) AS n,
       |  ${graft.queries.Exact.sqlSum("value")} AS sum_value,
       |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
       |  min(epoch_ms(ts)) AS t_min, max(epoch_ms(ts)) AS t_max
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-08'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** STREAMING ingestion into real Druid v9 segments under the driver
    * gate: the same 3-day events slice staged as 4 parquet files,
    * consumed one file per AvailableNow micro-batch, each batch
    * appending NEW SHARDS to the shared version "rt0"
    * (StreamingDruidIngest → appendShards — Druid's append-lock
    * realtime shape; batches accumulate, never overshadow). The read
    * back + aggregate must equal the one-shot batch write: any lost,
    * duplicated, or overshadowed batch breaks the hash vs the parquet
    * oracle. */
  def streamDruid(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val root = streamDruidFixture(spark, sfDir)
    spark.read.format("druid-segments")
      .option("dataSource", "events_rt_stream")
      .load(s"${root.getAbsolutePath}/deep")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Exact.dsum(col("value")).as("sum_value"),
        sum(col("user_id")).as("sum_uid"),
        min(col("__time")).as("t_min"),
        max(col("__time")).as("t_max"))
      .orderBy("event_type")
  }

  /** Build-once fixture: the 3-day events slice streamed into a Druid
    * deep store via 4 AvailableNow micro-batches (appendShards). */
  private def streamDruidFixture(spark: SparkSession, sfDir: String): java.io.File =
    druidFixture("graft_stream_druid", sfDir) { staging =>
      val stage = s"$staging/stage"
      Tables.events(spark, sfDir)
        .where(col("ts") >= lit("2024-01-05").cast("timestamp") &&
          col("ts") < lit("2024-01-08").cast("timestamp"))
        .select(unix_millis(col("ts")).as("__time"),
          col("event_type"), col("user_id"), col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(stage)
      val schema = spark.read.parquet(stage).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      graft.streaming.StreamingDruidIngest.start(
        src, root = s"$staging/deep", dataSource = "events_rt_stream",
        checkpoint = s"$staging/ckpt", segmentGranularity = "DAY",
        version = "rt0").awaitTermination()
    }

  /** Identical content to the one-shot write — the stream must land
    * the same rows, so the same parquet oracle applies. */
  val streamDruidSql: String = druidWriteSql

  /** STREAMING READ of a Druid datasource under the driver gate: tail
    * the stream-ingested deep store (`readStream.format(
    * "druid-segments")` — each micro-batch emits newly PUBLISHED
    * segments) into a parquet sink with AvailableNow, then aggregate
    * the sink. The tail must emit every published segment exactly
    * once, so the same parquet oracle applies end-to-end across the
    * full loop: parquet → streamed INTO Druid segments → streamed
    * back OUT → aggregate. */
  def druidTail(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val deep = s"${streamDruidFixture(spark, sfDir).getAbsolutePath}/deep"
    val root = druidFixture("graft_druid_tail", sfDir) { staging =>
      spark.readStream.format("druid-segments")
        .option("dataSource", "events_rt_stream").load(deep)
        .writeStream.format("parquet")
        .option("path", s"$staging/out")
        .option("checkpointLocation", s"$staging/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$staging/out/_spark_metadata"))
    }
    spark.read.parquet(s"$root/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Exact.dsum(col("value")).as("sum_value"),
        sum(col("user_id")).as("sum_uid"),
        min(col("__time")).as("t_min"),
        max(col("__time")).as("t_max"))
      .orderBy("event_type")
  }

  val druidTailSql: String = druidWriteSql

  /** Druid-deep-store VACUUM (kill task) under the driver gate: day 1
    * of the slice is written at v1 and then OVERWRITTEN at v2 (value
    * ×1 — identical content, fresh version), day 2 exists only at v1.
    * The vacuum must reclaim exactly the fully-overshadowed day-1 v1
    * shards — day 2's v1 survives — and the post-vacuum read must
    * still hash-match the parquet oracle (vacuum can never change
    * query results; a wrongly-killed partially-visible segment or a
    * survivor leak both break the gate). */
  def druidVacuum(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    import graft.sources.DruidDeepStorage
    val root = druidFixture("graft_druid_vacuum", sfDir) { staging =>
      val deep = s"$staging/deep"
      def slice(d0: String, d1: String) = Tables.events(spark, sfDir)
        .where(col("ts") >= lit(d0).cast("timestamp") &&
          col("ts") < lit(d1).cast("timestamp"))
        .select(unix_millis(col("ts")).as("__time"),
          col("event_type"), col("user_id"), col("value"))
      // v1: both days; v2: day 1 rewritten (identical rows, new version)
      slice("2024-01-10", "2024-01-12")
        .write.format("druid-segments").mode("append")
        .option("dataSource", "events_vac").option("segmentGranularity", "DAY")
        .option("version", "v1").save(deep)
      slice("2024-01-10", "2024-01-11")
        .write.format("druid-segments").mode("append")
        .option("dataSource", "events_vac").option("segmentGranularity", "DAY")
        .option("version", "v2").save(deep)
      val before = DruidDeepStorage.discover(spark, deep).size
      val killed = DruidDeepStorage.vacuum(spark, deep, "events_vac")
      val after = DruidDeepStorage.discover(spark, deep).size
      require(killed.nonEmpty && killed.forall(_.contains("/v1/")),
        s"vacuum must reclaim exactly the overshadowed v1 day-1 shards, got $killed")
      require(after == before - killed.size,
        s"discovery must lose exactly the killed segments: $before -> $after")
    }
    spark.read.format("druid-segments")
      .option("dataSource", "events_vac")
      .load(s"${root.getAbsolutePath}/deep")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Exact.dsum(col("value")).as("sum_value"),
        min(col("__time")).as("t_min"),
        max(col("__time")).as("t_max"))
      .orderBy("event_type")
  }

  val druidVacuumSql: String =
    s"""SELECT event_type, count(*) AS n,
       |  ${graft.queries.Exact.sqlSum("value")} AS sum_value,
       |  min(epoch_ms(ts)) AS t_min, max(epoch_ms(ts)) AS t_max
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-12'
       |GROUP BY event_type ORDER BY event_type""".stripMargin
}

package graft.queries

import graft.Tables
import graft.queries.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Druid-dialect queries over the `events` table — each entry is the
  * SAME JSON a Druid user would POST, compiled by [[DruidQueries]].
  * `ts` plays the role of Druid's __time.
  */
object EventQueries {

  private def ev(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)

  // -- timeseries: hourly counts + sums over an interval with a filter --

  val timeseriesJson: String =
    """{
      |  "queryType": "timeseries",
      |  "granularity": "hour",
      |  "intervals": ["2024-01-05T00:00:00Z/2024-01-20T00:00:00Z"],
      |  "filter": {"type": "in", "dimension": "event_type",
      |             "values": ["click", "purchase", "view"]},
      |  "aggregations": [
      |    {"type": "count", "name": "cnt"},
      |    {"type": "doubleSum", "name": "sum_value", "fieldName": "value"},
      |    {"type": "doubleMax", "name": "max_value", "fieldName": "value"}
      |  ]
      |}""".stripMargin

  def timeseries(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", timeseriesJson)

  val timeseriesSql: String =
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS __time,
       |  count(*) AS cnt,
       |  ${sqlSum("value")} AS sum_value,
       |  max(value) AS max_value
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
       |  AND event_type IN ('click', 'purchase', 'view')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- expression post-aggregator (Druid's modern post-agg form) --

  /** Daily timeseries with `expression` post-aggregators — Druid's
    * successor to arithmetic post-agg trees. Expression text is Spark
    * SQL's dialect (same documented deviation as virtualColumns); the
    * integer expression is exact by construction and the double one a
    * single correctly-rounded division, so both hash-match. */
  def postaggExpr(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts",
      """{
        |  "queryType": "timeseries",
        |  "granularity": "day",
        |  "aggregations": [
        |    {"type": "count", "name": "cnt"},
        |    {"type": "longSum", "name": "su", "fieldName": "user_id"}
        |  ],
        |  "postAggregations": [
        |    {"type": "expression", "name": "mix", "expression": "su * 2 + cnt"},
        |    {"type": "expression", "name": "avg_u",
        |     "expression": "cast(su as double) / cnt"}
        |  ]
        |}""".stripMargin)

  val postaggExprSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS __time,
      |  count(*) AS cnt,
      |  CAST(sum(user_id) AS BIGINT) AS su,
      |  CAST(sum(user_id) AS BIGINT) * 2 + count(*) AS mix,
      |  CAST(CAST(sum(user_id) AS BIGINT) AS DOUBLE) / count(*) AS avg_u
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // -- timeseries with duration granularity (15-minute buckets) --

  val timeseries15mJson: String =
    """{
      |  "queryType": "timeseries",
      |  "granularity": {"type": "period", "period": "PT15M"},
      |  "intervals": ["2024-01-10T00:00:00Z/2024-01-11T00:00:00Z"],
      |  "aggregations": [
      |    {"type": "count", "name": "cnt"},
      |    {"type": "longSum", "name": "sum_users", "fieldName": "user_id"}
      |  ]
      |}""".stripMargin

  def timeseries15m(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", timeseries15mJson)

  val timeseries15mSql: String = {
    val g = graft.model.Granularity.Duration(15L * 60 * 1000).sql("ts")
    s"""SELECT CAST($g AS TIMESTAMP) AS __time,
       |  count(*) AS cnt,
       |  CAST(sum(user_id) AS BIGINT) AS sum_users
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-11'
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // -- movingAverage: trailing 7-day averagers per event type --

  /** The movingAverage extension's query shape: per-event-type daily
    * series, 7-bucket trailing mean of the daily value sum and
    * trailing count. The warm-up (Jan 2–7) comes from real data —
    * events start Jan 1 — so every emitted window is complete. */
  val movingAvgJson: String =
    """{
      |  "queryType": "movingAverage",
      |  "granularity": "day",
      |  "intervals": ["2024-01-08T00:00:00Z/2024-01-25T00:00:00Z"],
      |  "dimensions": ["event_type"],
      |  "aggregations": [
      |    {"type": "count", "name": "cnt"},
      |    {"type": "doubleSum", "name": "sum_value", "fieldName": "value"}
      |  ],
      |  "averagers": [
      |    {"type": "doubleMean", "name": "avg7_value", "fieldName": "sum_value", "buckets": 7},
      |    {"type": "longSum", "name": "cnt7", "fieldName": "cnt", "buckets": 7}
      |  ]
      |}""".stripMargin

  def movingAvg(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", movingAvgJson)

  /** Mirror replays the warm-up extension (scan from Jan 2 = Jan 8
    * minus 6 granules), the zero-filled granule × event_type grid, the
    * DECIMAL-through-the-window trailing sums, and the final clip —
    * decimal window sums are association-independent, so DuckDB's
    * segment-tree window aggregation agrees bit-for-bit. */
  val movingAvgSql: String =
    """WITH d AS (
      |  SELECT date_trunc('day', ts) AS __time, event_type,
      |         count(*) AS cnt,
      |         sum(CAST(value AS DECIMAL(38,6))) AS sv
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-25'
      |  GROUP BY 1, 2),
      |grid AS (
      |  SELECT g.__time, c.event_type
      |  FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-02',
      |                 TIMESTAMP '2024-01-24', INTERVAL 1 DAY)) AS __time) g
      |  CROSS JOIN (SELECT DISTINCT event_type FROM d) c),
      |f AS (
      |  SELECT g.__time, g.event_type,
      |         coalesce(d.cnt, 0) AS cnt,
      |         coalesce(d.sv, CAST(0 AS DECIMAL(38,6))) AS sv
      |  FROM grid g LEFT JOIN d ON g.__time = d.__time AND g.event_type = d.event_type),
      |w AS (
      |  SELECT __time, event_type, cnt,
      |         CAST(CAST(sv AS VARCHAR) AS DOUBLE) AS sum_value,
      |         (CAST(CAST(sum(sv) OVER win AS VARCHAR) AS DOUBLE) / 7) AS avg7_value,
      |         sum(cnt) OVER win AS cnt7
      |  FROM f WINDOW win AS (PARTITION BY event_type ORDER BY __time
      |                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT CAST(__time AS TIMESTAMP) AS __time, event_type,
      |       cnt, sum_value, avg7_value, CAST(cnt7 AS BIGINT) AS cnt7
      |FROM w WHERE __time >= TIMESTAMP '2024-01-08'
      |ORDER BY __time, event_type""".stripMargin

  // -- trailing-window anomaly flags (z-score over daily sums) --

  /** Timeseries anomaly detection — the movingAverage extension's
    * real production use: per event type, each day's value sum scored
    * against the trailing-7-day mean/std of DAILY SUMS, |z| > 2
    * flagged. The second moment is the square of each day's sum
    * (computed AFTER the daily agg), not the day's sum of per-event
    * squares — the latter measures within-day spread and collapses
    * std7 to 0 under the mean7² subtraction. Both trailing moments
    * ride EXACT integer-scaled DECIMAL through the window frame
    * (Spark streams sliding frames, DuckDB segment-trees them — only
    * exact arithmetic makes the association order irrelevant), the
    * variance numerator 7·Σxᵢ²−(Σxᵢ)² stays decimal-exact (no
    * msq−mean² double cancellation — see the inline note on why the
    * double-squared image diverged at sf1), and the ONE chain of
    * correctly-rounded double ops (cast, √, ÷7·10⁶, z=(x−m)/σ) is
    * executed identically by both engines — the gate hash-matches z
    * itself, not just the flag, at every SF.
    * One partial-agg shuffle + a granule-count-bounded window. */
  def anomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // Integer-scaled moments: svi = sv·10⁶ as DECIMAL(19,0) — every
    // sum/square/subtract below is EXACT decimal arithmetic, so the
    // variance numerator N = 7·Σxᵢ² − (Σxᵢ)² (scaled 10¹²) never
    // touches a double until the final correctly-rounded cast + √.
    // The earlier dec(x·x) image broke at sf1: DuckDB's
    // double→DECIMAL conversion multiplies by 10^scale IN DOUBLE, so
    // past 2^53/10⁶ ≈ 9·10⁹ the last decimal digit diverges from
    // Spark's exact BigDecimal conversion, and msq − mean7² amplifies
    // that by the cancellation factor (~300 ulps of z at sf1).
    // Bounds: svi ≤ ~10¹⁵ at sf100 → squares ≤ 10³⁰, N ≤ 7·10³⁰,
    // comfortably inside DECIMAL(38,0).
    val daily = ev(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(sum(Exact.dec(col("value"))).as("sv"))
      .withColumn("x", col("sv").cast("double"))
      .withColumn("svi",
        (col("sv").cast(DecimalType(19, 6)) * lit(1000000L)).cast(DecimalType(19, 0)))
      .withColumn("sv2i", col("svi") * col("svi"))
    val win = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, 0)
    val seq = Window.partitionBy("event_type").orderBy("day")
    val m = (sum(col("sv")).over(win).cast("double") / 7.0).as("mean7")
    val nvar = (lit(7L) * sum(col("sv2i")).over(win) -
      sum(col("svi")).over(win).cast(DecimalType(19, 0)) *
        sum(col("svi")).over(win).cast(DecimalType(19, 0)))
    val scored = daily
      .withColumn("__rn", row_number().over(seq))
      .withColumn("mean7", m)
      // var = N/(49·10¹²) ⇒ σ = √N / (7·10⁶): one exact decimal→double
      // cast, one correctly-rounded √, one correctly-rounded divide —
      // bit-identical on any engine at any magnitude
      .withColumn("std7", sqrt(nvar.cast("double")) / lit(7000000.0))
      .filter(col("__rn") >= 7)
      .withColumn("z", when(col("std7") > 0.0,
        (col("x") - col("mean7")) / col("std7")).otherwise(lit(0.0)))
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
    scored.select(col("day"), col("event_type"), col("x"),
        col("mean7"), col("std7"), col("z"), col("is_anomaly"))
      .orderBy("day", "event_type")
  }

  val anomalySql: String =
    """WITH d0 AS (
      |  SELECT date_trunc('day', ts) AS day, event_type,
      |         sum(CAST(value AS DECIMAL(38,6))) AS sv
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT day, event_type, sv,
      |         CAST(CAST(sv AS VARCHAR) AS DOUBLE) AS x,
      |         CAST(CAST(sv AS DECIMAL(19,6)) * 1000000 AS DECIMAL(19,0)) AS svi
      |  FROM d0),
      |d2 AS (SELECT *, svi * svi AS sv2i FROM d),
      |w AS (
      |  SELECT day, event_type, x,
      |         CAST(CAST(sum(sv) OVER win AS VARCHAR) AS DOUBLE) / 7.0 AS mean7,
      |         7 * sum(sv2i) OVER win
      |           - CAST(sum(svi) OVER win AS DECIMAL(19,0))
      |             * CAST(sum(svi) OVER win AS DECIMAL(19,0)) AS nvar,
      |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM d2 WINDOW win AS (PARTITION BY event_type ORDER BY day
      |                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |s AS (
      |  SELECT day, event_type, x, mean7,
      |         sqrt(CAST(CAST(nvar AS VARCHAR) AS DOUBLE)) / 7000000.0 AS std7
      |  FROM w WHERE rn >= 7)
      |SELECT CAST(day AS TIMESTAMP) AS day, event_type, x, mean7, std7,
      |  CASE WHEN std7 > 0.0 THEN (x - mean7) / std7 ELSE 0.0 END AS z,
      |  CASE WHEN std7 > 0.0 THEN abs((x - mean7) / std7) > 2.0
      |       ELSE false END AS is_anomaly
      |FROM s ORDER BY day, event_type""".stripMargin

  // -- nested query dataSource: groupBy over a groupBy's result --

  /** Druid's filter-on-aggregate shape via a `query` dataSource: the
    * inner groupBy computes daily per-type value sums; the outer
    * keeps only "strong days" (numeric bound on the INNER AGGREGATE —
    * beyond what a having-spec on the outer could express) and
    * reaggregates per type. */
  val nestedQueryJson: String =
    """{
      |  "queryType": "groupBy",
      |  "dataSource": {"type": "query", "query": {
      |    "queryType": "groupBy",
      |    "granularity": "day",
      |    "intervals": ["2024-01-01T00:00:00Z/2024-02-01T00:00:00Z"],
      |    "dimensions": ["event_type"],
      |    "aggregations": [
      |      {"type": "count", "name": "cnt"},
      |      {"type": "doubleSum", "name": "day_value", "fieldName": "value"}
      |    ]
      |  }},
      |  "granularity": "all",
      |  "filter": {"type": "bound", "dimension": "day_value",
      |             "lower": "3200", "ordering": "numeric"},
      |  "dimensions": ["event_type"],
      |  "aggregations": [
      |    {"type": "longSum", "name": "n_events", "fieldName": "cnt"},
      |    {"type": "count", "name": "n_days"},
      |    {"type": "doubleMax", "name": "max_day", "fieldName": "day_value"}
      |  ],
      |  "limitSpec": {"type": "default",
      |    "columns": [{"dimension": "event_type", "direction": "ascending"}]}
      |}""".stripMargin

  def nestedQuery(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", nestedQueryJson)

  /** Inner day sums are decimal-exact doubles (identical bits), so
    * the outer's numeric bound keeps the same days in both engines;
    * count/longSum/max over them are exact. */
  val nestedQuerySql: String =
    """WITH i AS (
      |  SELECT date_trunc('day', ts) AS t, event_type,
      |         count(*) AS cnt,
      |         CAST(CAST(sum(CAST(value AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS day_value
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
      |  GROUP BY 1, 2)
      |SELECT event_type,
      |       CAST(sum(cnt) AS BIGINT) AS n_events,
      |       count(*) AS n_days,
      |       max(day_value) AS max_day
      |FROM i WHERE day_value >= 3200
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- join dataSource: broadcast enrichment join, Druid broker-style --

  /** Druid broker join: each event joined (broadcast) to its type's
    * global count — right side is a `query` dataSource, Druid's
    * "global datasource" contract = Spark's broadcast-hash shape —
    * then filtered on the JOINED aggregate and regrouped. */
  val druidJoinJson: String =
    """{
      |  "queryType": "groupBy",
      |  "dataSource": {"type": "join",
      |    "left": "events",
      |    "right": {"type": "query", "query": {
      |      "queryType": "groupBy", "granularity": "all",
      |      "dimensions": ["event_type"],
      |      "aggregations": [{"type": "count", "name": "cnt_type"}]}},
      |    "rightPrefix": "r_",
      |    "condition": "event_type == \"r_event_type\"",
      |    "joinType": "INNER"},
      |  "granularity": "all",
      |  "filter": {"type": "bound", "dimension": "r_cnt_type",
      |             "lower": "2000", "ordering": "numeric"},
      |  "dimensions": ["event_type"],
      |  "aggregations": [
      |    {"type": "count", "name": "n"},
      |    {"type": "longMax", "name": "type_total", "fieldName": "r_cnt_type"}
      |  ],
      |  "limitSpec": {"type": "default",
      |    "columns": [{"dimension": "event_type", "direction": "ascending"}]}
      |}""".stripMargin

  def druidJoin(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", druidJoinJson)

  val druidJoinSql: String =
    """WITH r AS (SELECT event_type, count(*) AS cnt_type
      |           FROM events GROUP BY 1)
      |SELECT e.event_type, count(*) AS n,
      |       CAST(max(r.cnt_type) AS BIGINT) AS type_total
      |FROM events e JOIN r ON e.event_type = r.event_type
      |WHERE r.cnt_type >= 2000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- lookup dataSource: a registered lookup as a join relation --

  /** `{type: lookup}` dataSource — Druid exposes every registered
    * lookup as a two-column (k, v) relation joinable on the broker;
    * here the catalog entry is renamed positionally to Druid's k/v
    * contract and broadcast like any join right side. Unmatched keys
    * survive the LEFT join with a NULL label (ordered NULLS FIRST on
    * both engines). */
  val lookupDsJson: String =
    """{
      |  "queryType": "groupBy",
      |  "dataSource": {"type": "join",
      |    "left": "events",
      |    "right": {"type": "lookup", "lookup": "type_labels"},
      |    "rightPrefix": "l_",
      |    "condition": "event_type == \"l_k\"",
      |    "joinType": "LEFT"},
      |  "granularity": "all",
      |  "dimensions": ["l_v"],
      |  "aggregations": [
      |    {"type": "count", "name": "n"},
      |    {"type": "longSum", "name": "su", "fieldName": "user_id"}
      |  ],
      |  "limitSpec": {"type": "default",
      |    "columns": [{"dimension": "l_v", "direction": "ascending"}]}
      |}""".stripMargin

  def lookupDs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val labels = Seq(("click", "Click-through"), ("view", "Impression"),
      ("purchase", "Conversion")).toDF("key", "label")
    DruidQueries.run(ev(spark, sfDir), "ts", lookupDsJson,
      Map("type_labels" -> labels))
  }

  val lookupDsSql: String =
    """WITH lk AS (SELECT * FROM (VALUES ('click', 'Click-through'),
      |    ('view', 'Impression'), ('purchase', 'Conversion')) AS t(k, v))
      |SELECT lk.v AS l_v, count(*) AS n,
      |  CAST(sum(e.user_id) AS BIGINT) AS su
      |FROM events e LEFT JOIN lk ON e.event_type = lk.k
      |GROUP BY lk.v ORDER BY l_v ASC NULLS FIRST""".stripMargin

  // -- inline dataSource join: enrichment without any table --

  /** Literal enrichment relation carried IN the query (Druid inline
    * dataSource) joined broadcast onto events, aggregated per tier. */
  val inlineJoinJson: String =
    """{
      |  "queryType": "groupBy",
      |  "dataSource": {"type": "join",
      |    "left": "events",
      |    "right": {"type": "inline",
      |      "columnNames": ["event_type", "tier"],
      |      "rows": [["click", "engage"], ["view", "engage"],
      |               ["purchase", "revenue"], ["signup", "revenue"],
      |               ["error", "ops"]]},
      |    "rightPrefix": "t_",
      |    "condition": "event_type == \"t_event_type\"",
      |    "joinType": "LEFT"},
      |  "granularity": "all",
      |  "dimensions": ["t_tier"],
      |  "aggregations": [
      |    {"type": "count", "name": "n"},
      |    {"type": "doubleSum", "name": "sum_value", "fieldName": "value"}
      |  ],
      |  "limitSpec": {"type": "default",
      |    "columns": [{"dimension": "t_tier", "direction": "ascending"}]}
      |}""".stripMargin

  def inlineJoin(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", inlineJoinJson)

  val inlineJoinSql: String =
    s"""WITH tiers(event_type, tier) AS (VALUES
       |  ('click', 'engage'), ('view', 'engage'),
       |  ('purchase', 'revenue'), ('signup', 'revenue'),
       |  ('error', 'ops'))
       |SELECT t.tier AS t_tier, count(*) AS n,
       |  ${sqlSum("value")} AS sum_value
       |FROM events e LEFT JOIN tiers t USING (event_type)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- topN: top event types by summed value --

  val topNJson: String =
    """{
      |  "queryType": "topN",
      |  "dimension": "event_type",
      |  "metric": "sum_value",
      |  "threshold": 3,
      |  "granularity": "all",
      |  "intervals": ["2024-01-01T00:00:00Z/2024-02-01T00:00:00Z"],
      |  "aggregations": [
      |    {"type": "count", "name": "cnt"},
      |    {"type": "doubleSum", "name": "sum_value", "fieldName": "value"}
      |  ]
      |}""".stripMargin

  def topN(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", topNJson)

  val topNSql: String =
    s"""SELECT event_type, count(*) AS cnt, ${sqlSum("value")} AS sum_value
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
       |GROUP BY event_type
       |ORDER BY sum_value DESC, event_type
       |LIMIT 3""".stripMargin

  // -- batch sessionization: 30-minute-gap sessions per user --

  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.Sessionize.batchSessions(
      ev(spark, sfDir), "user_id", "ts", gapMs = 30 * 60 * 1000L)
      .orderBy("user_id", "session_start_ms")

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
      |            > 1800000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  epoch_ms(min(ts)) AS session_start_ms,
      |  epoch_ms(max(ts)) AS session_end_ms,
      |  count(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start_ms""".stripMargin

  // -- granular topN: top-2 event types per DAY (Druid per-bucket top-K) --

  def topNDaily(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts",
      """{
        |  "queryType": "topN",
        |  "dimension": "event_type",
        |  "metric": "sum_value",
        |  "threshold": 2,
        |  "granularity": "day",
        |  "intervals": ["2024-01-01T00:00:00Z/2024-01-08T00:00:00Z"],
        |  "aggregations": [
        |    {"type": "count", "name": "cnt"},
        |    {"type": "doubleSum", "name": "sum_value", "fieldName": "value"}
        |  ]
        |}""".stripMargin)

  val topNDailySql: String =
    s"""SELECT __time, event_type, cnt, sum_value FROM (
       |  SELECT *, row_number() OVER (PARTITION BY __time
       |      ORDER BY sum_value DESC, event_type) AS rk
       |  FROM (
       |    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS __time, event_type,
       |      count(*) AS cnt, ${sqlSum("value")} AS sum_value
       |    FROM events
       |    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
       |    GROUP BY 1, 2))
       |WHERE rk <= 2
       |ORDER BY __time, sum_value DESC, event_type""".stripMargin

  // -- groupBy: dim × day granularity, having + limitSpec, filtered agg --

  val groupByJson: String =
    """{
      |  "queryType": "groupBy",
      |  "dimensions": ["event_type"],
      |  "granularity": "day",
      |  "intervals": ["2024-01-01T00:00:00Z/2024-01-15T00:00:00Z"],
      |  "filter": {"type": "not", "field":
      |    {"type": "selector", "dimension": "event_type", "value": "error"}},
      |  "aggregations": [
      |    {"type": "count", "name": "cnt"},
      |    {"type": "doubleSum", "name": "sum_value", "fieldName": "value"},
      |    {"type": "filtered",
      |     "filter": {"type": "bound", "dimension": "value", "lower": "100",
      |                "ordering": "numeric"},
      |     "aggregator": {"type": "count", "name": "big_cnt"}}
      |  ],
      |  "postAggregations": [
      |    {"type": "arithmetic", "name": "avg_value", "fn": "/",
      |     "fields": [{"type": "fieldAccess", "fieldName": "sum_value"},
      |                {"type": "fieldAccess", "fieldName": "cnt"}]}
      |  ],
      |  "having": {"type": "greaterThan", "aggregation": "cnt", "value": 5},
      |  "limitSpec": {"type": "default", "limit": 50, "columns": [
      |    {"dimension": "sum_value", "direction": "descending"}]}
      |}""".stripMargin

  def groupBy(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", groupByJson)

  val groupBySql: String =
    s"""WITH g AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS __time,
       |    count(*) AS cnt,
       |    ${sqlSum("value")} AS sum_value,
       |    count(CASE WHEN value >= 100 THEN 1 END) AS big_cnt
       |  FROM events
       |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
       |    AND NOT event_type = 'error'
       |  GROUP BY 1, 2)
       |SELECT event_type, __time, cnt, sum_value, big_cnt,
       |  sum_value / cnt AS avg_value
       |FROM g
       |WHERE cnt > 5
       |ORDER BY sum_value DESC, event_type
       |LIMIT 50""".stripMargin

  // -- scan with a deeply nested filter: full pushdown showcase --

  val scanJson: String =
    """{
      |  "queryType": "scan",
      |  "columns": ["event_id", "ts", "event_type", "value"],
      |  "intervals": ["2024-01-01T00:00:00Z/2024-01-08T00:00:00Z"],
      |  "filter": {"type": "and", "fields": [
      |    {"type": "or", "fields": [
      |      {"type": "selector", "dimension": "event_type", "value": "purchase"},
      |      {"type": "like", "dimension": "event_type", "pattern": "sign%"},
      |      {"type": "search", "dimension": "props",
      |       "query": {"type": "insensitive_contains", "value": "\"k\": 9"}}
      |    ]},
      |    {"type": "bound", "dimension": "value", "lower": "20", "upper": "180",
      |     "lowerStrict": false, "upperStrict": true, "ordering": "numeric"},
      |    {"type": "not", "field":
      |      {"type": "regex", "dimension": "event_type", "pattern": "^err"}}
      |  ]}
      |}""".stripMargin

  def scanFiltered(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", scanJson)

  val scanSql: String =
    """SELECT event_id, epoch_ms(ts) AS __time, event_type, value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
      |  AND (event_type = 'purchase' OR event_type LIKE 'sign%'
      |       OR contains(lower(props), '"k": 9'))
      |  AND value >= 20 AND value < 180
      |  AND NOT regexp_matches(event_type, '^err')""".stripMargin

  // -- search query --

  val searchJson: String =
    """{
      |  "queryType": "search",
      |  "searchDimensions": ["event_type", "props"],
      |  "query": {"type": "insensitive_contains", "value": "9"},
      |  "intervals": ["2024-01-01T00:00:00Z/2024-01-03T00:00:00Z"]
      |}""".stripMargin

  def search(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", searchJson)

  val searchSql: String =
    """SELECT * FROM (
      |  SELECT 'event_type' AS dimension, event_type AS value, count(*) AS count
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
      |    AND contains(lower(event_type), '9')
      |  GROUP BY event_type
      |  UNION ALL
      |  SELECT 'props' AS dimension, props AS value, count(*) AS count
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
      |    AND contains(lower(props), '9')
      |  GROUP BY props)
      |ORDER BY dimension, value""".stripMargin

  /** fragment + regex searchQuerySpecs (the two remaining Druid spec
    * types): fragment requires ALL needles, regex uses the Java ∩ RE2
    * common dialect so the DuckDB mirror is exact. One query runs
    * both shapes (union) to gate them together. */
  def searchSpecs(spark: SparkSession, sfDir: String): DataFrame = {
    val frag = DruidQueries.run(ev(spark, sfDir), "ts",
      """{
        |  "queryType": "search",
        |  "searchDimensions": ["props"],
        |  "query": {"type": "fragment", "values": ["1", "3"]},
        |  "intervals": ["2024-01-01T00:00:00Z/2024-01-03T00:00:00Z"]
        |}""".stripMargin)
      .withColumn("spec", lit("fragment"))
    val re = DruidQueries.run(ev(spark, sfDir), "ts",
      """{
        |  "queryType": "search",
        |  "searchDimensions": ["props"],
        |  "query": {"type": "regex", "pattern": "[0-9]{2}"},
        |  "intervals": ["2024-01-01T00:00:00Z/2024-01-03T00:00:00Z"]
        |}""".stripMargin)
      .withColumn("spec", lit("regex"))
    frag.unionByName(re).orderBy("spec", "dimension", "value")
  }

  val searchSpecsSql: String =
    """SELECT * FROM (
      |  SELECT 'props' AS dimension, props AS value, count(*) AS count,
      |         'fragment' AS spec
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
      |    AND contains(lower(props), '1') AND contains(lower(props), '3')
      |  GROUP BY props
      |  UNION ALL
      |  SELECT 'props' AS dimension, props AS value, count(*) AS count,
      |         'regex' AS spec
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
      |    AND regexp_matches(props, '[0-9]{2}')
      |  GROUP BY props)
      |ORDER BY spec, dimension, value""".stripMargin

  /** extractionFn INSIDE filters (Druid: selector/in/bound/like/regex
    * all take one): substring-selector AND strlen-numeric-bound,
    * through the timeseries compiler. */
  def extractionFilter(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts",
      """{
        |  "queryType": "timeseries",
        |  "granularity": "day",
        |  "filter": {"type": "and", "fields": [
        |    {"type": "selector", "dimension": "event_type", "value": "c",
        |     "extractionFn": {"type": "substring", "index": 0, "length": 1}},
        |    {"type": "bound", "dimension": "props", "lower": "9",
        |     "ordering": "numeric", "extractionFn": {"type": "strlen"}}
        |  ]},
        |  "aggregations": [
        |    {"type": "count", "name": "cnt"},
        |    {"type": "longSum", "name": "su", "fieldName": "user_id"}
        |  ]
        |}""".stripMargin)

  val extractionFilterSql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS __time,
      |  count(*) AS cnt, CAST(sum(user_id) AS BIGINT) AS su
      |FROM events
      |WHERE substring(event_type, 1, 1) = 'c' AND length(props) >= 9
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- timeBoundary --

  val timeBoundaryJson: String =
    """{"queryType": "timeBoundary"}""".stripMargin

  def timeBoundary(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", timeBoundaryJson)

  val timeBoundarySql: String =
    """SELECT epoch_ms(min(ts)) AS minTime, epoch_ms(max(ts)) AS maxTime
      |FROM events""".stripMargin

  // -- semi-structured props: JSON field extraction + aggregation --

  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    ev(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  val jsonExtractSql: String =
    """SELECT event_type,
      |  count(CAST(props::JSON->>'k' AS INT)) AS n_with_k,
      |  CAST(sum(CAST(props::JSON->>'k' AS INT)) AS BIGINT) AS sum_k,
      |  max(CAST(props::JSON->>'k' AS INT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- virtual columns: expression columns usable in filters + aggs --

  val virtualJson: String =
    """{
      |  "queryType": "timeseries",
      |  "granularity": "day",
      |  "intervals": ["2024-01-01T00:00:00Z/2024-01-10T00:00:00Z"],
      |  "virtualColumns": [
      |    {"type": "expression", "name": "gross", "expression": "value * (1 + 0.1)"}
      |  ],
      |  "filter": {"type": "bound", "dimension": "gross", "lower": "50",
      |             "ordering": "numeric"},
      |  "aggregations": [
      |    {"type": "count", "name": "cnt"},
      |    {"type": "doubleSum", "name": "sum_gross", "fieldName": "gross"}
      |  ]
      |}""".stripMargin

  def virtual(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", virtualJson)

  val virtualSql: String =
    s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS __time,
       |  count(*) AS cnt,
       |  ${Exact.sqlSum("value * (1 + 0.1)")} AS sum_gross
       |FROM events
       |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-10'
       |  AND value * (1 + 0.1) >= 50
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- scan ordering + paging (order by __time, deterministic tiebreak) --

  val scanPagedJson: String =
    """{
      |  "queryType": "scan",
      |  "columns": ["ts", "event_id", "event_type"],
      |  "intervals": ["2024-01-02T00:00:00Z/2024-01-03T00:00:00Z"],
      |  "order": "descending",
      |  "offset": 10,
      |  "limit": 25
      |}""".stripMargin

  def scanPaged(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", scanPagedJson)

  val scanPagedSql: String =
    """SELECT epoch_ms(ts) AS __time, event_id, event_type
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
      |ORDER BY __time DESC, event_id, event_type
      |LIMIT 25 OFFSET 10""".stripMargin

  // -- dimension extraction fns: substring + timeFormat + cascade --

  val extractionJson: String =
    """{
      |  "queryType": "groupBy",
      |  "dimensions": [
      |    {"type": "extraction", "dimension": "event_type",
      |     "outputName": "type_prefix",
      |     "extractionFn": {"type": "cascade", "extractionFns": [
      |       {"type": "substring", "index": 0, "length": 3},
      |       {"type": "upper"}]}},
      |    {"type": "extraction", "dimension": "__time",
      |     "outputName": "day_str",
      |     "extractionFn": {"type": "timeFormat", "format": "yyyy-MM-dd"}}
      |  ],
      |  "granularity": "all",
      |  "intervals": ["2024-01-01T00:00:00Z/2024-01-08T00:00:00Z"],
      |  "aggregations": [{"type": "count", "name": "cnt"}],
      |  "limitSpec": {"type": "default", "columns": [
      |    {"dimension": "day_str", "direction": "ascending"},
      |    {"dimension": "type_prefix", "direction": "ascending"}]}
      |}""".stripMargin

  def extraction(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", extractionJson)

  val extractionSql: String =
    """SELECT upper(substring(event_type, 1, 3)) AS type_prefix,
      |  strftime(ts, '%Y-%m-%d') AS day_str,
      |  count(*) AS cnt
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
      |GROUP BY 1, 2
      |ORDER BY day_str, type_prefix""".stripMargin

  // -- lookup extraction (Druid map lookup ≙ broadcast dim mapping) --

  val lookupJson: String =
    """{
      |  "queryType": "topN",
      |  "dimension": {"type": "extraction", "dimension": "event_type",
      |    "outputName": "type_group",
      |    "extractionFn": {"type": "lookup", "retainMissingValue": true,
      |      "lookup": {"type": "map", "map": {
      |        "click": "engagement", "view": "engagement",
      |        "purchase": "revenue", "signup": "growth"}}}},
      |  "metric": "cnt",
      |  "threshold": 10,
      |  "granularity": "all",
      |  "aggregations": [{"type": "count", "name": "cnt"}]
      |}""".stripMargin

  def lookup(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", lookupJson)

  val lookupSql: String =
    """SELECT CASE event_type
      |    WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
      |    WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
      |    ELSE event_type END AS type_group,
      |  count(*) AS cnt
      |FROM events
      |GROUP BY 1 ORDER BY cnt DESC, type_group LIMIT 10""".stripMargin

  // -- segmentMetadata --

  val segmentMetadataJson: String =
    """{"queryType": "segmentMetadata"}""".stripMargin

  def segmentMetadata(spark: SparkSession, sfDir: String): DataFrame =
    DruidQueries.run(ev(spark, sfDir), "ts", segmentMetadataJson)

  /** Oracle generated per column to mirror the one-pass unpivot. */
  val segmentMetadataSql: String = {
    val cols = Seq(
      ("event_id", "bigint", "CAST(event_id AS VARCHAR)"),
      ("event_type", "string", "event_type"),
      ("props", "string", "props"),
      ("ts", "timestamp", "CAST(epoch_ms(ts) AS VARCHAR)"),
      ("user_id", "bigint", "CAST(user_id AS VARCHAR)"),
      ("value", "double", "CAST(CAST(value AS DECIMAL(28,10)) AS VARCHAR)"))
    cols.map { case (name, tpe, canon) =>
      s"""SELECT '$name' AS "column", '$tpe' AS type,
         |  count(*) - count($name) AS nulls,
         |  count(DISTINCT $canon) AS cardinality,
         |  min($canon) AS min, max($canon) AS max
         |FROM events""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  // -- z-order layout: multi-dim clustering round-trip --

  /** Events re-laid-out on the Morton curve of (user_id, value), then
    * a two-dimension range filter + aggregate over the re-laid copy.
    * The oracle runs the same query over the ORIGINAL parquet — the
    * gate proves the layout permutes rows without changing content
    * (and the two-dim pruning win is spec-measured in ZOrderSpec by
    * touched-file counts). */
  def zorderQ(spark: SparkSession, sfDir: String): DataFrame = synchronized {
    val base = GateFixture.buildOnce("graft_zorder_v2", sfDir) { staging =>
      graft.operators.ZOrder.layout(ev(spark, sfDir),
          Seq("user_id", "value"), bits = 8, partitions = 8)
        .write.parquet(staging.getPath)
    }
    spark.read.parquet(base.getPath)
      .filter(col("user_id").between(100, 300) && col("value").between(50, 500))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val zorderSql: String =
    s"""SELECT event_type, count(*) AS cnt, ${sqlSum("value")} AS sum_value
       |FROM events
       |WHERE user_id BETWEEN 100 AND 300 AND value BETWEEN 50 AND 500
       |GROUP BY 1 ORDER BY 1""".stripMargin
}

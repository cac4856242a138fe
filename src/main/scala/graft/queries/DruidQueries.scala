package graft.queries

import graft.model.{Aggregators, DimFilter, Granularity}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Druid query JSON → DataFrame compiler.
  *
  * The reference ships Druid rows into MapReduce/Pig so users can run
  * Druid-style aggregations downstream (druid-mr/DruidInputFormat.java,
  * druid-pig/udfs). Here the *query dialect itself* is kept: a user
  * hands the same JSON they'd POST to a Druid broker — timeseries,
  * movingAverage, topN, groupBy, scan, search, timeBoundary,
  * segmentMetadata — and it
  * compiles to a declarative DataFrame plan that Catalyst optimizes
  * (filter/projection pushdown to parquet, partial aggregation,
  * TakeOrderedAndProject for topN — never a global sort).
  *
  * The input DataFrame is any "datasource": a raw table or a
  * SegmentStore scan. `timeCol` names its Druid __time column.
  */
object DruidQueries {

  def run(df0: DataFrame, timeCol: String, queryJson: String): DataFrame =
    run(df0, timeCol, queryJson, Map.empty)

  /** Run with a catalog of NAMED datasources: a string (or
    * {type: table}) dataSource whose name is in `catalog` resolves to
    * that DataFrame (its time column is also `timeCol`); unknown
    * names resolve to `df0`, the root datasource. This is how a join
    * query references a second table (`{"left": "events",
    * "right": "event_tiers", ...}`). */
  def run(df0: DataFrame, timeCol: String, queryJson: String,
          catalog: Map[String, DataFrame]): DataFrame =
    runParsed(df0, timeCol, JsonMethods.parse(queryJson) match {
      case o: JObject => o
      case x => throw new IllegalArgumentException(s"bad query $x")
    }, catalog)

  private def runParsed(df0: DataFrame, timeCol: String, q: JObject,
                        catalog: Map[String, DataFrame] = Map.empty): DataFrame = {
    // Composite dataSources (Druid nested queries and broker joins)
    // resolve first; the query then runs over the resolved DataFrame,
    // keyed by its emitted `__time` bucket column when it has one.
    //  - {type: query}: compile the inner query over the root
    //    datasource, run the outer over its RESULT (filter-on-
    //    aggregate / reaggregation beyond having-specs)
    //  - {type: join}: left ⋈ right on Druid's equality condition
    //    (`leftCol == "prefix.rightCol"`), right side BROADCAST —
    //    Druid only joins against global (memory-resident) right
    //    sides, which is exactly Spark's broadcast-hash shape
    //  - composes to any depth (a join's right is typically a query)
    resolveDataSource(df0, timeCol, q \ "dataSource", catalog) match {
      case Some(resolved) =>
        val outerTime = if (resolved.columns.contains("__time")) "__time" else timeCol
        return runParsed(resolved, outerTime,
          JObject(q.obj.filterNot(_._1 == "dataSource")), catalog)
      case None => ()
    }
    val queryType = (q \ "queryType") match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException("queryType missing")
    }
    // every interval-bearing type gets the UNconverted frame: `prepared`
    // filters its intervals on the raw time column, then converts it
    queryType match {
      case "timeseries" => timeseries(df0, timeCol, q)
      case "movingAverage" => movingAverage(df0, timeCol, q)
      case "topN" => topN(df0, timeCol, q)
      case "groupBy" => groupBy(df0, timeCol, q)
      case "scan" | "select" => scan(df0, timeCol, q)
      case "search" => search(df0, timeCol, q)
      case "timeBoundary" => timeBoundary(df0, timeCol, q)
      // a ms-long __time stays a plain max(long) → aggregate-pushdown-
      // eligible on DSv2 sources
      case "dataSourceMetadata" => dataSourceMetadata(df0, timeCol)
      // ignores intervals: conversion only
      case "segmentMetadata" => segmentMetadata(inIntervals(df0, timeCol, Nil), q)
      case other => throw new IllegalArgumentException(s"unsupported queryType $other")
    }
  }

  // ---- shared pieces ----

  /** intervals + virtualColumns + filter applied up front so they push
    * into the scan. Virtual columns use Spark SQL's expression dialect
    * (documented deviation from Druid's native expression language —
    * the common arithmetic/function subset is spelled identically). */
  private def prepared(df0: DataFrame, timeCol: String, q: JObject): DataFrame = {
    val inIvs = inIntervals(df0, timeCol, intervalBounds(q))
    val df = (q \ "virtualColumns") match {
      case JArray(vcs) => vcs.foldLeft(inIvs) { (d, vc) =>
        (vc \ "name", vc \ "expression") match {
          case (JString(n), JString(e)) => d.withColumn(n, expr(e))
          case _ => d
        }
      }
      case _ => inIvs
    }
    (q \ "filter") match {
      case JNothing | JNull => df
      case f => df.filter(DimFilter.fromJson(f).compile(df.schema))
    }
  }

  /** Rows of `df0` inside any of `ivs` (all rows when there are none),
    * with the time column as a timestamp. An epoch-millis LONG time
    * column (what SegmentStore scans and DruidSegmentReader emit) is
    * filtered BEFORE its conversion, as plain comparisons on the raw
    * column: the envelope `[min lo, max hi)` reaches a DSv2 scan as
    * exact `__time` bounds, so only the segments it overlaps are
    * planned. With several intervals the exact OR of them stays above
    * the scan. */
  private def inIntervals(df0: DataFrame, timeCol: String,
                          ivs: Seq[(Long, Long)]): DataFrame = {
    def within(ms: Column): Column = {
      val envelope = ms >= lit(ivs.map(_._1).min) && ms < lit(ivs.map(_._2).max)
      if (ivs.size == 1) envelope
      else envelope && ivs.map { case (lo, hi) => ms >= lit(lo) && ms < lit(hi) }.reduce(_ || _)
    }
    val isMillis = df0.schema.fields.exists(f => f.name == timeCol && f.dataType == LongType)
    val ms = if (isMillis) col(timeCol) else unix_millis(col(timeCol))
    val df = if (ivs.isEmpty) df0 else df0.filter(within(ms))
    if (isMillis) df.withColumn(timeCol, timestamp_millis(col(timeCol))) else df
  }

  private def aggCols(df: DataFrame, timeCol: String, q: JObject): Seq[Column] = {
    val aggs = (q \ "aggregations") match {
      case JArray(xs) => xs.map(Aggregators.aggFromJson)
      case _ => Nil
    }
    // Druid finalizes sketch aggs at result output — so an agg a
    // sketch-consuming post-agg references must stay the raw sketch,
    // not a premature estimate/median
    val keepRaw = sketchConsumedFields(q \ "postAggregations")
    aggs.map(a => Aggregators.compile(a, df.schema, timeCol,
      finalize = !keepRaw.contains(a.name)))
  }

  /** Names referenced through sketch-consuming post-aggregators
    * (ToQuantile / thetaSketchEstimate / hyperUniqueCardinality). */
  private def sketchConsumedFields(j: JValue): Set[String] = j match {
    case JArray(xs) => xs.flatMap(sketchConsumedFields).toSet
    case obj: JObject =>
      val tpe = (obj \ "type") match { case JString(s) => s; case _ => "" }
      val own: Set[String] = tpe match {
        case "quantilesDoublesSketchToQuantile" | "thetaSketchEstimate" =>
          (obj \ "field" \ "fieldName") match {
            case JString(s) => Set(s); case _ => Set.empty
          }
        case "hyperUniqueCardinality" =>
          (obj \ "fieldName") match { case JString(s) => Set(s); case _ => Set.empty }
        case _ => Set.empty
      }
      own ++ sketchConsumedFields(obj \ "fields") ++ sketchConsumedFields(obj \ "field")
    case _ => Set.empty
  }

  /** Group with the spec's aggregations; an empty `aggregations` list
    * is legal in Druid and degrades to the distinct group keys. */
  private def groupAgg(df: DataFrame, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    if (aggs.nonEmpty) df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    else df.select(keys: _*).distinct()

  /** post-aggregations appended as a projection over agg outputs. */
  private def withPostAggs(aggregated: DataFrame, q: JObject): DataFrame =
    (q \ "postAggregations") match {
      case JArray(xs) if xs.nonEmpty =>
        aggregated.select(col("*") +: xs.map(Aggregators.compilePostAgg): _*)
      case _ => aggregated
    }

  private def havingFilter(df: DataFrame, j: JValue): DataFrame = j match {
    case JNothing | JNull => df
    case h => df.filter(compileHaving(h, df.schema))
  }

  private def compileHaving(j: JValue, schema: org.apache.spark.sql.types.StructType): Column = j match {
    case obj: JObject =>
      def str(k: String) = (obj \ k) match { case JString(s) => Some(s); case _ => None }
      def num(k: String): Double = (obj \ k) match {
        case JInt(v) => v.toDouble
        case JLong(v) => v.toDouble
        case JDouble(v) => v
        case x => throw new IllegalArgumentException(s"bad having value $x")
      }
      str("type").get match {
        case "greaterThan" => col(str("aggregation").get) > lit(num("value"))
        case "lessThan" => col(str("aggregation").get) < lit(num("value"))
        case "equalTo" => col(str("aggregation").get) === lit(num("value"))
        case "dimSelector" => col(str("dimension").get) === lit(str("value").get)
        case "and" => subHavings(obj, schema).reduce(_ && _)
        case "or" => subHavings(obj, schema).reduce(_ || _)
        case "not" => !compileHaving(obj \ "havingSpec", schema)
        // havingSpec {type: filter}: ANY DimFilter evaluated over the
        // grouped result's columns (dims AND aggregates)
        case "filter" => DimFilter.fromJson(obj \ "filter").compile(schema)
        case other => throw new IllegalArgumentException(s"unsupported having $other")
      }
    case x => throw new IllegalArgumentException(s"bad having $x")
  }

  private def subHavings(obj: JObject,
                         schema: org.apache.spark.sql.types.StructType): Seq[Column] =
    (obj \ "havingSpecs") match {
      case JArray(xs) => xs.map(compileHaving(_, schema))
      case _ => Nil
    }

  /** limitSpec {type:default, limit, columns:[{dimension,direction}]} */
  private def applyLimitSpec(df: DataFrame, j: JValue, tiebreak: Seq[Column]): DataFrame = j match {
    case obj: JObject =>
      val ordered = (obj \ "columns") match {
        case JArray(xs) if xs.nonEmpty =>
          val cols = xs.collect { case c: JObject =>
            val d = (c \ "dimension") match { case JString(s) => s; case _ => "" }
            (c \ "direction") match {
              case JString("descending") | JString("DESC") => col(d).desc
              case _ => col(d).asc
            }
          }
          df.orderBy(cols ++ tiebreak: _*)
        case _ => df
      }
      (obj \ "limit") match {
        case JInt(n) => ordered.limit(n.toInt)
        case JLong(n) => ordered.limit(n.toInt)
        case _ => ordered
      }
    case _ => df
  }

  private def granularityOf(q: JObject): Granularity =
    Granularity.fromJson(q \ "granularity")

  private def intervalBounds(q: JObject): Seq[(Long, Long)] = (q \ "intervals") match {
    case JArray(xs) => xs.collect { case JString(s) =>
      val Array(a, b) = s.split("/")
      (java.time.Instant.parse(a).toEpochMilli, java.time.Instant.parse(b).toEpochMilli)
    }
    case _ => Nil
  }

  // ---- query types ----

  def timeseries(df0: DataFrame, timeCol: String, q: JObject): DataFrame = {
    val df = prepared(df0, timeCol, q)
    val aggs = aggCols(df, timeCol, q)
    val out = granularityOf(q) match {
      case Granularity.All =>
        if (aggs.nonEmpty) df.agg(aggs.head, aggs.tail: _*)
        else df.agg(count(lit(1)).as("__rows")).select() // one row, no columns
      case g =>
        val desc = (q \ "descending") match {
          case JBool(true) => true
          case _ => false
        }
        val grouped = groupAgg(df, Seq(g.bucket(col(timeCol)).as("__time")), aggs)
        // context.skipEmptyBuckets=false (Druid's own default): emit a
        // row for EVERY granule of the query intervals, zero-filling
        // counts/sums and nulling the rest. Engine default stays
        // "skip" (documented deviation) so plain queries don't carry a
        // grid join; the fill is a broadcast-able granule grid built
        // from sequence(), no extra scan of the data.
        val fillEmpty = (q \ "context" \ "skipEmptyBuckets") match {
          case JBool(false) => true
          case _ => false
        }
        val filled = if (!fillEmpty) grouped else {
          val ivs = intervalBounds(q)
          require(ivs.nonEmpty, "skipEmptyBuckets=false requires explicit intervals")
          val grid = ivs.map { case (lo, hi) =>
            df.sparkSession.range(1).select(explode(sequence(
              g.bucket(timestamp_millis(lit(lo))),
              timestamp_millis(lit(hi - 1)), g.step)).as("__raw"))
          }.reduce(_ union _)
            .select(g.bucket(col("__raw")).as("__time")).distinct()
          val aggSpecs = (q \ "aggregations") match {
            case JArray(xs) => xs.map(Aggregators.aggFromJson)
            case _ => Nil
          }
          val fills = aggSpecs.map { s => s.tpe match {
            case "count" | "longSum" => coalesce(col(s.name), lit(0L)).as(s.name)
            case "doubleSum" | "floatSum" => coalesce(col(s.name), lit(0.0)).as(s.name)
            case _ => col(s.name)
          }}
          grid.join(grouped, Seq("__time"), "left")
            .select(col("__time") +: fills: _*)
        }
        if (desc) filled.orderBy(col("__time").desc) else filled.orderBy(col("__time"))
    }
    withPostAggs(out, q)
  }

  /** Resolve a composite dataSource to a DataFrame, or None when the
    * spec names the root datasource (a plain string / table type not
    * present in the catalog — the caller-passed DataFrame IS that
    * table). */
  private def resolveDataSource(df0: DataFrame, timeCol: String, j: JValue,
                                catalog: Map[String, DataFrame]): Option[DataFrame] = j match {
    case JNothing | JNull => None
    case JString(name) => catalog.get(name)
    case o: JObject => (o \ "type") match {
      case JString("table") => (o \ "name") match {
        case JString(name) => catalog.get(name)
        case _ => None
      }
      case JString("query") =>
        val innerQ = (o \ "query") match {
          case q: JObject => q
          case x => throw new IllegalArgumentException(s"query dataSource missing query: $x")
        }
        Some(runParsed(df0, timeCol, innerQ, catalog))
      case JString("lookup") =>
        // {"type":"lookup","lookup":"name"} — the registered lookup as
        // a RELATION (Druid exposes every lookup as a two-column k/v
        // datasource, its broker-join form of LookupJoin). The catalog
        // entry must be a 2-column frame; columns are renamed to
        // Druid's contract (k, v) positionally.
        (o \ "lookup") match {
          case JString(name) =>
            val lk = catalog.getOrElse(name,
              throw new IllegalArgumentException(s"unknown lookup '$name'"))
            require(lk.columns.length == 2,
              s"lookup '$name' must have exactly 2 columns (k, v), " +
                s"got ${lk.columns.mkString(", ")}")
            Some(lk.toDF("k", "v"))
          case x => throw new IllegalArgumentException(s"bad lookup name $x")
        }
      case JString("inline") =>
        // {"type":"inline","columnNames":[...],"rows":[[...]]} — a
        // literal relation carried IN the query (Druid uses these for
        // small enrichment/join sides); numbers land as long/double,
        // strings as strings, null as null
        val names = (o \ "columnNames") match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _ => throw new IllegalArgumentException("inline dataSource needs columnNames")
        }
        val rows = (o \ "rows") match {
          case JArray(xs) => xs.map {
            case JArray(cells) =>
              require(cells.size == names.size,
                s"inline row arity ${cells.size} != ${names.size} columns")
              Row.fromSeq(cells.map {
                case JString(s) => s
                case JInt(n) => n.toLong
                case JLong(n) => n
                case JDouble(d) => d
                case JDecimal(d) => d.toDouble
                case JBool(b) => b
                case JNull => null
                case x => throw new IllegalArgumentException(s"bad inline cell $x")
              })
            case x => throw new IllegalArgumentException(s"bad inline row $x")
          }
          case _ => throw new IllegalArgumentException("inline dataSource needs rows")
        }
        require(rows.nonEmpty, "inline dataSource needs at least one row")
        val fields = names.zipWithIndex.map { case (n, i) =>
          val tpe = rows.iterator.map(_.get(i)).collectFirst {
            case v if v != null => v match {
              case _: String => StringType
              case _: java.lang.Long => LongType
              case _: java.lang.Double => DoubleType
              case _: java.lang.Boolean => BooleanType
            }
          }.getOrElse(StringType)
          StructField(n, tpe, nullable = true)
        }
        Some(df0.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(rows).asJava),
          StructType(fields)))
      case JString("join") =>
        def side(k: String): DataFrame =
          resolveDataSource(df0, timeCol, o \ k, catalog).getOrElse(df0)
        val left = side("left")
        val prefix = (o \ "rightPrefix") match {
          case JString(p) if p.nonEmpty => p
          case _ => throw new IllegalArgumentException("join dataSource requires rightPrefix")
        }
        require(!prefix.contains("."),
          s"rightPrefix '$prefix' contains '.', which collides with struct field " +
            "syntax in downstream column references — use e.g. an underscore prefix")
        val right = side("right")
        val renamed = right.columns.foldLeft(right)((d, c) =>
          d.withColumnRenamed(c, prefix + c))
        val joinType = (o \ "joinType") match {
          case JString(t) => t.toUpperCase match {
            case "INNER" => "inner"
            case "LEFT" => "left"
            case other => throw new IllegalArgumentException(s"unsupported joinType $other")
          }
          case _ => "inner"
        }
        val condStr = (o \ "condition") match {
          case JString(c) => c
          case x => throw new IllegalArgumentException(s"join dataSource missing condition: $x")
        }
        // Druid's join condition language restricted to what Druid
        // itself executes efficiently: conjunctions of equalities
        // `leftCol == "rightRef"` (the right reference is a quoted
        // prefix.column / prefixcolumn string)
        val eq = """\s*([A-Za-z_][A-Za-z0-9_]*)\s*==\s*"([^"]+)"\s*""".r
        val conds = condStr.split("&&").toSeq.map {
          case eq(l, r) =>
            val rcol = if (r.startsWith(prefix)) r else prefix + r
            require(renamed.columns.contains(rcol),
              s"join condition references unknown right column $r (resolved $rcol)")
            left(l) === renamed(rcol)
          case other => throw new IllegalArgumentException(
            s"unsupported join condition clause '$other' (need leftCol == \"${prefix}col\")")
        }
        // right side is a Druid GLOBAL datasource by contract → broadcast
        Some(left.join(broadcast(renamed), conds.reduce(_ && _), joinType))
      case JString("union") =>
        val parts = (o \ "dataSources") match {
          case JArray(xs) if xs.nonEmpty =>
            xs.map(x => resolveDataSource(df0, timeCol, x, catalog).getOrElse(df0))
          case _ => throw new IllegalArgumentException("union dataSource needs dataSources")
        }
        // Druid union-by-column-name with null fill for mismatches
        Some(parts.reduce(_.unionByName(_, allowMissingColumns = true)))
      case JString(other) =>
        throw new IllegalArgumentException(s"unsupported dataSource type $other")
      case _ => None
    }
    case x => throw new IllegalArgumentException(s"bad dataSource $x")
  }

  /** Druid `movingAverage` query (the movingAverage contrib
    * extension): an inner granular groupBy, zero-filled onto the
    * granule grid per observed dimension combination, then
    * trailing-`buckets` window averagers. Like the extension, the
    * scanned interval is extended backward by (maxBuckets−1) granules
    * so the first requested bucket sees a complete window, and the
    * output is clipped back to the requested intervals. `postAveragers`
    * compile through the same arithmetic as postAggregations.
    *
    * Cross-engine exactness: doubleSum inner aggregations stay
    * DECIMAL(38,6) *through the window frame* — Spark streams sliding
    * frames while DuckDB aggregates them via segment trees, so a
    * double window sum would associate (and round) differently — and
    * cast to double once at output.
    *
    * Scale shape: one shuffle for the inner groupBy (partial-agg,
    * map-side combined), the generated granule grid joined on
    * (__time, dims) (granules × observed combos — AQE broadcasts when
    * small), one window shuffle partitioned by dims whose partitions
    * hold granule-count-bounded series, never raw rows. No driver
    * collects. Deviation (documented): tz-aware granularities and
    * cycleSize/shiftBack averager options are unsupported. */
  def movingAverage(df0: DataFrame, timeCol: String, q: JObject): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = granularityOf(q)
    val origIvs = intervalBounds(q)
    require(origIvs.nonEmpty, "movingAverage requires intervals")
    case class Averager(tpe: String, name: String, fieldName: String, buckets: Int)
    val averagers: Seq[Averager] = (q \ "averagers") match {
      case JArray(xs) if xs.nonEmpty => xs.map {
        case o: JObject =>
          def s(k: String): String = (o \ k) match {
            case JString(v) => v
            case _ => throw new IllegalArgumentException(s"averager missing $k")
          }
          val b = (o \ "buckets") match {
            case JInt(n) => n.toInt
            case JLong(n) => n.toInt
            case _ => throw new IllegalArgumentException("averager missing buckets")
          }
          require(b >= 1, "averager buckets must be >= 1")
          Averager(s("type"), s("name"), s("fieldName"), b)
        case x => throw new IllegalArgumentException(s"bad averager $x")
      }
      case _ => throw new IllegalArgumentException("movingAverage requires averagers")
    }
    // warm-up: rescan (maxBuckets-1) granules before each interval so
    // the first emitted bucket's trailing window is complete — the
    // extension adjusts its interval the same way
    val warm = averagers.map(_.buckets).max - 1
    val extIvs = origIvs.map { case (lo, hi) => (minusGranules(g, lo, warm), hi) }
    val q2 = JObject(q.obj.filterNot(_._1 == "intervals") :+
      ("intervals" -> (JArray(extIvs.map { case (lo, hi) =>
        JString(s"${java.time.Instant.ofEpochMilli(lo)}/${java.time.Instant.ofEpochMilli(hi)}")
      }.toList): JValue)))
    val df = prepared(df0, timeCol, q2)
    val dims: Seq[graft.model.DimensionSpec.Dim] = (q \ "dimensions") match {
      case JArray(xs) => xs.map(graft.model.DimensionSpec.fromJson(_, timeCol))
      case _ => Nil
    }
    val exploded = dims.foldLeft(df) { (d, dim) =>
      d.schema.fields.find(_.name == dim.baseName) match {
        case Some(f) if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
          d.withColumn(dim.baseName, explode_outer(col(dim.baseName)))
        case _ => d
      }
    }
    val aggSpecs = (q \ "aggregations") match {
      case JArray(xs) => xs.map(Aggregators.aggFromJson)
      case _ => Nil
    }
    require(aggSpecs.nonEmpty, "movingAverage requires aggregations")
    val decimalAggs = aggSpecs.collect {
      case s if s.tpe == "doubleSum" || s.tpe == "floatSum" => s.name
    }.toSet
    val inner: Seq[Column] = aggSpecs.map { s =>
      def f = col(s.fieldName)
      (s.tpe match {
        case "count" => count(lit(1))
        case "longSum" => coalesce(sum(f.cast("long")), lit(0L))
        case "doubleSum" | "floatSum" => sum(Exact.dec(f))
        case "longMin" => min(f.cast("long"))
        case "longMax" => max(f.cast("long"))
        case "doubleMin" | "floatMin" => min(f.cast("double"))
        case "doubleMax" | "floatMax" => max(f.cast("double"))
        case other => throw new IllegalArgumentException(
          s"movingAverage supports simple inner aggregators, not $other")
      }).as(s.name)
    }
    val dimCols = dims.map(d => d.column.as(d.outputName))
    val dimNames = dims.map(_.outputName)
    val grouped = groupAgg(exploded,
      g.bucket(col(timeCol)).as("__time") +: dimCols, inner)
    val spark = df0.sparkSession
    val granules = extIvs.map { case (lo, hi) =>
      spark.range(1).select(explode(sequence(
        g.bucket(timestamp_millis(lit(lo))),
        timestamp_millis(lit(hi - 1)), g.step)).as("__raw"))
    }.reduce(_ union _)
      .select(g.bucket(col("__raw")).as("__time")).distinct()
    val grid =
      if (dims.isEmpty) granules
      else granules.crossJoin(grouped.select(dimNames.map(col): _*).distinct())
    val fills: Seq[Column] = aggSpecs.map { s =>
      s.tpe match {
        case "count" | "longSum" => coalesce(col(s.name), lit(0L)).as(s.name)
        case "doubleSum" | "floatSum" =>
          coalesce(col(s.name), lit(0).cast(Exact.Dec)).as(s.name)
        case _ => col(s.name) // min/max of an empty bucket stays null
      }
    }
    val filled = grid.join(grouped, Seq("__time") ++ dimNames, "left")
      .select((col("__time") +: dimNames.map(col)) ++ fills: _*)
    val base = Window.partitionBy(dimNames.map(col): _*).orderBy(col("__time"))
    def frame(b: Int) = base.rowsBetween(-(b - 1), Window.currentRow)
    val avgCols: Seq[Column] = averagers.map { a =>
      require(aggSpecs.exists(_.name == a.fieldName),
        s"averager ${a.name} references unknown aggregation ${a.fieldName}")
      val f = col(a.fieldName)
      (a.tpe match {
        case "doubleMean" =>
          sum(f).over(frame(a.buckets)).cast("double") / lit(a.buckets.toDouble)
        case "doubleSum" => sum(f).over(frame(a.buckets)).cast("double")
        case "doubleMax" => max(f.cast("double")).over(frame(a.buckets))
        case "doubleMin" => min(f.cast("double")).over(frame(a.buckets))
        case "longSum" => sum(f.cast("long")).over(frame(a.buckets))
        case "longMax" => max(f.cast("long")).over(frame(a.buckets))
        case "longMin" => min(f.cast("long")).over(frame(a.buckets))
        case other => throw new IllegalArgumentException(
          s"unsupported averager type $other")
      }).as(a.name)
    }
    val exposed: Seq[Column] = aggSpecs.map { s =>
      if (decimalAggs.contains(s.name)) col(s.name).cast("double").as(s.name)
      else col(s.name)
    }
    val withAvg = filled.select(
      (col("__time") +: dimNames.map(col)) ++ exposed ++ avgCols: _*)
    val inOrig = origIvs.map { case (lo, hi) =>
      col("__time") >= g.bucket(timestamp_millis(lit(lo))) &&
        col("__time") < timestamp_millis(lit(hi))
    }.reduce(_ || _)
    val clipped = withAvg.filter(inOrig)
    val post = (q \ "postAveragers") match {
      case JArray(xs) if xs.nonEmpty =>
        clipped.select(col("*") +: xs.map(Aggregators.compilePostAgg): _*)
      case _ => clipped
    }
    post.orderBy(col("__time") +: dimNames.map(col): _*)
  }

  /** Start of the granule `k` steps before the one containing `ms`
    * (JVM time math, for the movingAverage warm-up extension). */
  private def minusGranules(g: Granularity, ms: Long, k: Int): Long = g match {
    case Granularity.Duration(step, origin) =>
      ms - Math.floorMod(ms - origin, step) - k.toLong * step
    case Granularity.Calendar(unit, scala.None) =>
      import java.time._
      import java.time.temporal.{ChronoUnit, TemporalAdjusters}
      val z = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC)
      val start = unit match {
        case "second" => z.truncatedTo(ChronoUnit.SECONDS)
        case "minute" => z.truncatedTo(ChronoUnit.MINUTES)
        case "hour" => z.truncatedTo(ChronoUnit.HOURS)
        case "day" => z.truncatedTo(ChronoUnit.DAYS)
        case "week" => z.truncatedTo(ChronoUnit.DAYS)
          .`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
        case "month" => z.truncatedTo(ChronoUnit.DAYS).withDayOfMonth(1)
        case "quarter" => z.truncatedTo(ChronoUnit.DAYS)
          .withDayOfMonth(1).withMonth(((z.getMonthValue - 1) / 3) * 3 + 1)
        case "year" => z.truncatedTo(ChronoUnit.DAYS).withDayOfYear(1)
        case other => throw new IllegalArgumentException(
          s"movingAverage warm-up unsupported for calendar unit $other")
      }
      val back = unit match {
        case "second" => start.minusSeconds(k)
        case "minute" => start.minusMinutes(k)
        case "hour" => start.minusHours(k)
        case "day" => start.minusDays(k)
        case "week" => start.minusWeeks(k)
        case "month" => start.minusMonths(k)
        case "quarter" => start.minusMonths(3L * k)
        case "year" => start.minusYears(k)
      }
      back.toInstant.toEpochMilli
    case other => throw new IllegalArgumentException(
      s"movingAverage requires a stepped granularity, got $other")
  }

  def topN(df0: DataFrame, timeCol: String, q: JObject): DataFrame = {
    val df = prepared(df0, timeCol, q)
    val dimSpec = graft.model.DimensionSpec.fromJson(q \ "dimension", timeCol)
    val dim = dimSpec.outputName
    val (metric, inverted, byDimension) = (q \ "metric") match {
      case JString(s) => (s, false, false)
      case o: JObject => (o \ "type") match {
        case JString("inverted") => (o \ "metric") match {
          case JString(s) => (s, true, false)
          case _ => throw new IllegalArgumentException("inverted metric needs metric")
        }
        case JString("dimension") => ("", false, true)
        case _ => (o \ "metric") match {
          case JString(s) => (s, false, false)
          case x => throw new IllegalArgumentException(s"bad metric $x")
        }
      }
      case x => throw new IllegalArgumentException(s"bad metric $x")
    }
    val threshold = (q \ "threshold") match {
      case JInt(n) => n.toInt
      case JLong(n) => n.toInt
      case _ => 10
    }
    val aggs = aggCols(df, timeCol, q)
    // groupBy + TakeOrderedAndProject: partial aggs map-side, then only
    // the per-partition top-k reach the driver-side merge — no full sort.
    val ordering =
      if (byDimension) Seq(col(dim).asc)
      else if (inverted) Seq(col(metric).asc, col(dim).asc)
      else Seq(col(metric).desc, col(dim).asc)
    granularityOf(q) match {
      // an absent granularity (None_) means "all" for topN — Druid
      // requires the field; treat the omission as the global top-K
      case Granularity.All | Granularity.None_ =>
        // post-aggs are projected BEFORE ranking: Druid allows `metric`
        // to name a post-aggregator, and empty `aggregations` is legal
        val grouped = withPostAggs(groupAgg(df, Seq(dimSpec.column.as(dim)), aggs), q)
        if (!byDimension)
          require(grouped.columns.contains(metric),
            s"topN metric '$metric' names neither an aggregator nor a post-aggregator")
        grouped.orderBy(ordering: _*).limit(threshold)
      case g =>
        // granular topN = Druid's per-time-bucket top-K: rank within
        // each bucket (window partitioned by bucket — parallel across
        // buckets, no global sort), keep `threshold` rows per bucket
        val grouped = withPostAggs(
          groupAgg(df, Seq(g.bucket(col(timeCol)).as("__time"), dimSpec.column.as(dim)), aggs), q)
        if (!byDimension)
          require(grouped.columns.contains(metric),
            s"topN metric '$metric' names neither an aggregator nor a post-aggregator")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__time")).orderBy(ordering: _*)
        grouped.withColumn("__rank", row_number().over(w))
          .filter(col("__rank") <= threshold)
          .drop("__rank")
          .orderBy(col("__time") +: ordering: _*)
    }
  }

  def groupBy(df0: DataFrame, timeCol: String, q: JObject): DataFrame = {
    val df = prepared(df0, timeCol, q)
    val dims: Seq[graft.model.DimensionSpec.Dim] = (q \ "dimensions") match {
      case JArray(xs) => xs.map(graft.model.DimensionSpec.fromJson(_, timeCol))
      case _ => Nil
    }
    val aggs = aggCols(df, timeCol, q)
    // Multi-value dims get Druid groupBy semantics: each value of the
    // array becomes its own group (unnest), per Druid's docs —
    // extractionFns then apply per value. explode_outer, not explode:
    // Druid groups rows with a NULL or empty multi-value dim under the
    // NULL group rather than dropping them.
    val exploded = dims.foldLeft(df) { (d, dim) =>
      d.schema.fields.find(_.name == dim.baseName) match {
        case Some(f) if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
          d.withColumn(dim.baseName, explode_outer(col(dim.baseName)))
        case _ => d
      }
    }
    val dimCols = dims.map(d => d.column.as(d.outputName))
    val keyCols = granularityOf(q) match {
      case Granularity.All => dimCols
      case g => dimCols :+ g.bucket(col(timeCol)).as("__time")
    }
    // subtotalsSpec (Druid groupBy v2): named dim subsets → ONE pass
    // via Catalyst grouping sets (Expand), not a union of re-scans;
    // dims absent from a subset surface as NULL, like Druid. The time
    // bucket (if granular) stays in every set. Dim/time expressions
    // are projected FIRST so the sets reference plain attributes —
    // grouping-set matching is by attribute, and aliased expressions
    // would not resolve against the grouping keys.
    val grouped = (q \ "subtotalsSpec") match {
      case JArray(sets) if sets.nonEmpty =>
        require(aggs.nonEmpty, "subtotalsSpec requires aggregations")
        val names = dims.map(_.outputName) ++
          (if (keyCols.size > dimCols.size) Seq("__time") else Nil)
        val base = names.zip(keyCols).foldLeft(exploded) { (d, p) => d.withColumn(p._1, p._2) }
        val timeKey = if (names.contains("__time")) Seq(col("__time")) else Nil
        val groupingSets: Seq[Seq[Column]] = sets.map {
          case JArray(ns) => ns.collect { case JString(s) => col(s) } ++ timeKey
          case x => throw new IllegalArgumentException(s"bad subtotals entry $x")
        }
        base.groupingSets(groupingSets, names.map(col): _*).agg(aggs.head, aggs.tail: _*)
      case _ => groupAgg(exploded, keyCols, aggs)
    }
    val havinged = havingFilter(withPostAggs(grouped, q), q \ "having")
    applyLimitSpec(havinged, q \ "limitSpec", dims.map(d => col(d.outputName).asc))
  }

  def scan(df0: DataFrame, timeCol: String, q: JObject): DataFrame = {
    val df = prepared(df0, timeCol, q)
    val projected = (q \ "columns") match {
      case JArray(xs) if xs.nonEmpty =>
        val names = xs.collect { case JString(s) => s }
        df.select(names.map {
          case `timeCol` => unix_millis(col(timeCol)).as("__time")
          case c => col(c)
        }: _*)
      case _ => df.withColumn("__time", unix_millis(col(timeCol))).drop(timeCol)
    }
    // Druid scan "order" is by __time; remaining projected columns act
    // as an engine-defined stable tiebreak so paging is deterministic
    // (Druid's own within-timestamp order is segment-dependent).
    val ordered = (q \ "order") match {
      case JString(dir) if dir == "ascending" || dir == "descending" =>
        val others = projected.columns.filter(_ != "__time").map(col(_).asc)
        val timeOrd = if (dir == "ascending") col("__time").asc else col("__time").desc
        projected.orderBy(timeOrd +: others.toSeq: _*)
      case _ => projected
    }
    val offsetted = (q \ "offset") match {
      case JInt(n) => ordered.offset(n.toInt)
      case JLong(n) => ordered.offset(n.toInt)
      case _ => ordered
    }
    (q \ "limit") match {
      // a limit without order is nondeterministic; Druid scan is too —
      // callers wanting determinism order first
      case JInt(n) => offsetted.limit(n.toInt)
      case JLong(n) => offsetted.limit(n.toInt)
      case _ => offsetted
    }
  }

  def search(df0: DataFrame, timeCol: String, q: JObject): DataFrame = {
    val df = prepared(df0, timeCol, q)
    val dims: Seq[String] = (q \ "searchDimensions") match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => df.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
      }.toSeq
    }
    // searchQuerySpec → per-value predicate builder. Druid's three
    // spec types: contains / insensitive_contains (one needle),
    // fragment (ALL needles must appear), regex (java.util.regex —
    // Druid's SearchQuerySpec is JDK-regex too, so rlike matches).
    val matchPred: Column => Column = (q \ "query") match {
      case o: JObject =>
        def cs: Boolean = (o \ "caseSensitive") match {
          case JBool(b) => b; case _ => false
        }
        def one(c: Column, v: String, sensitive: Boolean): Column =
          if (sensitive) c.contains(lit(v))
          else lower(c).contains(lit(v.toLowerCase))
        (o \ "type") match {
          case JString("fragment") =>
            val vals = (o \ "values") match {
              case JArray(xs) => xs.collect { case JString(s) => s }
              case _ => throw new IllegalArgumentException("fragment needs values")
            }
            require(vals.nonEmpty, "fragment needs at least one value")
            c => vals.map(v => one(c, v, cs)).reduce(_ && _)
          case JString("regex") =>
            val pat = (o \ "pattern") match {
              case JString(s) => s
              case _ => throw new IllegalArgumentException("regex needs pattern")
            }
            c => c.rlike(pat)
          case JString("contains") =>
            val v = (o \ "value") match { case JString(s) => s; case _ => "" }
            val sensitive = (o \ "caseSensitive") match {
              case JBool(b) => b; case _ => true
            }
            c => one(c, v, sensitive)
          case _ =>
            val v = (o \ "value") match { case JString(s) => s; case _ => "" }
            c => one(c, v, sensitive = false)
        }
      case _ => c => lower(c).contains(lit(""))
    }
    val perDim = dims.map { d =>
      // multi-value dims: Druid search matches ANY value of the array
      // and counts per matched value — explode first, then as strings
      val base = df.schema.fields.find(_.name == d) match {
        case Some(f) if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
          df.select(explode(col(d)).as(d))
        case _ => df
      }
      base.filter(matchPred(col(d)))
        .groupBy(col(d).as("value"))
        .agg(count(lit(1)).as("count"))
        .select(lit(d).as("dimension"), col("value"), col("count"))
    }
    val sorted = (q \ "sort" \ "type") match {
      case JString("strlen") =>
        perDim.reduce(_ unionAll _)
          .orderBy(col("dimension"), length(col("value")), col("value"))
      case _ =>
        perDim.reduce(_ unionAll _).orderBy(col("dimension"), col("value"))
    }
    sorted
  }

  /** min/max __time as epoch-millis (the engine's canonical __time).
    * `bound: minTime|maxTime` narrows to one side, per Druid. */
  /** Druid dataSourceMetadata query: the ingestion watermark —
    * maxIngestedEventTime, the newest event __time present in the
    * datasource (druid.apache.org native query #8; the reference's
    * ingestion loop polls it to decide what to pull next). Takes no
    * filter/interval by Druid's contract. Compiles to a single
    * partial-agg max over the time column — on a DSv2 Druid
    * datasource the max(__time) aggregate pushes down to the segment
    * header (zero row decode). */
  def dataSourceMetadata(df: DataFrame, timeCol: String): DataFrame = {
    val m = df.schema.fields.find(_.name == timeCol) match {
      case Some(f) if f.dataType == LongType => max(col(timeCol))
      case _ => unix_millis(max(col(timeCol)))
    }
    df.agg(m.as("maxIngestedEventTime"))
  }

  def timeBoundary(df0: DataFrame, timeCol: String, q: JObject): DataFrame = {
    val df = prepared(df0, timeCol, q)
    (q \ "bound") match {
      case JString("minTime") => df.agg(unix_millis(min(col(timeCol))).as("minTime"))
      case JString("maxTime") => df.agg(unix_millis(max(col(timeCol))).as("maxTime"))
      case _ =>
        df.agg(unix_millis(min(col(timeCol))).as("minTime"),
               unix_millis(max(col(timeCol))).as("maxTime"))
    }
  }

  /** Per-column stats in one pass: a single agg computing (count, nulls,
    * exact cardinality, min, max) per column, then unpivoted. Druid's
    * segmentMetadata reads cardinality off segment dictionaries; parquet
    * gives min/max/nulls from footer stats, so at scale this plans as a
    * metadata-heavy scan per segment, merged associatively.
    *
    * min/max/cardinality go through a type-canonical string form
    * (timestamps as epoch-ms, floats via decimal) so results are
    * engine-independent. */
  def segmentMetadata(df0: DataFrame, q: JObject): DataFrame = {
    import org.apache.spark.sql.types._
    val cols = df0.schema.fields.toSeq
    def canon(f: StructField): Column = f.dataType match {
      case TimestampType | TimestampNTZType => unix_millis(col(f.name)).cast("string")
      case DoubleType | FloatType => col(f.name).cast(DecimalType(28, 10)).cast("string")
      case _ => col(f.name).cast("string")
    }
    val aggs = cols.flatMap { f =>
      Seq(
        count(col(f.name)).as(s"${f.name}__nonnull"),
        count_distinct(canon(f)).as(s"${f.name}__card"),
        min(canon(f)).as(s"${f.name}__min"),
        max(canon(f)).as(s"${f.name}__max"))
    } :+ count(lit(1)).as("__rows")
    val one = df0.agg(aggs.head, aggs.tail: _*)
    val structs = array(cols.map { f =>
      struct(
        lit(f.name).as("column"),
        lit(f.dataType.simpleString).as("type"),
        (col("__rows") - col(s"${f.name}__nonnull")).as("nulls"),
        col(s"${f.name}__card").as("cardinality"),
        col(s"${f.name}__min").as("min"),
        col(s"${f.name}__max").as("max"))
    }: _*)
    one.select(explode(structs).as("c")).select("c.*").orderBy("column")
  }
}

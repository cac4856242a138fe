package graft.queries

import graft.{SparkSpec, Tables}
import graft.sources.{DruidSegmentReader, DruidSegmentWriter}
import graft.sources.DruidSegmentWriter._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Or
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

class DruidQueriesSpec extends SparkSpec {

  private lazy val s2 = spark
  import s2.implicits._

  private lazy val ev = Tables.events(spark, sf())

  test("timeseries descending reverses bucket order") {
    val out = DruidQueries.run(ev, "ts",
      """{"queryType":"timeseries","granularity":"day","descending":true,
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      .select("__time").collect().map(_.getTimestamp(0).getTime)
    assert(out.sameElements(out.sorted(Ordering[Long].reverse)))
  }

  test("topN inverted metric returns the bottom-k") {
    val normal = DruidQueries.run(ev, "ts",
      """{"queryType":"topN","dimension":"event_type","metric":"cnt","threshold":99,
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      .collect().map(_.getAs[Long]("cnt"))
    val inverted = DruidQueries.run(ev, "ts",
      """{"queryType":"topN","dimension":"event_type",
        |"metric":{"type":"inverted","metric":"cnt"},"threshold":99,
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      .collect().map(_.getAs[Long]("cnt"))
    assert(normal.sameElements(inverted.reverse))
  }

  test("movingAverage: warm-up, zero-fill, trailing windows, interval clip") {
    val day0 = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
    def d(n: Int) = day0 + n * 86400000L
    // x misses day2 (zero-filled bucket); y has data only on day0 —
    // both windows reach back into the warm-up extension
    val df = Seq(
      (d(0), "x", 1.0), (d(1), "x", 2.0), (d(3), "x", 4.0),
      (d(0), "y", 10.0)
    ).toDF("t", "g", "v").withColumn("ts", timestamp_millis($"t")).drop("t")
    val out = DruidQueries.run(df, "ts",
      s"""{"queryType":"movingAverage","granularity":"day",
         |"intervals":["2024-02-03T00:00:00Z/2024-02-05T00:00:00Z"],
         |"dimensions":["g"],
         |"aggregations":[
         |  {"type":"count","name":"cnt"},
         |  {"type":"doubleSum","name":"sv","fieldName":"v"}],
         |"averagers":[
         |  {"type":"doubleMean","name":"avg3","fieldName":"sv","buckets":3},
         |  {"type":"longSum","name":"cnt2","fieldName":"cnt","buckets":2}]
         |}""".stripMargin).collect()
    // rows ordered by __time then g; only days 2-3 emitted (clip)
    assert(out.length == 4)
    val byKey = out.map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
      (r.getAs[Double]("sv"), r.getAs[Double]("avg3"), r.getAs[Long]("cnt2"))).toMap
    assert(byKey((d(2), "x")) == (0.0, (1.0 + 2.0 + 0.0) / 3, 1L))
    assert(byKey((d(3), "x")) == (4.0, (2.0 + 0.0 + 4.0) / 3, 1L))
    assert(byKey((d(2), "y")) == (0.0, 10.0 / 3, 0L))
    assert(byKey((d(3), "y")) == (0.0, 0.0, 0L))
    assert(out.map(r => (r.getTimestamp(0).getTime, r.getString(1))).toSeq ==
      Seq((d(2), "x"), (d(2), "y"), (d(3), "x"), (d(3), "y")))
  }

  test("movingAverage plan: bounded exchanges, no cartesian product") {
    val day0 = java.time.Instant.parse("2024-06-01T00:00:00Z").toEpochMilli
    val df = (0 until 200).map(i => (day0 + i * 3600_000L, s"g${i % 3}", i.toDouble))
      .toDF("t", "g", "v").withColumn("ts", timestamp_millis($"t")).drop("t")
    val out = DruidQueries.run(df, "ts",
      """{"queryType":"movingAverage","granularity":"day",
        |"intervals":["2024-06-03T00:00:00Z/2024-06-09T00:00:00Z"],
        |"dimensions":["g"],
        |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"v"}],
        |"averagers":[{"type":"doubleMean","name":"m3","fieldName":"sv","buckets":3}]
        |}""".stripMargin)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"grid join must not be a cartesian product:\n$plan")
    assert(plan.contains("Window"), s"plan lacks the averager window:\n$plan")
    // corpus-path shuffles: inner agg (1) + window (1). The remaining
    // exchanges sit on DOMAIN-sized tables — granule-grid distinct,
    // dim-combo distinct, and join re-partitioning of the
    // granules×combos grid — whose row counts are granules × combos,
    // independent of corpus size. Bound the total so a lost
    // partitioning (e.g. the window re-shuffling the corpus) trips.
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 6, s"movingAverage plan has $shuffles hash exchanges:\n$plan")
    // the grid side must broadcast into the fill join, and the
    // tiny grid×combo cross stays a broadcast nested loop
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"grid fill join should broadcast at this scale:\n$plan")
  }

  test("movingAverage matches an in-memory reference on random series") {
    val day0 = java.time.Instant.parse("2024-05-01T00:00:00Z").toEpochMilli
    val dayMs = 86400000L
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      // integer-valued doubles: every sum is exact in double AND
      // decimal, so the reference needs no decimal plumbing
      val rows = for {
        d <- 0 until 15
        g <- Seq("p", "q")
        if rnd.nextDouble() < 0.7
        k <- 0 until (1 + rnd.nextInt(3))
      } yield (day0 + d * dayMs + k * 1000L, g, rnd.nextInt(100).toDouble)
      val df = rows.toDF("t", "g", "v")
        .withColumn("ts", timestamp_millis($"t")).drop("t")
      val out = DruidQueries.run(df, "ts",
        """{"queryType":"movingAverage","granularity":"day",
          |"intervals":["2024-05-06T00:00:00Z/2024-05-16T00:00:00Z"],
          |"dimensions":["g"],
          |"aggregations":[{"type":"doubleSum","name":"sv","fieldName":"v"}],
          |"averagers":[{"type":"doubleMean","name":"m4","fieldName":"sv","buckets":4}]
          |}""".stripMargin).collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
          (r.getAs[Double]("sv"), r.getAs[Double]("m4"))).toMap
      // reference: zero-filled daily sums per dim, trailing-4 mean,
      // clipped to days 5..14 — dims that never appear emit nothing
      val dims = rows.map(_._2).distinct.sorted
      val daily = Map.from(for (g <- dims; d <- 0 until 15) yield (d, g) ->
        rows.filter(r => r._2 == g && (r._1 - day0) / dayMs == d).map(_._3).sum)
      val want = for (g <- dims; d <- 5 until 15) yield (day0 + d * dayMs, g) ->
        (daily((d, g)), (d - 3 to d).map(i => daily((i, g))).sum / 4.0)
      assert(out == want.toMap, s"seed $seed")
    }
  }

  test("query dataSource nests: the outer filters on inner aggregates") {
    val day0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
    val df = Seq(
      (day0, "a", 10L), (day0 + 1000, "a", 20L),           // a/day0 sum 30
      (day0 + 86400000L, "a", 5L),                          // a/day1 sum 5
      (day0, "b", 50L)                                      // b/day0 sum 50
    ).toDF("t", "g", "v").withColumn("ts", timestamp_millis($"t")).drop("t")
    val out = DruidQueries.run(df, "ts",
      """{"queryType":"groupBy",
        |"dataSource":{"type":"query","query":{
        |  "queryType":"groupBy","granularity":"day","dimensions":["g"],
        |  "aggregations":[{"type":"longSum","name":"s","fieldName":"v"}]}},
        |"granularity":"all","dimensions":["g"],
        |"filter":{"type":"bound","dimension":"s","lower":"30","ordering":"numeric"},
        |"aggregations":[{"type":"count","name":"n_days"},
        |                {"type":"longSum","name":"total","fieldName":"s"}]
        |}""".stripMargin).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_days"), r.getAs[Long]("total"))).toMap
    // day-sums >= 30: a/day0 (30) and b/day0 (50); a/day1 (5) drops
    assert(out == Map("a" -> (1L, 30L), "b" -> (1L, 50L)))
  }

  test("join dataSource: broadcast-enriched rows, LEFT keeps unmatched") {
    val df = Seq((0L, "a", 1L), (1000L, "a", 2L), (2000L, "b", 3L))
      .toDF("t", "g", "v").withColumn("ts", timestamp_millis($"t")).drop("t")
    def q(joinType: String) =
      s"""{"queryType":"scan","columns":["g","v","r_s"],
         |"dataSource":{"type":"join","left":"root",
         |  "right":{"type":"query","query":{
         |    "queryType":"groupBy","granularity":"all","dimensions":["g"],
         |    "filter":{"type":"selector","dimension":"g","value":"a"},
         |    "aggregations":[{"type":"longSum","name":"s","fieldName":"v"}]}},
         |  "rightPrefix":"r_","condition":"g == \\"r_g\\"",
         |  "joinType":"$joinType"}}""".stripMargin
    val inner = DruidQueries.run(df, "ts", q("INNER")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(inner.toSet == Set(("a", 1L, 3L), ("a", 2L, 3L)))
    val leftJ = DruidQueries.run(df, "ts", q("LEFT")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(leftJ.toSet == Set(("a", 1L, 3L), ("a", 2L, 3L), ("b", 3L, -1L)))
    // the right side must plan as a broadcast join (Druid global contract)
    val plan = DruidQueries.run(df, "ts", q("INNER"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"join dataSource must broadcast the right side:\n$plan")
  }

  test("catalog resolves named datasources; inline carries a literal relation") {
    val events = Seq((0L, "a", 1L), (1000L, "b", 2L))
      .toDF("t", "g", "v").withColumn("ts", timestamp_millis($"t")).drop("t")
    val dims = Seq(("a", "x"), ("b", "y")).toDF("g", "grp")
    // named right side from the catalog
    val out = DruidQueries.run(events, "ts",
      """{"queryType":"groupBy","granularity":"all","dimensions":["d_grp"],
        |"dataSource":{"type":"join","left":"events","right":"dims",
        |  "rightPrefix":"d_","condition":"g == \"d_g\"","joinType":"INNER"},
        |"aggregations":[{"type":"longSum","name":"s","fieldName":"v"}]}""".stripMargin,
      Map("events" -> events, "dims" -> dims))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("s")).toMap
    assert(out == Map("x" -> 1L, "y" -> 2L))
    // inline relation: no catalog, no table — rows live in the query
    val inl = DruidQueries.run(events, "ts",
      """{"queryType":"scan","columns":["g","v","i_w"],
        |"dataSource":{"type":"join","left":"root",
        |  "right":{"type":"inline","columnNames":["g","w"],
        |           "rows":[["a", 10], ["b", 20]]},
        |  "rightPrefix":"i_","condition":"g == \"i_g\"","joinType":"INNER"}}"""
        .stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(inl.toSet == Set(("a", 1L, 10L), ("b", 2L, 20L)))
    // inline arity mismatch fails loudly
    intercept[IllegalArgumentException](DruidQueries.run(events, "ts",
      """{"queryType":"scan","dataSource":{"type":"inline",
        |"columnNames":["g","w"],"rows":[["a"]]}}""".stripMargin))
  }

  test("union dataSource unions by name with null fill") {
    val df = Seq((0L, "a", 1L)).toDF("t", "g", "v")
      .withColumn("ts", timestamp_millis($"t")).drop("t")
    val out = DruidQueries.run(df, "ts",
      """{"queryType":"groupBy","granularity":"all","dimensions":["g"],
        |"dataSource":{"type":"union","dataSources":[
        |  "root",
        |  {"type":"query","query":{"queryType":"groupBy","granularity":"all",
        |    "dimensions":["g"],
        |    "aggregations":[{"type":"count","name":"c"}]}}]},
        |"aggregations":[{"type":"count","name":"n"}]}""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    // root row + the inner-aggregate row both carry g=a
    assert(out == Map("a" -> 2L))
  }

  test("movingAverage rejects unsupported shapes loudly") {
    val df = Seq((0L, 1.0)).toDF("t", "v")
      .withColumn("ts", timestamp_millis($"t")).drop("t")
    def run(json: String) =
      intercept[IllegalArgumentException](DruidQueries.run(df, "ts", json))
    assert(run("""{"queryType":"movingAverage","granularity":"all",
      |"intervals":["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
      |"aggregations":[{"type":"count","name":"c"}],
      |"averagers":[{"type":"doubleMean","name":"m","fieldName":"c","buckets":2}]}"""
      .stripMargin).getMessage.contains("stepped granularity"))
    assert(run("""{"queryType":"movingAverage","granularity":"day",
      |"intervals":["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
      |"aggregations":[{"type":"count","name":"c"}],
      |"averagers":[{"type":"zscore","name":"m","fieldName":"c","buckets":2}]}"""
      .stripMargin).getMessage.contains("unsupported averager"))
    assert(run("""{"queryType":"movingAverage","granularity":"day",
      |"intervals":["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
      |"aggregations":[{"type":"count","name":"c"}],
      |"averagers":[{"type":"doubleMean","name":"m","fieldName":"nope","buckets":2}]}"""
      .stripMargin).getMessage.contains("unknown aggregation"))
  }

  test("multi-value groupBy keeps null/empty arrays as the NULL group") {
    val df = Seq(
      (1L, Seq("a", "b"), 10L),
      (2L, Seq.empty[String], 20L),
      (3L, null.asInstanceOf[Seq[String]], 30L)
    ).toDF("t", "mv", "v").withColumn("ts", timestamp_millis($"t")).drop("t")
    val out = DruidQueries.run(df, "ts",
      """{"queryType":"groupBy","dimensions":["mv"],"granularity":"all",
        |"aggregations":[{"type":"longSum","name":"sv","fieldName":"v"}]}""".stripMargin)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    // rows 2 and 3 (empty and null arrays) both land in the NULL group
    assert(out == Set((Some("a"), 10L), (Some("b"), 10L), (None, 50L)))
  }

  test("topN can rank by a post-aggregator") {
    val out = DruidQueries.run(ev, "ts",
      """{"queryType":"topN","dimension":"event_type","metric":"mean","threshold":3,
        |"aggregations":[
        |  {"type":"count","name":"cnt"},
        |  {"type":"doubleSum","name":"sv","fieldName":"value"}],
        |"postAggregations":[{"type":"arithmetic","name":"mean","fn":"/",
        |  "fields":[{"type":"fieldAccess","fieldName":"sv"},
        |            {"type":"fieldAccess","fieldName":"cnt"}]}]}""".stripMargin)
      .collect()
    assert(out.length == 3)
    val means = out.map(_.getAs[Double]("mean"))
    assert(means.sameElements(means.sorted(Ordering[Double].reverse)))
  }

  test("topN metric naming nothing fails with a clear message") {
    val ex = intercept[IllegalArgumentException] {
      DruidQueries.run(ev, "ts",
        """{"queryType":"topN","dimension":"event_type","metric":"nope","threshold":3,
          |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
    }
    assert(ex.getMessage.contains("nope"))
  }

  test("empty aggregations list degrades to distinct keys, not a crash") {
    val tn = DruidQueries.run(ev, "ts",
      """{"queryType":"topN","dimension":"event_type",
        |"metric":{"type":"dimension"},"threshold":2,"aggregations":[]}""".stripMargin)
      .collect().map(_.getString(0))
    assert(tn.length == 2 && tn.sameElements(tn.sorted))

    val gb = DruidQueries.run(ev, "ts",
      """{"queryType":"groupBy","dimensions":["event_type"],"granularity":"all",
        |"aggregations":[]}""".stripMargin).collect()
    assert(gb.length == ev.select($"event_type").distinct().count())

    val series = DruidQueries.run(ev, "ts",
      """{"queryType":"timeseries","granularity":"day","aggregations":[]}""".stripMargin)
      .collect()
    assert(series.nonEmpty)
  }

  test("skipEmptyBuckets=false zero-fills every granule of the intervals") {
    // two events a day apart → daily series over 4 days has 2 gaps
    val df = Seq((0, 5.0), (2, 7.0))
      .map { case (d, v) => (java.sql.Timestamp.valueOf(f"2024-03-0${d + 1} 12:00:00"), v) }
      .toDF("ts", "value")
    val out = DruidQueries.run(df, "ts",
      """{"queryType":"timeseries","granularity":"day",
        |"intervals":["2024-03-01T00:00:00Z/2024-03-05T00:00:00Z"],
        |"context":{"skipEmptyBuckets":false},
        |"aggregations":[
        |  {"type":"count","name":"cnt"},
        |  {"type":"doubleSum","name":"sv","fieldName":"value"},
        |  {"type":"doubleMax","name":"mx","fieldName":"value"}]}""".stripMargin)
      .collect()
    assert(out.length == 4, s"expected 4 daily buckets, got ${out.length}")
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 0L, 1L, 0L)) // counts zero-fill
    assert(out.map(_.getDouble(2)).toSeq == Seq(5.0, 0.0, 7.0, 0.0)) // sums zero-fill
    assert(out(1).isNullAt(3) && out(3).isNullAt(3)) // max stays NULL
    // default (skip) still omits the gaps
    val skipped = DruidQueries.run(df, "ts",
      """{"queryType":"timeseries","granularity":"day",
        |"intervals":["2024-03-01T00:00:00Z/2024-03-05T00:00:00Z"],
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin).collect()
    assert(skipped.length == 2)
  }

  test("subtotalsSpec computes each dim subset in one grouping-sets pass") {
    val out = DruidQueries.run(ev, "ts",
      """{"queryType":"groupBy","dimensions":["event_type"],"granularity":"all",
        |"subtotalsSpec":[["event_type"],[]],
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)))
    val perType = ev.groupBy($"event_type").count()
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    val total = ev.count()
    // union of the per-dim groups and the grand-total (NULL dim) row
    assert(out.toSet == perType + ((None: Option[String], total)))
    // single-pass: the plan uses Expand (grouping sets), not a union
    val plan = DruidQueries.run(ev, "ts",
      """{"queryType":"groupBy","dimensions":["event_type"],"granularity":"all",
        |"subtotalsSpec":[["event_type"],[]],
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Expand"), s"expected grouping-sets Expand plan:\n$plan")
  }

  test("search matches any value of a multi-value dimension") {
    val df = Seq(
      (1L, Seq("alpha", "beta")),
      (2L, Seq("gamma")),
      (3L, Seq("beta", "delta"))
    ).toDF("t", "tags").withColumn("ts", timestamp_millis($"t")).drop("t")
    val out = DruidQueries.run(df, "ts",
      """{"queryType":"search","searchDimensions":["tags"],
        |"query":{"type":"insensitive_contains","value":"et"}}""".stripMargin)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSet
    assert(out == Set(("beta", 2L))) // "beta" appears in rows 1 and 3
  }

  test("run accepts an epoch-millis long time column (store-scan shape)") {
    val df = Seq((1704067200000L, "a", 1L), (1704070800000L, "b", 2L))
      .toDF("__time", "typ", "v")
    val out = DruidQueries.run(df, "__time",
      """{"queryType":"timeseries","granularity":"hour",
        |"aggregations":[{"type":"longSum","name":"sv","fieldName":"v"}]}""".stripMargin)
      .collect()
    assert(out.length == 2 && out.map(_.getLong(1)).toSeq == Seq(1L, 2L))
  }

  test("timeBoundary bound narrows to one side") {
    val mn = DruidQueries.run(ev, "ts",
      """{"queryType":"timeBoundary","bound":"minTime"}""")
    assert(mn.columns.toSeq == Seq("minTime"))
    val mx = DruidQueries.run(ev, "ts",
      """{"queryType":"timeBoundary","bound":"maxTime"}""")
    assert(mx.columns.toSeq == Seq("maxTime"))
    val both = DruidQueries.run(ev, "ts", """{"queryType":"timeBoundary"}""").collect()(0)
    assert(mn.collect()(0).getLong(0) == both.getLong(0))
    assert(mx.collect()(0).getLong(0) == both.getLong(1))
  }

  test("dataSourceMetadata returns the ingestion watermark in millis") {
    val out = DruidQueries.run(ev, "ts",
      """{"queryType":"dataSourceMetadata"}""")
    assert(out.columns.toSeq == Seq("maxIngestedEventTime"))
    val expect = ev.agg(max(unix_millis($"ts"))).collect()(0).getLong(0)
    assert(out.collect()(0).getLong(0) == expect)
    // ms-long time column stays a plain long max (pushdown-eligible)
    val longDf = ev.select(unix_millis($"ts").as("t"), $"event_type")
    val out2 = DruidQueries.run(longDf, "t",
      """{"queryType":"dataSourceMetadata"}""")
    assert(out2.collect()(0).getLong(0) == expect)
  }

  test("filter-type havingSpec evaluates any DimFilter over the grouped result") {
    val out = DruidQueries.run(ev, "ts",
      """{"queryType":"groupBy","granularity":"all",
        |"dimensions":["event_type"],
        |"aggregations":[{"type":"count","name":"cnt"}],
        |"having":{"type":"filter","filter":{"type":"and","fields":[
        |  {"type":"regex","dimension":"event_type","pattern":"^[cv]"},
        |  {"type":"bound","dimension":"cnt","lower":"1","ordering":"numeric"}]}}
        |}""".stripMargin)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("click", "view"))
  }

  test("lookup dataSource: k/v rename, unknown name and bad arity fail loudly") {
    val labels = Seq(("click", "C"), ("view", "V")).toDF("key", "label")
    val out = DruidQueries.run(ev, "ts",
      """{"queryType":"groupBy","dataSource":{"type":"join","left":"events",
        |"right":{"type":"lookup","lookup":"lk"},"rightPrefix":"l_",
        |"condition":"event_type == \"l_k\"","joinType":"INNER"},
        |"granularity":"all","dimensions":["l_v"],
        |"aggregations":[{"type":"count","name":"n"}]}""".stripMargin,
      Map("lk" -> labels))
    assert(out.collect().map(_.getString(0)).toSet == Set("C", "V"))
    val e1 = intercept[IllegalArgumentException] {
      DruidQueries.run(ev, "ts",
        """{"queryType":"scan","dataSource":{"type":"lookup","lookup":"nope"},
          |"columns":["k"]}""".stripMargin)
    }
    assert(e1.getMessage.contains("unknown lookup"))
    val e2 = intercept[IllegalArgumentException] {
      DruidQueries.run(ev, "ts",
        """{"queryType":"scan","dataSource":{"type":"lookup","lookup":"bad"},
          |"columns":["k"]}""".stripMargin,
        Map("bad" -> ev))
    }
    assert(e2.getMessage.contains("exactly 2 columns"))
  }

  test("topN dimension metric orders lexicographically") {
    val out = DruidQueries.run(ev, "ts",
      """{"queryType":"topN","dimension":"event_type",
        |"metric":{"type":"dimension"},"threshold":3,
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin)
      .collect().map(_.getString(0))
    assert(out.sameElements(out.sorted))
    assert(out.length == 3)
  }

  test("search strlen sort orders by value length") {
    val out = DruidQueries.run(ev, "ts",
      """{"queryType":"search","searchDimensions":["event_type"],
        |"query":{"type":"insensitive_contains","value":"e"},
        |"sort":{"type":"strlen"}}""".stripMargin)
      .collect().map(_.getAs[String]("value"))
    val lens = out.map(_.length)
    assert(lens.sameElements(lens.sorted))
  }

  test("unknown queryType fails with a clear message") {
    val e = intercept[IllegalArgumentException](
      DruidQueries.run(ev, "ts", """{"queryType":"mystery"}"""))
    assert(e.getMessage.contains("mystery"))
  }

  test("unknown aggregator type fails with a clear message") {
    val e = intercept[IllegalArgumentException](
      DruidQueries.run(ev, "ts",
        """{"queryType":"timeseries","granularity":"day",
          |"aggregations":[{"type":"wat","name":"x"}]}""".stripMargin))
    assert(e.getMessage.contains("wat"))
  }

  test("dedupByMinhash keeps one representative per near-dup cluster") {
    val df = Seq(
      (5L, "a b c d e f g h i j"), (9L, "a b c d e f g h i j"),
      (7L, "entirely different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val kept = graft.operators.Dedup.dedupByMinhash(df, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 7L))
  }

  // ---- interval pruning over a multi-segment druid-segments datasource ----

  private val hour = 3600 * 1000L
  private val h0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
  private def iv(fromHour: Int, toHour: Int): String =
    s""""${java.time.Instant.ofEpochMilli(h0 + fromHour * hour)}/""" +
      s"""${java.time.Instant.ofEpochMilli(h0 + toHour * hour)}""""

  /** Six hourly segments; hour h holds six rows ten minutes apart.
    * Scores are multiples of 0.5, so double sums are exact in any
    * order. */
  private lazy val hourly: DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("druid-hourly").toFile
    for (h <- 0 until 6) {
      val lo = h0 + h * hour
      DruidSegmentWriter.write(new java.io.File(root, s"hourly/h$h"), "hourly",
        (0 until 6).map(i => lo + i * 600000L),
        Seq(
          StrDim("host", (0 until 6).map(i => Seq("a", "b", "c")((h + i) % 3))),
          LongMet("hits", (0 until 6).map(i => (h * 10 + i).toLong)),
          DoubleMet("score", (0 until 6).map(i => h + i * 0.5))),
        lo, lo + hour, version = "v1")
    }
    spark.read.format("druid-segments").load(root.getAbsolutePath)
  }

  /** The same rows outside the DSv2 source, time as a timestamp: the
    * unpruned reference for every answer. */
  private lazy val hourlyRef: DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(hourly.collect().toSeq), hourly.schema)
    .withColumn("ts", timestamp_millis($"__time")).drop("__time")

  private def planned(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case s: BatchScanExec => s.inputPartitions.size }.sum

  /** (sorted rows, segments decoded while collecting them, the query) */
  private def runDecoded(json: String): (Seq[String], Int, DataFrame) = {
    val df = DruidQueries.run(hourly, "__time", json)
    val before = DruidSegmentReader.decodedSegments.get
    val rows = df.collect().map(_.toString).toSeq.sorted
    (rows, DruidSegmentReader.decodedSegments.get - before, df)
  }

  private def reference(json: String): Seq[String] =
    DruidQueries.run(hourlyRef, "ts", json).collect().map(_.toString).toSeq.sorted

  test("a one-hour query plans and decodes only the segment its interval covers") {
    assert(planned(hourly) == 6)
    val topN =
      s"""{"queryType":"topN","intervals":[${iv(2, 3)}],"granularity":"all",
         |"dimension":"host","metric":"sc","threshold":3,
         |"aggregations":[{"type":"doubleSum","name":"sc","fieldName":"score"},
         |  {"type":"count","name":"n"}]}""".stripMargin
    val (rows, decoded, df) = runDecoded(topN)
    assert(planned(df) == 1 && decoded == 1)
    assert(rows == reference(topN))
    // hour 2: hosts c,a,b,c,a,b with scores 2.0, 2.5, .., 4.5
    assert(rows == Seq("[a,6.5,2]", "[b,7.5,2]", "[c,5.5,2]"))

    val ts =
      s"""{"queryType":"timeseries","intervals":[${iv(3, 4)}],"granularity":"all",
         |"aggregations":[{"type":"count","name":"n"},
         |  {"type":"longSum","name":"hits","fieldName":"hits"}]}""".stripMargin
    val (tsRows, tsDecoded, tsDf) = runDecoded(ts)
    assert(planned(tsDf) == 1 && tsDecoded <= 1)
    assert(tsRows == reference(ts) && tsRows == Seq("[6,195]"))

    val tb = s"""{"queryType":"timeBoundary","intervals":[${iv(4, 6)}]}"""
    val (tbRows, _, tbDf) = runDecoded(tb)
    assert(planned(tbDf) == 2)
    assert(tbRows == reference(tb) &&
      tbRows == Seq(s"[${h0 + 4 * hour},${h0 + 5 * hour + 3000000L}]"))
  }

  test("two intervals prune to their envelope; the exact OR stays above the scan") {
    val q =
      s"""{"queryType":"groupBy","intervals":[${iv(1, 2)},${iv(4, 5)}],"granularity":"hour",
         |"dimensions":["host"],
         |"aggregations":[{"type":"count","name":"n"},
         |  {"type":"longSum","name":"hits","fieldName":"hits"}]}""".stripMargin
    val (rows, decoded, df) = runDecoded(q)
    // envelope [h1, h5): hours 1-4 planned, hours 2-3 filtered above
    assert(planned(df) == 4 && decoded == 4)
    val residual = df.queryExecution.sparkPlan.collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[Or]) => f
    }
    assert(residual.size == 1 && residual.head.collect { case s: BatchScanExec => s }.size == 1)
    assert(rows == reference(q))
    // per-interval rows only: hours 1 and 4, three hosts, two rows each
    assert(rows.size == 6)
    val hits = df.collect().map(r => r.getAs[Long]("hits")).sum
    assert(hits == (10L to 15L).sum + (40L to 45L).sum)
  }

  test("dataSourceMetadata and segmentMetadata ignore intervals, as before") {
    for (qt <- Seq("dataSourceMetadata", "segmentMetadata")) {
      val all = s"""{"queryType":"$qt"}"""
      val withIv = s"""{"queryType":"$qt","intervals":[${iv(2, 3)}]}"""
      val (allRows, _, allDf) = runDecoded(all)
      val (ivRows, _, ivDf) = runDecoded(withIv)
      assert(ivRows == allRows, qt)
      assert(planned(allDf) == 6 && planned(ivDf) == 6, qt)
    }
    val (meta, _, _) = runDecoded("""{"queryType":"dataSourceMetadata","intervals":[""" + iv(0, 1) + "]}")
    assert(meta == Seq(s"[${h0 + 5 * hour + 3000000L}]"))
  }
}

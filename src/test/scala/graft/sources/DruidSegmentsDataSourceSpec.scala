package graft.sources

import java.io.File
import java.nio.file.Files
import graft.SparkSpec
import DruidSegmentWriter._

class DruidSegmentsDataSourceSpec extends SparkSpec {

  private def tmpDir(): File = Files.createTempDirectory("druid-dsv2").toFile

  private val day = 24 * 3600 * 1000L
  private val t0 = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli

  private def writeSegment(dir: File, version: String = "v1",
                           hosts: Seq[String] = Seq("a", "b", "c", "d", "e"),
                           intervalStart: Long = t0, intervalEnd: Long = t0 + day): Unit = {
    val n = hosts.size
    val times = (0 until n).map(i => intervalStart + i * ((intervalEnd - intervalStart) / n))
    DruidSegmentWriter.write(dir, "fixture", times,
      Seq(
        StrDim("host", hosts),
        LongMet("hits", (1 to n).map(_ * 10L))),
      intervalStart, intervalEnd, version = version)
  }

  test("dsv2: basic read + projection without __time + count(*)") {
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    assert(df.count() == 5)
    // projection that drops __time and reorders
    val got = df.select("hits", "host").orderBy("hits").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((10L, "a"), (20L, "b"), (30L, "c"), (40L, "d"), (50L, "e")))
  }

  test("dsv2: __time and dictionary filter pushdown produce correct rows") {
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    writeSegment(new File(root, "seg2"), intervalStart = t0 + day, intervalEnd = t0 + 2 * day,
      hosts = Seq("f", "g", "h", "i", "j"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    import org.apache.spark.sql.functions.col
    // time filter hitting only seg2
    val r1 = df.where(col("__time") >= (t0 + day)).select("host").collect().map(_.getString(0)).toSet
    assert(r1 == Set("f", "g", "h", "i", "j"))
    // dictionary filter: host === "a" only in seg1
    DruidSegmentReader.decodedSegments.set(0)
    val r2 = df.where(col("host") === "a").select("host", "hits").collect()
    assert(r2.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 10L)))
    assert(DruidSegmentReader.decodedSegments.get() == 1, "dictionary skip should prune seg2")
    // unsatisfiable conjunction
    assert(df.where(col("host") === "a" && col("host") === "z").count() == 0)
    // __time equality
    assert(df.where(col("__time") === t0).count() == 1)
  }

  test("dsv2: overshadowing version wins") {
    val root = tmpDir()
    writeSegment(new File(root, "seg1"), version = "v1")
    writeSegment(new File(root, "seg2"), version = "v2", hosts = Seq("x", "y", "z", "w", "v"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    val hosts = df.select("host").collect().map(_.getString(0)).toSet
    assert(hosts == Set("x", "y", "z", "w", "v"))
  }

  test("dsv2: schema evolution — union schema, null-fill for absent columns") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir()
    // day 1: (host, hits); day 2 adds a `country` dim and drops `hits`
    writeSegment(new File(root, "seg1"))
    DruidSegmentWriter.write(new File(root, "seg2"), "fixture",
      (0 until 3).map(i => t0 + day + i * 1000L),
      Seq(StrDim("host", Seq("f", "g", "h")),
        StrDim("country", Seq("US", "DE", "JP")),
        LongMet("clicks", Seq(7L, 8L, 9L))),
      t0 + day, t0 + 2 * day, version = "v1")
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    val names = df.schema.fieldNames.toSet
    assert(names == Set("__time", "host", "country", "hits", "clicks"),
      s"union schema must cover both segments, got $names")
    // seg1 rows null-fill country/clicks; seg2 rows null-fill hits
    val rows = df.select("host", "country", "hits", "clicks").collect()
    assert(rows.length == 8)
    val d1 = rows.filter(r => Set("a", "b", "c", "d", "e")(r.getString(0)))
    assert(d1.forall(r => r.isNullAt(1) && !r.isNullAt(2) && r.isNullAt(3)))
    val d2 = rows.filter(r => Set("f", "g", "h")(r.getString(0)))
    assert(d2.length == 3 && d2.forall(r => !r.isNullAt(1) && r.isNullAt(2) && !r.isNullAt(3)))
    // equality on the evolved dim: a segment LACKING the column is
    // all-null for it and must skip decode entirely
    DruidSegmentReader.decodedSegments.set(0)
    val us = df.where(col("country") === "US").select("host").collect().map(_.getString(0))
    assert(us.toSeq == Seq("f"))
    assert(DruidSegmentReader.decodedSegments.get() == 1,
      "segment without the filtered column must short-circuit")
  }

  test("dsv2: __time bounds at Long.MaxValue don't wrap to an empty scan") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    assert(df.where(col("__time") <= Long.MaxValue).count() == 5)
    assert(df.where(col("__time") === Long.MaxValue).count() == 0)
    assert(df.where(col("__time") > Long.MaxValue).count() == 0)
    assert(df.where(col("__time") >= Long.MinValue).count() == 5)
  }

  test("bitmap index prunes row decode to filter selectivity") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir()
    val n = 200
    // 199 distinct hosts + one "rare" on the last row; SizePer=2 means
    // ~100 LZ4 chunks per column, so chunk decompressions measure how
    // much of the segment a filtered read actually decodes
    val hosts = (0 until n - 1).map(i => f"h$i%03d") :+ "rare"
    DruidSegmentWriter.write(new File(root, "seg1"), "fixture",
      (0 until n).map(i => t0 + i * 1000L),
      Seq(StrDim("host", hosts), LongMet("hits", (0 until n).map(_.toLong))),
      t0, t0 + day)
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    DruidSegmentReader.decompressedChunks.set(0)
    assert(df.collect().length == n)
    val fullChunks = DruidSegmentReader.decompressedChunks.get()
    DruidSegmentReader.decompressedChunks.set(0)
    val rare = df.where(col("host") === "rare").collect()
    assert(rare.length == 1)
    assert(rare.head.getAs[Long]("hits") == (n - 1).toLong)
    val prunedChunks = DruidSegmentReader.decompressedChunks.get()
    assert(prunedChunks > 0, "the one matching row still decodes")
    assert(prunedChunks * 10 <= fullChunks,
      s"bitmap-pruned decode must track selectivity: $prunedChunks chunks " +
        s"for 1/$n rows vs $fullChunks for the full scan")
    // multi-value dims: a row is in a value's bitmap when ANY of its
    // values matches (Druid's MV selector semantics)
    val mvDir = tmpDir()
    DruidSegmentWriter.write(new File(mvDir, "seg1"), "mv",
      Seq(t0, t0 + 1000L, t0 + 2000L),
      Seq(MvDim("tags", Seq(Seq("a", "b"), Seq("c"), Seq("b", "d")))),
      t0, t0 + day)
    val mvFile = DruidSegmentReader.openSegment(
      spark.sparkContext.hadoopConfiguration, new File(mvDir, "seg1").getAbsolutePath)
    assert(DruidSegmentReader.bitmapRowSet(mvFile, "tags", Set("b")).get.toArray.toSeq == Seq(0, 2))
  }

  private def scanDescription(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.getOrElse("")

  test("dataSourceMetadata queryType pushes max(__time) — zero row decode") {
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    val q = graft.queries.DruidQueries.run(df, "__time",
      """{"queryType":"dataSourceMetadata"}""")
    assert(scanDescription(q).contains("PushedAggregates: [MAX(__time)]"),
      s"watermark must come from the pushed aggregate, got: ${scanDescription(q)}")
    DruidSegmentReader.decodedSegments.set(0)
    assert(q.collect().head.getLong(0) == t0 + 4 * (day / 5))
    assert(DruidSegmentReader.decodedSegments.get() == 0,
      "dataSourceMetadata must not row-decode")
  }

  test("dsv2 aggregate pushdown: count(*) answers from segment metadata — zero chunks decompressed") {
    import org.apache.spark.sql.functions.{count, col}
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    writeSegment(new File(root, "seg2"), intervalStart = t0 + day, intervalEnd = t0 + 2 * day,
      hosts = Seq("f", "g", "h"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    val q = df.agg(count("*").as("n"))
    assert(scanDescription(q).contains("PushedAggregates: [COUNT(*)]"),
      s"plan must push the aggregate, got: ${scanDescription(q)}")
    DruidSegmentReader.decompressedChunks.set(0)
    DruidSegmentReader.decodedSegments.set(0)
    assert(q.collect().head.getLong(0) == 8L)
    assert(DruidSegmentReader.decodedSegments.get() == 0, "count(*) must not row-decode")
    assert(DruidSegmentReader.decompressedChunks.get() == 0,
      "full-coverage count reads only the supplier header — no chunk may decompress")
    // count over an exactly-pushed __time bound: clip path, still pushed
    val q2 = df.where(col("__time") >= t0 + day).agg(count("*").as("n"))
    assert(scanDescription(q2).contains("PushedAggregates: [COUNT(*)]"),
      s"time-bounded count must still push: ${scanDescription(q2)}")
    assert(q2.collect().head.getLong(0) == 3L)
    // an empty interval still yields 0, not null/no-rows
    val q3 = df.where(col("__time") >= t0 + 10 * day).agg(count("*"))
    assert(q3.collect().head.getLong(0) == 0L)
  }

  test("dsv2 aggregate pushdown: min/max(__time) decode only the time column") {
    import org.apache.spark.sql.functions.{max, min, count}
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    writeSegment(new File(root, "seg2"), intervalStart = t0 + day, intervalEnd = t0 + 2 * day,
      hosts = Seq("f", "g", "h"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    val q = df.agg(min("__time").as("lo"), max("__time").as("hi"), count("*").as("n"))
    val d = scanDescription(q)
    assert(d.contains("MIN(__time)") && d.contains("MAX(__time)") && d.contains("COUNT(*)"), d)
    DruidSegmentReader.decodedSegments.set(0)
    val r = q.collect().head
    assert(r.getLong(0) == t0)                       // first row of seg1
    assert(r.getLong(1) == t0 + day + 2 * (day / 3)) // last row of seg2
    assert(r.getLong(2) == 8L)
    assert(DruidSegmentReader.decodedSegments.get() == 0,
      "min/max(__time) must not decode dims/metrics")
  }

  test("dsv2 aggregate pushdown: declined for grouped/dim-filtered/other aggs — results stay correct") {
    import org.apache.spark.sql.functions.{count, sum, col}
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    // dictionary predicates prune approximately → residual Filter blocks pushdown
    val filtered = df.where(col("host") === "a").agg(count("*"))
    assert(!scanDescription(filtered).contains("PushedAggregates"), scanDescription(filtered))
    assert(filtered.collect().head.getLong(0) == 1L)
    // group-by over a LONG metric: only scalar string dims have an
    // inverted index — declined, correct via normal decode
    val grouped = df.groupBy("hits").agg(count("*").as("n"))
    assert(!scanDescription(grouped).contains("PushedAggregates"), scanDescription(grouped))
    assert(grouped.collect().map(r => (r.getLong(0), r.getLong(1))).toMap.values.forall(_ == 1L))
    // an unsupported agg in the mix declines the whole pushdown
    import org.apache.spark.sql.functions.avg
    val mixed = df.agg(count("*"), avg("hits"))
    assert(!scanDescription(mixed).contains("PushedAggregates"), scanDescription(mixed))
    assert(mixed.collect().head.getDouble(1) == 30.0)
    // ...grouped or not
    val groupedMixed = df.groupBy("host").agg(avg("hits").as("s"))
    assert(!scanDescription(groupedMixed).contains("PushedAggregates"), scanDescription(groupedMixed))
    assert(groupedMixed.collect().map(_.getDouble(1)).sum == 150.0)
    // grouping by __time stays Spark-side (no per-timestamp bitmaps)
    val byTime = df.groupBy("__time").agg(count("*"))
    assert(!scanDescription(byTime).contains("PushedGroupBy"), scanDescription(byTime))
    assert(byTime.collect().length == 5)
  }

  test("dsv2 aggregate pushdown: GROUP BY dim counts answer from the inverted index — no row decode") {
    import org.apache.spark.sql.functions.{count, col, max, min}
    val root = tmpDir()
    // seg1: a,b,c,d,e (one row each); seg2 next day: a,a,f
    writeSegment(new File(root, "seg1"))
    DruidSegmentWriter.write(new File(root, "seg2"), "fixture",
      Seq(t0 + day, t0 + day + 1000L, t0 + day + 2000L),
      Seq(StrDim("host", Seq("a", "a", "f")), LongMet("hits", Seq(1L, 2L, 3L))),
      t0 + day, t0 + 2 * day, version = "v1")
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)

    val q = df.groupBy("host").agg(count("*").as("n"))
    val d = scanDescription(q)
    assert(d.contains("PushedAggregates: [COUNT(*)]") && d.contains("PushedGroupBy: [host]"), d)
    DruidSegmentReader.decodedSegments.set(0)
    DruidSegmentReader.decompressedChunks.set(0)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 1L, "d" -> 1L, "e" -> 1L, "f" -> 1L))
    assert(DruidSegmentReader.decodedSegments.get() == 0,
      "grouped count must not row-decode")
    assert(DruidSegmentReader.decompressedChunks.get() == 0,
      "full-coverage grouped count reads dictionary + bitmaps only — no chunk may decompress")

    // min/max(__time) per group: only the __time column decompresses
    val qb = df.groupBy("host").agg(count("*").as("n"),
      min("__time").as("lo"), max("__time").as("hi"))
    assert(scanDescription(qb).contains("PushedGroupBy: [host]"), scanDescription(qb))
    DruidSegmentReader.decodedSegments.set(0)
    val b = qb.collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(b("a") == ((3L, t0, t0 + day + 1000L)))
    assert(b("f") == ((1L, t0 + day + 2000L, t0 + day + 2000L)))
    assert(DruidSegmentReader.decodedSegments.get() == 0)

    // time-clipped window: only seg2's first two rows are in scope
    val qc = df.where(col("__time") >= t0 + day && col("__time") < t0 + day + 1500L)
      .groupBy("host").agg(count("*").as("n"))
    assert(scanDescription(qc).contains("PushedGroupBy: [host]"), scanDescription(qc))
    assert(qc.collect().map(r => (r.getString(0), r.getLong(1))).toMap == Map("a" -> 2L))

    // empty interval → empty grouped result (NOT a zero row)
    val qe = df.where(col("__time") >= t0 + 10 * day).groupBy("host").agg(count("*"))
    assert(qe.collect().isEmpty)

    // cross-check grouped pushdown against the full-decode path
    val unpushed = df.groupBy("host").agg(count("*").as("n"), min("__time").as("lo"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(unpushed.view.mapValues(_._1).toMap == got)
  }

  test("dsv2 aggregate pushdown: multi-dim GROUP BY answers from bitmap ANDs — no row decode") {
    import org.apache.spark.sql.functions.{col, count, sum}
    val root = tmpDir()
    // seg1 carries (host, dc); seg2 evolved WITHOUT dc → its rows land
    // in dc's null group
    DruidSegmentWriter.write(new File(root, "seg1"), "fixture",
      Seq(t0, t0 + 1000L, t0 + 2000L, t0 + 3000L),
      Seq(StrDim("host", Seq("a", "a", "b", "b")),
        StrDim("dc", Seq("e", "w", "e", "e")),
        LongMet("hits", Seq(1L, 2L, 4L, 8L))),
      t0, t0 + day, version = "v1")
    DruidSegmentWriter.write(new File(root, "seg2"), "fixture",
      Seq(t0 + day, t0 + day + 1000L),
      Seq(StrDim("host", Seq("a", "b")), LongMet("hits", Seq(16L, 32L))),
      t0 + day, t0 + 2 * day, version = "v1")
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)

    val q = df.groupBy("host", "dc").agg(count("*").as("n"), sum("hits").as("s"))
    val d = scanDescription(q)
    assert(d.contains("PushedGroupBy: [host, dc]"), d)
    DruidSegmentReader.decodedSegments.set(0)
    DruidSegmentReader.decompressedChunks.set(0)
    val got = q.collect()
      .map(r => ((r.getString(0), Option(r.getString(1)).getOrElse("∅")),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("a", "e") -> ((1L, 1L)), ("a", "w") -> ((1L, 2L)),
      ("b", "e") -> ((2L, 12L)),
      ("a", "∅") -> ((1L, 16L)), ("b", "∅") -> ((1L, 32L))), got.toString)
    assert(DruidSegmentReader.decodedSegments.get() == 0,
      "multi-dim grouped count must not row-decode")

    // window clip drops seg1's last row from its combos
    val qc = df.where(col("__time") < t0 + 2500L).groupBy("host", "dc")
      .agg(count("*").as("n"))
    assert(scanDescription(qc).contains("PushedGroupBy: [host, dc]"), scanDescription(qc))
    val c = qc.collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(c == Map(("a", "e") -> 1L, ("a", "w") -> 1L, ("b", "e") -> 1L), c.toString)

    // grouping by __time or > MaxGroupDims dims declines (stays Spark-side)
    val qt = df.groupBy("host", "__time").agg(count("*"))
    assert(!scanDescription(qt).contains("PushedGroupBy"), scanDescription(qt))

    // the decode fallback (tiny product cap) agrees with the bitmap path
    val conf = spark.sparkContext.hadoopConfiguration
    def collectGroups(cap: Double) =
      DruidSegmentReader.aggregateGroupByDims(conf,
          new File(root, "seg1").getAbsolutePath, Seq("host", "dc"),
          t0, t0 + day, fullCoverage = true, needTimeBounds = true,
          metricCols = Seq("hits"), productCap = cap)
        .map(g => (g.values.toList, g.count, g.minT, g.maxT, g.metrics))
        .toSeq.sortBy(_._1.map(String.valueOf(_)).mkString("|"))
    assert(collectGroups(1e6) == collectGroups(1.0),
      "bitmap-intersection and decode-fallback grouping must agree")
  }

  test("dsv2 aggregate pushdown: long-metric sum/min/max, global and grouped; doubles decline") {
    import org.apache.spark.sql.functions.{col, count, max, min, sum}
    val root = tmpDir()
    // seg1: hosts a,a,b with hits 10,20,30; seg2 next day: a,b with 5,7
    DruidSegmentWriter.write(new File(root, "seg1"), "fixture",
      Seq(t0, t0 + 1000L, t0 + 2000L),
      Seq(StrDim("host", Seq("a", "a", "b")),
        LongMet("hits", Seq(10L, 20L, 30L)),
        DoubleMet("revenue", Seq(1.5, 2.5, 3.5))),
      t0, t0 + day)
    DruidSegmentWriter.write(new File(root, "seg2"), "fixture",
      Seq(t0 + day, t0 + day + 1000L),
      Seq(StrDim("host", Seq("a", "b")),
        LongMet("hits", Seq(5L, 7L)),
        DoubleMet("revenue", Seq(0.5, 0.25))),
      t0 + day, t0 + 2 * day)
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)

    // global: count + sum/min/max(hits) off metric column alone
    val g = df.agg(count("*").as("n"), sum("hits").as("s"),
      min("hits").as("lo"), max("hits").as("hi"))
    val d = scanDescription(g)
    assert(d.contains("SUM(hits)") && d.contains("MIN(hits)") && d.contains("MAX(hits)"), d)
    DruidSegmentReader.decodedSegments.set(0)
    val gr = g.collect().head
    assert((gr.getLong(0), gr.getLong(1), gr.getLong(2), gr.getLong(3)) == ((5L, 72L, 5L, 30L)))
    assert(DruidSegmentReader.decodedSegments.get() == 0, "metric aggs must not row-decode")

    // grouped: per-host sums via bitmap ∧ rows over the metric column
    val q = df.groupBy("host").agg(sum("hits").as("s"), count("*").as("n"))
    assert(scanDescription(q).contains("PushedGroupBy: [host]") &&
      scanDescription(q).contains("SUM(hits)"), scanDescription(q))
    DruidSegmentReader.decodedSegments.set(0)
    val got = q.collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("a" -> ((35L, 3L)), "b" -> ((37L, 2L))))
    assert(DruidSegmentReader.decodedSegments.get() == 0)

    // time-clipped grouped sum (partial coverage path)
    val qc = df.where(col("__time") >= t0 + 1000L && col("__time") < t0 + day + 500L)
      .groupBy("host").agg(sum("hits").as("s"))
    assert(scanDescription(qc).contains("SUM(hits)"), scanDescription(qc))
    assert(qc.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("a" -> 25L, "b" -> 30L))

    // DOUBLE metrics never push (FP addition is order-dependent);
    // results still correct via normal decode
    val dq = df.agg(sum("revenue").as("s"))
    assert(!scanDescription(dq).contains("PushedAggregates"), scanDescription(dq))
    assert(math.abs(dq.collect().head.getDouble(0) - 8.25) < 1e-9)

    // schema evolution: a segment lacking the metric contributes null
    // partials, matching the unpushed null-fill semantics
    val root2 = tmpDir()
    writeSegment(new File(root2, "seg1")) // has hits
    DruidSegmentWriter.write(new File(root2, "seg2"), "fixture",
      Seq(t0 + day), Seq(StrDim("host", Seq("z")), LongMet("clicks", Seq(3L))),
      t0 + day, t0 + 2 * day)
    val df2 = spark.read.format("druid-segments").load(root2.getAbsolutePath)
    val e = df2.groupBy("host").agg(sum("hits").as("s"))
    assert(scanDescription(e).contains("SUM(hits)"), scanDescription(e))
    val em = e.collect().map(r => (r.getString(0), Option(r.get(1)))).toMap
    assert(em("z").isEmpty, "sum over an absent metric column must be NULL")
    assert(em("a") == Some(10L))
  }

  test("dsv2 grouped pushdown: overshadow clips and evolved segments null-group") {
    import org.apache.spark.sql.functions.count
    val root = tmpDir()
    // v1 covers the day (5 rows a-e); v2 re-ingests the second half-day
    // → visible: v1 rows with ts < t0+day/2 (a,b,c) + v2's (x,y)
    writeSegment(new File(root, "seg1"), version = "v1")
    DruidSegmentWriter.write(new File(root, "seg2"), "fixture",
      Seq(t0 + day / 2, t0 + day / 2 + 1000L),
      Seq(StrDim("host", Seq("x", "y")), LongMet("hits", Seq(1L, 2L))),
      t0 + day / 2, t0 + day, version = "v2")
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    val q = df.groupBy("host").agg(count("*").as("n"))
    assert(scanDescription(q).contains("PushedGroupBy: [host]"), scanDescription(q))
    val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "x" -> 1L, "y" -> 1L))

    // schema evolution: a segment WITHOUT the grouped dim contributes
    // its window rows to the null group
    val root2 = tmpDir()
    writeSegment(new File(root2, "seg1"))
    DruidSegmentWriter.write(new File(root2, "seg2"), "fixture",
      Seq(t0 + day, t0 + day + 1000L),
      Seq(StrDim("country", Seq("US", "DE")), LongMet("clicks", Seq(7L, 8L))),
      t0 + day, t0 + 2 * day, version = "v1")
    val df2 = spark.read.format("druid-segments").load(root2.getAbsolutePath)
    val q2 = df2.groupBy("host").agg(count("*").as("n"))
    assert(scanDescription(q2).contains("PushedGroupBy: [host]"), scanDescription(q2))
    val got2 = q2.collect().map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    assert(got2 == Map(Some("a") -> 1L, Some("b") -> 1L, Some("c") -> 1L,
      Some("d") -> 1L, Some("e") -> 1L, (None: Option[String]) -> 2L), s"got $got2")
  }

  test("dsv2 aggregate pushdown: partial overshadow counts only timeline-visible rows") {
    import org.apache.spark.sql.functions.{count, max, min}
    val root = tmpDir()
    // v1 covers the whole day (5 rows, every day/5); v2 re-ingests only
    // the second half-day with 2 rows — visible = v1's first-half rows
    // (ts < t0+day/2: indices 0,1,2) + v2's 2 rows
    writeSegment(new File(root, "seg1"), version = "v1")
    DruidSegmentWriter.write(new File(root, "seg2"), "fixture",
      Seq(t0 + day / 2, t0 + day / 2 + 1000L),
      Seq(StrDim("host", Seq("x", "y")), LongMet("hits", Seq(1L, 2L))),
      t0 + day / 2, t0 + day, version = "v2")
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    val q = df.agg(count("*").as("n"), min("__time").as("lo"), max("__time").as("hi"))
    assert(scanDescription(q).contains("PushedAggregates"), scanDescription(q))
    val r = q.collect().head
    assert(r.getLong(0) == 5L, "3 visible v1 rows + 2 v2 rows")
    assert(r.getLong(1) == t0)
    assert(r.getLong(2) == t0 + day / 2 + 1000L)
    // cross-check against the non-agg (full row decode) path
    assert(df.collect().length == 5)
  }

  test("dsv2 runtime filtering: join-side dim values skip segments; __time values drop windows") {
    import org.apache.spark.sql.functions.{broadcast, col}
    import org.apache.spark.sql.sources.{EqualTo, In}
    val root = tmpDir()
    writeSegment(new File(root, "seg1")) // day 1: hosts a-e
    writeSegment(new File(root, "seg2"), intervalStart = t0 + day, intervalEnd = t0 + 2 * day,
      hosts = Seq("f", "g", "h", "i", "j"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)

    // the Scan offers __time and every string dim for runtime filtering
    val scan = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.get.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    val attrs = scan.filterAttributes().map(_.fieldNames.mkString(".")).toSet
    assert(attrs == Set("__time", "host"), attrs.toString)

    // dim runtime filter: seg1's dictionary lacks every value → the
    // task short-circuits without decoding a chunk
    val dscan = new DruidScan(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root.getAbsolutePath)),
      df.schema, Array.empty, Long.MinValue, Long.MaxValue, Map.empty)
    dscan.filter(Array[org.apache.spark.sql.sources.Filter](In("host", Array("f", "g"))))
    val parts = dscan.planInputPartitions()
    assert(parts.length == 2, "dim pruning is task-side; both windows plan")
    assert(parts.forall(_.asInstanceOf[DruidInputPartition]
      .preds.get("host").exists(_.nonEmpty)))

    // __time runtime filter: out-of-range windows never become tasks
    val tscan = new DruidScan(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root.getAbsolutePath)),
      df.schema, Array.empty, Long.MinValue, Long.MaxValue, Map.empty)
    tscan.filter(Array[org.apache.spark.sql.sources.Filter](In("__time", Array(Long.box(t0 + day), Long.box(t0 + day + 5000L)))))
    assert(tscan.planInputPartitions().length == 1, "day-1 window must be runtime-pruned")
    // an all-null build side prunes everything
    val escan = new DruidScan(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root.getAbsolutePath)),
      df.schema, Array.empty, Long.MinValue, Long.MaxValue, Map.empty)
    escan.filter(Array[org.apache.spark.sql.sources.Filter](In("__time", Array.empty[Any])))
    assert(escan.planInputPartitions().isEmpty)
    // equality form
    val eqscan = new DruidScan(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root.getAbsolutePath)),
      df.schema, Array.empty, Long.MinValue, Long.MaxValue, Map.empty)
    eqscan.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("host", "f"), EqualTo("__time", Long.box(t0 + day))))
    assert(eqscan.planInputPartitions().length == 1)

    // end-to-end: Spark injects a dynamic-pruning subquery on the join
    // key (DPP over DSv2), and only the matching segment decodes. The
    // dim side must be FILE-backed: a local relation constant-folds
    // its Filter away and Spark no longer sees a selective predicate
    // to prune with.
    val dimPath = new File(root, "dimtab").getAbsolutePath
    spark.createDataFrame(Seq(("f", "keep"), ("g", "keep"), ("x", "drop")))
      .toDF("host", "grp").write.mode("overwrite").parquet(dimPath)
    val dim = broadcast(spark.read.parquet(dimPath).where(col("grp") === "keep"))
    val q = df.join(dim, "host").select("host", "hits")
    val rows = q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("f", 10L), ("g", 20L)))
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruningexpression"),
      s"expected a DPP runtime filter on the druid scan, plan:\n$planStr")
    DruidSegmentReader.decodedSegments.set(0)
    assert(q.collect().length == 2)
    assert(DruidSegmentReader.decodedSegments.get() == 1,
      s"runtime dim filter must dictionary-skip seg1, plan:\n$planStr")
  }

  test("dsv2 reported ordering: __time sort is eliminated; writer restores the invariant") {
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    // per-partition sort requirement: the reported ordering satisfies
    // it, so no Sort node plans (a GLOBAL order-by still exchanges —
    // Spark's V2 scans never report SinglePartition)
    val q = df.select("__time", "host").sortWithinPartitions("__time")
    val ts = q.collect().map(_.getLong(0)).toSeq
    assert(ts == ts.sorted && ts.length == 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*\\bSort \\[.*"),
      s"reported __time ordering must eliminate the per-partition Sort:\n$plan")

    // the invariant's source: unsorted input is sorted AT WRITE —
    // rows permute together, equal-time rows stay stable
    val root2 = tmpDir()
    DruidSegmentWriter.write(new File(root2, "seg1"), "fixture",
      Seq(t0 + 3000L, t0 + 1000L, t0 + 2000L),
      Seq(StrDim("host", Seq("c", "a", "b")), LongMet("hits", Seq(3L, 1L, 2L))),
      t0, t0 + day)
    val rows = spark.read.format("druid-segments").load(root2.getAbsolutePath)
      .select("__time", "host", "hits").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((t0 + 1000L, "a", 1L), (t0 + 2000L, "b", 2L), (t0 + 3000L, "c", 3L)))
  }

  test("dsv2 limit pushdown: partial per-partition limit stops chunk decode early") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir()
    val n = 200
    DruidSegmentWriter.write(new File(root, "seg1"), "fixture",
      (0 until n).map(i => t0 + i * 1000L),
      Seq(StrDim("host", (0 until n).map(i => f"h$i%03d")),
        LongMet("hits", (0 until n).map(_.toLong))),
      t0, t0 + day)
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    DruidSegmentReader.decompressedChunks.set(0)
    assert(df.collect().length == n)
    val fullChunks = DruidSegmentReader.decompressedChunks.get()
    val limited = df.limit(3)
    assert(scanDescription(limited).contains("PushedLimit: 3"), scanDescription(limited))
    DruidSegmentReader.decompressedChunks.set(0)
    val got = limited.collect()
    assert(got.length == 3)
    assert(got.forall(r => r.getString(1).startsWith("h")))
    val limChunks = DruidSegmentReader.decompressedChunks.get()
    assert(limChunks * 10 <= fullChunks,
      s"limit(3) must stop decode early: $limChunks chunks vs $fullChunks full")
    // approximate dictionary predicates decline the limit (residual
    // filter could be starved by a truncated over-approximate stream)
    val guarded = df.where(col("host") === "h007").limit(1)
    assert(!scanDescription(guarded).contains("PushedLimit"), scanDescription(guarded))
    assert(guarded.collect().map(_.getString(1)).toSeq == Seq("h007"))
    // exact __time bounds + limit compose (both fully source-enforced)
    val timed = df.where(col("__time") >= t0 + 100_000L).limit(2)
    assert(scanDescription(timed).contains("PushedLimit: 2"), scanDescription(timed))
    val timedRows = timed.collect()
    assert(timedRows.length == 2 && timedRows.forall(_.getLong(0) >= t0 + 100_000L))
  }

  test("dsv2 topN pushdown: ORDER BY __time LIMIT n decodes only winning rows") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir()
    val n = 200
    DruidSegmentWriter.write(new File(root, "seg1"), "fixture",
      (0 until n).map(i => t0 + i * 1000L),
      Seq(StrDim("host", (0 until n).map(i => f"h$i%03d")),
        LongMet("hits", (0 until n).map(_.toLong))),
      t0, t0 + day)
    // second segment, later day — global top-n must merge across windows
    DruidSegmentWriter.write(new File(root, "seg2"), "fixture",
      (0 until 3).map(i => t0 + day + i * 1000L),
      Seq(StrDim("host", Seq("x", "y", "z")), LongMet("hits", Seq(1L, 2L, 3L))),
      t0 + day, t0 + 2 * day)
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    DruidSegmentReader.decompressedChunks.set(0)
    assert(df.collect().length == n + 3)
    val fullChunks = DruidSegmentReader.decompressedChunks.get()
    val latest = df.orderBy(col("__time").desc).limit(5)
    assert(scanDescription(latest).contains("PushedTopN: ORDER BY __time DESC LIMIT 5"),
      scanDescription(latest))
    DruidSegmentReader.decompressedChunks.set(0)
    val got = latest.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(
      (t0 + day + 2000L, "z"), (t0 + day + 1000L, "y"), (t0 + day, "x"),
      (t0 + (n - 1) * 1000L, f"h${n - 1}%03d"), (t0 + (n - 2) * 1000L, f"h${n - 2}%03d")),
      s"got ${got.toSeq}")
    val topChunks = DruidSegmentReader.decompressedChunks.get()
    // the __time column scans fully (heap input) but dims decode only
    // for the <=5 winners per window
    assert(topChunks * 2 <= fullChunks,
      s"topN decode must skip losing rows' dims: $topChunks vs $fullChunks")
    // ascending works and respects an exactly-pushed time bound
    val first = df.where(col("__time") >= t0 + 10_000L)
      .orderBy(col("__time")).limit(2)
    assert(scanDescription(first).contains("PushedTopN: ORDER BY __time ASC LIMIT 2"),
      scanDescription(first))
    assert(first.collect().map(_.getLong(0)).toSeq ==
      Seq(t0 + 10_000L, t0 + 11_000L))
    // dictionary predicate → declined, still correct
    val guarded = df.where(col("host") === "h005").orderBy(col("__time")).limit(1)
    assert(!scanDescription(guarded).contains("PushedTopN"), scanDescription(guarded))
    assert(guarded.collect().map(_.getString(1)).toSeq == Seq("h005"))
    // ordering by a non-__time column → declined, correct via full sort
    val byHits = df.orderBy(col("hits").desc).limit(1)
    assert(!scanDescription(byHits).contains("PushedTopN"), scanDescription(byHits))
    assert(byHits.collect().head.getLong(2) == (n - 1).toLong)
  }

  test("writer rejects rows outside the declared interval (the aggregate fast-path contract)") {
    val root = tmpDir()
    intercept[IllegalArgumentException] {
      DruidSegmentWriter.write(new File(root, "bad"), "fixture",
        Seq(t0 - 1000L, t0), // first row precedes the interval
        Seq(StrDim("host", Seq("a", "b")), LongMet("hits", Seq(1L, 2L))),
        t0, t0 + day)
    }
  }

  test("dsv2: estimateStatistics reports real bytes, caches, and never reports 0 on failure") {
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    val stats = df.queryExecution.optimizedPlan.stats
    val zipLen = new File(new File(root, "seg1"), "index.zip").length()
    assert(stats.sizeInBytes == BigInt(zipLen),
      s"sizeInBytes ${stats.sizeInBytes} must equal index.zip bytes $zipLen")
  }

  test("dsv2 partition reader: next() advances, get() returns the current row") {
    val root = tmpDir()
    writeSegment(new File(root, "seg1"))
    writeSegment(new File(root, "seg2"), hosts = Seq("f", "g", "h"),
      intervalStart = t0 + day, intervalEnd = t0 + 2 * day)
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    val scan = new DruidScan(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root.getAbsolutePath)),
      df.schema, Array.empty, Long.MinValue, Long.MaxValue, Map.empty)
    val factory = scan.createReaderFactory()
    val (hostAt, hitsAt) = (df.schema.fieldIndex("host"), df.schema.fieldIndex("hits"))
    val seen = scan.planInputPartitions().toSeq.flatMap { p =>
      val reader = factory.createReader(p)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      try while (reader.next()) {
        val first = reader.get()
        val a = (first.getUTF8String(hostAt).toString, first.getLong(hitsAt))
        val second = reader.get()
        val b = (second.getUTF8String(hostAt).toString, second.getLong(hitsAt))
        assert(a == b, "a second get() must not skip a row")
        out += a
      } finally reader.close()
      out
    }
    assert(seen.sorted == Seq(("a", 10L), ("b", 20L), ("c", 30L), ("d", 40L), ("e", 50L),
      ("f", 10L), ("g", 20L), ("h", 30L)))
  }

  test("dsv2 SQL metrics: segments decoded, chunks decompressed and rows emitted per scan") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.col
    object Plans extends AdaptiveSparkPlanHelper
    val root = tmpDir()
    // 4 daily segments of 60 rows; SizePer=2 → ~30 chunks per column.
    // "rare" sits on one row of segment 2 only
    val n = 60
    (0 until 4).foreach { s =>
      val start = t0 + s * day
      val hosts = (0 until n).map(i => if (s == 2 && i == 7) "rare" else f"h${i % 10}%02d")
      DruidSegmentWriter.write(new File(root, s"seg$s"), "fixture",
        (0 until n).map(i => start + i * 1000L),
        Seq(StrDim("host", hosts), LongMet("hits", (0 until n).map(i => (s * n + i).toLong))),
        start, start + day)
    }
    val df = spark.read.format("druid-segments").load(root.getAbsolutePath)
    def run(q: org.apache.spark.sql.DataFrame): (Int, Map[String, Long], Int) = {
      DruidSegmentReader.decompressedChunks.set(0)
      val rows = q.collect().length
      val delta = DruidSegmentReader.decompressedChunks.get()
      val scans = Plans.collect(q.queryExecution.executedPlan) { case s: BatchScanExec => s }
      assert(scans.size == 1)
      val m = Seq("segmentsDecoded", "chunksDecompressed", "rowsEmitted")
        .map(k => k -> scans.head.metrics(k).value).toMap
      (rows, m, delta)
    }
    val (allRows, all, allDelta) = run(df.select("host", "hits"))
    assert(allRows == 4 * n)
    assert(all("segmentsDecoded") == 4 && all("rowsEmitted") == 4 * n, all.toString)
    assert(all("chunksDecompressed") == allDelta, s"$all vs JVM counter delta $allDelta")
    val (rareRows, rare, rareDelta) = run(df.where(col("host") === "rare").select("host", "hits"))
    assert(rareRows == 1)
    // the dictionary skips the 3 segments without "rare"; the bitmap
    // decodes one row of the fourth
    assert(rare("segmentsDecoded") == 1 && rare("rowsEmitted") == 1, rare.toString)
    assert(rare("chunksDecompressed") > 0)
    assert(rare("chunksDecompressed") < all("chunksDecompressed"), s"$rare vs $all")
    assert(rare("chunksDecompressed") == rareDelta, s"$rare vs JVM counter delta $rareDelta")
  }
}

package graft.sources

import java.io.File
import java.nio.file.Files
import graft.SparkSpec
import DruidSegmentWriter._

/** Fixture-driven coverage of the segment shapes the reference's
  * checked-in test-segment lacks (DOUBLE metrics, multi-value dims)
  * plus descriptor-driven deep-storage discovery with overshadowing
  * versions — the reference's DruidInputFormat.java:85-115 path. */
class DruidDeepStorageSpec extends SparkSpec {

  private def tmpDir(): File = Files.createTempDirectory("druid-fixture").toFile

  private val day = 24 * 3600 * 1000L
  private val t0 = java.time.Instant.parse("2020-06-01T00:00:00Z").toEpochMilli

  private def writeSegment(dir: File, version: String = "v1", hosts: Seq[String] = Seq("a", "b", "c", "d", "e"),
                           intervalStart: Long = t0, intervalEnd: Long = t0 + day,
                           dataSource: String = "fixture"): Unit = {
    val n = hosts.size
    val times = (0 until n).map(i => intervalStart + i * ((intervalEnd - intervalStart) / n))
    DruidSegmentWriter.write(dir, dataSource, times,
      Seq(
        StrDim("host", hosts),
        MvDim("tags", (0 until n).map {
          case 0 => Seq("x", "y")
          case 1 => Seq.empty[String]
          case 2 => Seq("y")
          case i => Seq("x", "z", s"t$i")
        }),
        LongMet("hits", (1 to n).map(_ * 10L)),
        FloatMet("load", (1 to n).map(_ * 0.5f)),
        DoubleMet("revenue", (1 to n).map(_ * 1.25)),
        ComplexMet("sketch", "hyperUnique", (1 to n).map(i => Array.fill(8)(i.toByte)))),
      intervalStart, intervalEnd, version = version)
  }

  test("DOUBLE metric columns decode as doubles, not complex bytes") {
    val dir = tmpDir(); writeSegment(dir)
    val df = DruidSegmentReader.read(spark, Seq(dir.getAbsolutePath))
    import org.apache.spark.sql.types._
    assert(df.schema("revenue").dataType == DoubleType)
    val got = df.orderBy("__time").collect().map(_.getAs[Double]("revenue")).toSeq
    assert(got == (1 to 5).map(_ * 1.25))
  }

  test("multi-value string dims decode as array<string> (incl. empty rows)") {
    val dir = tmpDir(); writeSegment(dir)
    val df = DruidSegmentReader.read(spark, Seq(dir.getAbsolutePath))
    import org.apache.spark.sql.types._
    assert(df.schema("tags").dataType == ArrayType(StringType))
    val got = df.orderBy("__time").collect()
      .map(_.getAs[scala.collection.Seq[String]]("tags").toList).toSeq
    assert(got == Seq(List("x", "y"), List(), List("y"), List("x", "z", "t3"), List("x", "z", "t4")))
  }

  test("all supplier types round-trip through multi-chunk LZ4 columns") {
    val dir = tmpDir(); writeSegment(dir)
    val rows = DruidSegmentReader.read(spark, Seq(dir.getAbsolutePath)).orderBy("__time").collect()
    assert(rows.map(_.getAs[String]("host")).toSeq == Seq("a", "b", "c", "d", "e"))
    assert(rows.map(_.getAs[Long]("hits")).toSeq == Seq(10L, 20L, 30L, 40L, 50L))
    assert(rows.map(_.getAs[Float]("load")).toSeq == Seq(0.5f, 1.0f, 1.5f, 2.0f, 2.5f))
    assert(rows.map(_.getAs[Array[Byte]]("sketch")(0)).toSeq == Seq(1, 2, 3, 4, 5).map(_.toByte))
  }

  test("MV dims feed the Druid groupBy explode semantics downstream") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir(); writeSegment(dir)
    val df = DruidSegmentReader.read(spark, Seq(dir.getAbsolutePath))
      .withColumn("ts", timestamp_millis(col("__time")))
    val out = graft.queries.DruidQueries.run(df, "ts",
      """{"queryType":"groupBy","granularity":"all","dimensions":["tags"],
        |"aggregations":[{"type":"longSum","name":"hits","fieldName":"hits"}]}""".stripMargin)
      .collect().map(r => Option(r.getAs[String]("tags")).getOrElse("<null>") -> r.getAs[Long]("hits")).toMap
    // Druid MV groupBy: a row counts once per value; empty array → null group
    assert(out == Map("x" -> 100L, "y" -> 40L, "z" -> 90L, "t3" -> 40L, "t4" -> 50L, "<null>" -> 20L))
  }

  test("descriptor.json parses — both the reference fixture's and generated ones") {
    val refDesc = new File("/root/reference/druid-mr/src/test/resources/test-segment/descriptor.json")
    assume(refDesc.isFile)
    val d = DruidDeepStorage.parseDescriptor(
      new String(Files.readAllBytes(refDesc.toPath)), "/seg")
    assert(d.dataSource == "testds")
    assert(d.version == "2015-07-15T22:02:40.171Z")
    assert(d.startMs == java.time.Instant.parse("2014-10-22T00:00:00Z").toEpochMilli)
    assert(d.endMs == java.time.Instant.parse("2014-10-23T00:00:00Z").toEpochMilli)
    assert(d.shardNum == 0 && d.numShards == 1)
  }

  test("deep-storage scan resolves the timeline: newer version overshadows, partial overshadow clips") {
    val root = tmpDir()
    // v1 covers the whole day (5 rows); v2 re-ingests ONLY the second
    // half-day with different hosts → first half v1 visible, second
    // half v2 visible
    writeSegment(new File(root, "fixture/day1/v1/0"), version = "v1")
    writeSegment(new File(root, "fixture/day1half2/v2/0"), version = "v2",
      hosts = Seq("n1", "n2"), intervalStart = t0 + day / 2, intervalEnd = t0 + day)

    val segs = DruidDeepStorage.discover(spark, root.getAbsolutePath)
    assert(segs.size == 2)

    val got = DruidDeepStorage.scan(spark, root.getAbsolutePath, "fixture", t0, t0 + day)
      .orderBy("__time").collect().map(_.getAs[String]("host")).toSeq
    // v1's rows at t0 + {0, 1/5, 2/5}·day survive; its {3/5, 4/5} rows
    // are overshadowed by v2's window; v2 contributes n1, n2
    assert(got == Seq("a", "b", "c", "n1", "n2"))
  }

  test("deep-storage scan clips the query interval and applies DimFilter") {
    val root = tmpDir()
    writeSegment(new File(root, "fixture/v1/0"))
    val out = DruidDeepStorage.scan(spark, root.getAbsolutePath, "fixture",
      t0, t0 + day / 2, columns = Seq("host", "hits"),
      filterJson = Some("""{"type":"bound","dimension":"hits","lower":"15","ordering":"numeric"}"""))
      .orderBy("__time").collect()
    // rows 0,1,2 (t0 + {0, .2, .4}·day) are in [t0, t0+day/2);
    // bound hits>=15 keeps rows 1,2
    assert(out.map(_.getAs[String]("host")).toSeq == Seq("b", "c"))
    assert(out(0).length == 3)
  }

  test("filtered scan prunes decode to projection ∪ filter dims (filter dim unprojected)") {
    val root = tmpDir()
    writeSegment(new File(root, "fixture/v1/0"))
    // filter on an UNPROJECTED metric: pruning must still decode it for
    // evaluation, and the final projection must drop it
    val out = DruidDeepStorage.scan(spark, root.getAbsolutePath, "fixture",
      t0, t0 + day, columns = Seq("host"),
      filterJson = Some("""{"type":"bound","dimension":"hits","lower":"25","ordering":"numeric"}"""))
      .orderBy("__time").collect()
    assert(out.map(_.getAs[String]("host")).toSeq.nonEmpty)
    assert(out.head.schema.fieldNames.toSeq == Seq("__time", "host"),
      "filter column must not leak into the projected output")
  }

  test("interval missing every segment yields empty with the right schema") {
    val root = tmpDir()
    writeSegment(new File(root, "fixture/v1/0"))
    val df = DruidDeepStorage.scan(spark, root.getAbsolutePath, "fixture",
      t0 - 10 * day, t0 - 9 * day)
    assert(df.columns.contains("revenue"))
    assert(df.count() == 0)
  }

  test("discovery walks a nested tree in listFiles order, skipping .crc and stray files") {
    val root = tmpDir()
    val fs = new org.apache.hadoop.fs.Path(root.getAbsolutePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two dataSources at different depths, interleaved with stray files
    writeSegment(new File(root, "fixture/day1/v1/0"))
    writeSegment(new File(root, "fixture/day1/v1/1"), hosts = Seq("p", "q"))
    writeSegment(new File(root, "fixture/day2/v2/0"), version = "v2",
      intervalStart = t0 + day, intervalEnd = t0 + 2 * day)
    writeSegment(new File(root, "other/a/b/c/v1/0"), dataSource = "other")
    writeSegment(new File(root, "other/d/v1/0"), dataSource = "other",
      intervalStart = t0 + day, intervalEnd = t0 + 2 * day)
    writeSegment(new File(root, "top"), dataSource = "other",
      intervalStart = t0 + 2 * day, intervalEnd = t0 + 3 * day)
    // re-write one descriptor through the Hadoop API, so a real
    // `.descriptor.json.crc` sidecar sits next to it
    val desc = new org.apache.hadoop.fs.Path(s"$root/fixture/day1/v1/1/descriptor.json")
    val bytes = Files.readAllBytes(new File(desc.toUri.getPath).toPath)
    fs.delete(desc, false)
    val out = fs.create(desc); try out.write(bytes) finally out.close()
    assert(new File(s"$root/fixture/day1/v1/1/.descriptor.json.crc").isFile)
    // stray non-descriptor files, dirs without segments, a decoy name
    for (rel <- Seq("README", "fixture/notes.txt", "fixture/day1/descriptor.json.bak",
                    "other/a/descriptor.jsonx", "staging/deeper/x.tmp")) {
      val o = fs.create(new org.apache.hadoop.fs.Path(s"$root/$rel"))
      try o.write(Array[Byte](1, 2, 3)) finally o.close()
    }
    assert(new File(root, "empty").mkdir())

    // the order `listFiles(root, true)` yields is the reference:
    // union-schema column order is first-seen over it
    val want = scala.collection.mutable.ArrayBuffer[String]()
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(root.getAbsolutePath), true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName == "descriptor.json") want += f.getParent.toString
    }
    val got = DruidDeepStorage.discover(spark, root.getAbsolutePath)
    assert(want.size == 6)
    assert(got.map(_.path) == want.toSeq)
    assert(got.map(_.dataSource).groupBy(identity).view.mapValues(_.size).toMap ==
      Map("fixture" -> 3, "other" -> 3))
    val byPath = got.map(d => new File(new java.net.URI(d.path).getPath).getAbsolutePath -> d).toMap
    val d2 = byPath(s"$root/fixture/day2/v2/0")
    assert(d2.version == "v2" && d2.startMs == t0 + day && d2.endMs == t0 + 2 * day)
    assert(byPath(s"$root/top").dataSource == "other")

    // a missing root still throws FileNotFoundException (a fresh-root
    // write's schema inference and the stream's first poll rely on it)
    intercept[java.io.FileNotFoundException] {
      DruidDeepStorage.discover(spark, s"$root/no-such-root")
    }
  }
}

package graft.sources

import graft.SparkSpec

/** Decodes the reference repo's real Druid v9 test segment
  * (druid-mr/src/test/resources/test-segment: descriptor.json +
  * index.zip) — known contents per its `note` file: three hourly rows
  * on 2014-10-22 with host a/b/c.example.com, visited_sum 100/150/200,
  * and a cardinality-1 hyperUnique sketch each. */
class DruidSegmentReaderSpec extends SparkSpec {

  private val segDir = "/root/reference/druid-mr/src/test/resources/test-segment"

  private def available: Boolean = new java.io.File(s"$segDir/index.zip").isFile

  test("schema derives from the segment's own column metadata") {
    assume(available)
    val schema = DruidSegmentReader.segmentSchema(spark, segDir)
    assert(schema.fieldNames.toSeq == Seq("__time", "host", "unique_hosts", "visited_sum"))
    import org.apache.spark.sql.types._
    assert(schema("__time").dataType == LongType)
    assert(schema("host").dataType == StringType)
    assert(schema("visited_sum").dataType == LongType)
    assert(schema("unique_hosts").dataType == BinaryType)
  }

  test("decodes the fixture's rows exactly") {
    assume(available)
    val rows = DruidSegmentReader.read(spark, Seq(segDir))
      .orderBy("__time").collect()
    assert(rows.length == 3)
    val t0 = java.time.Instant.parse("2014-10-22T00:00:00Z").toEpochMilli
    val hour = 3600 * 1000L
    assert(rows.map(_.getAs[Long]("__time")).toSeq == Seq(t0, t0 + hour, t0 + 2 * hour))
    assert(rows.map(_.getAs[String]("host")).toSeq ==
      Seq("a.example.com", "b.example.com", "c.example.com"))
    assert(rows.map(_.getAs[Long]("visited_sum")).toSeq == Seq(100L, 150L, 200L))
    // complex metric surfaces as non-empty sketch bytes
    assert(rows.forall(_.getAs[Array[Byte]]("unique_hosts").nonEmpty))
  }

  test("hyperUnique sketch bytes estimate and merge (Druid HLL format)") {
    assume(available)
    import org.apache.spark.sql.functions.col
    val df = DruidSegmentReader.read(spark, Seq(segDir))
    // each row's sketch holds exactly one host
    val perRow = df.select(
      graft.functions.DruidHll.druid_hll_estimate(col("unique_hosts")).as("e"))
      .collect().map(_.getDouble(0))
    assert(perRow.length == 3)
    perRow.foreach(e => assert(math.abs(e - 1.0) < 0.1, s"estimate $e != ~1"))
    // merged across rows: three distinct hosts
    val merged = df.agg(
      graft.functions.DruidHll.druid_hll_estimate(
        graft.functions.DruidHll.druid_hll_merge_agg(col("unique_hosts"))).as("e"))
      .collect()(0).getDouble(0)
    assert(math.abs(merged - 3.0) < 0.3, s"merged estimate $merged != ~3")
  }

  test("column pruning decodes only the requested columns") {
    assume(available)
    val out = DruidSegmentReader.read(spark, Seq(segDir), columns = Seq("visited_sum"))
    assert(out.columns.toSeq == Seq("__time", "visited_sum"))
    assert(out.orderBy("__time").collect().map(_.getLong(1)).toSeq == Seq(100L, 150L, 200L))
  }

  test("multi-segment read unions rows across segment dirs") {
    assume(available)
    // same dir twice stands in for two shards/chunks of one datasource
    val rows = DruidSegmentReader.read(spark, Seq(segDir, segDir)).collect()
    assert(rows.length == 6)
  }

  test("Druid JSON queries run over migrated segment rows") {
    assume(available)
    import org.apache.spark.sql.functions._
    // the reference's whole story: read segments, run Druid-style
    // aggregations downstream. __time arrives as epoch millis.
    val df = DruidSegmentReader.read(spark, Seq(segDir))
      .withColumn("ts", timestamp_millis(col("__time")))
    val out = graft.queries.DruidQueries.run(df, "ts",
      """{"queryType":"timeseries","granularity":"day",
        |"aggregations":[
        |  {"type":"count","name":"rows"},
        |  {"type":"longSum","name":"visits","fieldName":"visited_sum"}]}""".stripMargin)
      .collect()
    assert(out.length == 1) // one day
    assert(out(0).getAs[Long]("rows") == 3L)
    assert(out(0).getAs[Long]("visits") == 450L)
    // migrated hyperUnique metrics re-aggregate via the Druid HLL
    // merge (NOT the datasketches hyperUnique agg — different bytes)
    val uniques = df.agg(graft.functions.DruidHll.druid_hll_estimate(
        graft.functions.DruidHll.druid_hll_merge_agg(col("unique_hosts"))))
      .collect()(0).getDouble(0)
    assert(math.abs(uniques - 3.0) < 0.3)
  }

  test("vsize ints decode tolerates real Druid's end-of-chunk padding") {
    // CompressedVSizeColumnarInts pads each chunk buffer by
    // (4 - numBytes) bytes so value reads through a 4-byte window
    // can't run off the end — a FULL padded chunk decompresses LARGER
    // than sizePer×numBytes. Build one by hand (numBytes=1, sizePer=4,
    // 8 values → two full chunks, each padded with 3 zero bytes) and
    // decode it; an intolerant reader throws on decompress overflow.
    import java.nio.ByteBuffer
    val values = Array(7, 1, 255, 0, 42, 9, 128, 3)
    val sizePer = 4
    val comp = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val chunks = values.grouped(sizePer).map { g =>
      comp.compress(g.map(_.toByte) ++ Array[Byte](0, 0, 0)) // + padding
    }.toSeq
    // GenericIndexed v1 of the chunks
    val offsets = chunks.scanLeft(0)(_ + _.length + 4).tail
    val giBody = ByteBuffer.allocate(4 + offsets.size * 4 + chunks.map(_.length + 4).sum)
    giBody.putInt(chunks.size)
    offsets.foreach(giBody.putInt)
    chunks.foreach { c => giBody.putInt(c.length); giBody.put(c) }
    val gi = ByteBuffer.allocate(2 + 4 + giBody.position())
      .put(1.toByte).put(0.toByte).putInt(giBody.position())
      .put(giBody.array(), 0, giBody.position())
    val col = ByteBuffer.allocate(1 + 1 + 4 + 4 + 1 + gi.position())
      .put(2.toByte)            // version
      .put(1.toByte)            // numBytes
      .putInt(values.length)    // totalSize
      .putInt(sizePer)          // sizePer
      .put(0x1.toByte)          // LZ4
      .put(gi.array(), 0, gi.position())
    col.flip()
    val got = DruidSegmentReader.compressedVSizeInts(col, new DruidSegmentReader.DecodeCounts)
    assert(got.length == values.length)
    assert((0 until got.length).map(got(_)) == values.toIndexedSeq)
  }

  test("dictionary short-circuit: a no-match selector decodes ZERO segments") {
    assume(available)
    val t0 = java.time.Instant.parse("2014-10-22T00:00:00Z").toEpochMilli
    val day = 24 * 3600 * 1000L
    // value absent from the host dictionary → the per-segment task must
    // skip row decode entirely (Druid's dictionary test), not decode
    // and filter
    DruidSegmentReader.decodedSegments.set(0)
    val none = DruidSegmentReader.scan(spark, Seq(segDir), t0, t0 + day,
      filterJson = Some("""{"type":"selector","dimension":"host","value":"zzz.nope"}"""))
      .collect()
    assert(none.isEmpty)
    assert(DruidSegmentReader.decodedSegments.get() == 0,
      "no-match selector must skip row decode")
    // sanity: a matching selector still decodes (and the probe sees it)
    DruidSegmentReader.decodedSegments.set(0)
    val some = DruidSegmentReader.scan(spark, Seq(segDir), t0, t0 + day,
      filterJson = Some("""{"type":"selector","dimension":"host","value":"b.example.com"}"""))
      .collect()
    assert(some.length == 1)
    assert(DruidSegmentReader.decodedSegments.get() == 1)
    // and an IN filter with one present value must NOT short-circuit
    DruidSegmentReader.decodedSegments.set(0)
    val in = DruidSegmentReader.scan(spark, Seq(segDir), t0, t0 + day,
      filterJson = Some(
        """{"type":"in","dimension":"host","values":["zzz.nope","a.example.com"]}"""))
      .collect()
    assert(in.length == 1 && DruidSegmentReader.decodedSegments.get() == 1)
  }

  test("bitmap region of the REAL reference segment parses and prunes exactly") {
    // the fixture was written by actual Druid (2015) whose column
    // descriptor declares {"bitmapSerdeFactory":{"type":"concise"}} —
    // parsing IT (not just this repo's writer output) is what proves
    // both the layout knowledge AND the CONCISE container assumption
    // (raw big-endian word array, no length header) right against
    // authentic ConciseBitmapSerdeFactory bytes.
    // Known contents: hourly rows 0/1/2 = host a/b/c.example.com.
    assume(available)
    val file = DruidSegmentReader.openSegment(
      spark.sparkContext.hadoopConfiguration, segDir)
    val hostJson = new String(file("host"),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(hostJson.contains("\"bitmapSerdeFactory\":{\"type\":\"concise\"}"),
      "fixture must exercise the CONCISE serde path (it is a pre-0.18 segment)")
    val b = DruidSegmentReader.bitmapRowSet(file, "host", Set("b.example.com"))
    assert(b.isDefined, "real-Druid bitmap region must parse (not fall back)")
    assert(b.get.toArray.toSeq == Seq(1), "b.example.com is exactly row 1")
    val ac = DruidSegmentReader.bitmapRowSet(file, "host",
      Set("a.example.com", "c.example.com"))
    assert(ac.get.toArray.toSeq == Seq(0, 2))
    assert(DruidSegmentReader.bitmapRowSet(file, "host", Set("zzz.nope"))
      .get.isEmpty, "absent value → empty bitmap, not None")
    assert(DruidSegmentReader.bitmapRowSet(file, "visited_sum", Set("100"))
      .isEmpty, "non-string column → None (no pruning), never empty")
  }

  test("window clip prunes dim/metric decode to window selectivity") {
    import graft.sources.{DruidSegmentWriter => W}
    val dir = java.nio.file.Files.createTempDirectory("graft-winclip").toFile
    val t0 = java.time.Instant.parse("2022-01-01T00:00:00Z").toEpochMilli
    val n = 200
    // 5 value columns × ~100 chunks each (SizePer=2): chunk
    // decompressions measure how much of the segment a windowed read
    // actually decodes
    W.write(dir, "winclip", (0 until n).map(i => t0 + i * 1000L),
      Seq(W.StrDim("host", (0 until n).map(i => f"h$i%03d"))) ++
        (1 to 4).map(m => W.LongMet(s"m$m", (0 until n).map(i => (i * m).toLong))),
      t0, t0 + n * 1000L)
    val win = Seq((dir.getAbsolutePath, Long.MinValue, Long.MaxValue))
    DruidSegmentReader.decompressedChunks.set(0)
    assert(DruidSegmentReader.readWindowed(spark, win).collect().length == n)
    val fullChunks = DruidSegmentReader.decompressedChunks.get()
    // a 2-row window: the __time pre-scan may touch every __time chunk,
    // but dim/metric chunks decode ONLY for in-window rows
    DruidSegmentReader.decompressedChunks.set(0)
    val got = DruidSegmentReader.readWindowed(spark,
      Seq((dir.getAbsolutePath, t0 + 50_000L, t0 + 52_000L))).collect()
    assert(got.map(_.getAs[String]("host")).sorted.toSeq == Seq("h050", "h051"))
    assert(got.map(_.getAs[Long]("m4")).sorted.toSeq == Seq(200L, 204L))
    val winChunks = DruidSegmentReader.decompressedChunks.get()
    assert(winChunks * 4 <= fullChunks,
      s"windowed decode must track window selectivity: $winChunks chunks " +
        s"for 2/$n rows vs $fullChunks for the full scan")
  }

  test("CONCISE self-check: only bitmaps exactly covering [0, rows) are trusted") {
    import java.nio.ByteBuffer
    def words(ws: Int*): Array[Byte] = {
      val b = ByteBuffer.allocate(4 * ws.size); ws.foreach(b.putInt); b.array()
    }
    def idx(mv: Boolean, entries: Array[Byte]*) =
      new DruidSegmentReader.DimBitmapIndex(
        entries.indices.map(i => s"v$i"), mv, "concise", entries.toIndexedSeq)
    // valid partition of [0,3): {0,2} ∪ {1} — trusted
    val ok = idx(mv = false, words(0x80000005), words(0x80000002))
    assert(DruidSegmentReader.conciseIndexValid(ok, 3))
    // a wrong container decode typically yields overlap or gaps:
    // overlap {0,2}/{0} fails the single-value disjointness sum…
    val overlap = idx(mv = false, words(0x80000005), words(0x80000001))
    assert(!DruidSegmentReader.conciseIndexValid(overlap, 3))
    // …but IS acceptable coverage for a multi-value dim
    assert(DruidSegmentReader.conciseIndexValid(
      idx(mv = true, words(0x80000005), words(0x80000002)), 3))
    // gap: {0,2} alone misses row 1
    assert(!DruidSegmentReader.conciseIndexValid(
      idx(mv = false, words(0x80000005)), 3))
    // out-of-range: a stray high bit past numRows
    assert(!DruidSegmentReader.conciseIndexValid(
      idx(mv = false, words(0x80000005), words(0x80000002, 0x80000001)), 3))
    // and the REAL 2015 Druid segment still passes end-to-end (its
    // pruning asserts live in the test above); garbage never should.
  }

  test("CONCISE structural check rejects random word soup (property)") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    // random word arrays decode to SOME bitmap, but the probability
    // that a handful of them exactly partitions [0, rows) is
    // negligible — the self-check must say no
    val gen = for {
      n <- Gen.choose(2, 6)
      words <- Gen.listOfN(n, Gen.listOfN(3, Gen.choose(Int.MinValue, Int.MaxValue)))
    } yield words
    val prop = Prop.forAll(gen) { words =>
      val entries = words.map { ws =>
        val b = java.nio.ByteBuffer.allocate(4 * ws.size)
        ws.foreach(b.putInt); b.array()
      }.toIndexedSeq
      val idx = new DruidSegmentReader.DimBitmapIndex(
        entries.indices.map(i => s"v$i"), false, "concise", entries)
      !DruidSegmentReader.conciseIndexValid(idx, 100000)
    }
    val res = ScTest.check(ScTest.Parameters.default
      .withMinSuccessfulTests(200)
      .withInitialSeed(org.scalacheck.rng.Seed(0xA11CE)), prop)
    assert(res.passed, res.status.toString)
  }

  test("CONCISE decoder: literal, zero-fill and one-fill words with flipped bits") {
    import java.nio.ByteBuffer
    def words(ws: Int*): Array[Byte] = {
      val b = ByteBuffer.allocate(4 * ws.size); ws.foreach(b.putInt); b.array()
    }
    // literal {0,2} · zero-fill 2 blocks flipped@3 → {31+2} · literal {93}
    val a = DruidSegmentReader.conciseToBitmap(words(
      0x80000005, (3 << 25) | 1, 0x80000001)).toArray.toSeq
    assert(a == Seq(0, 2, 33, 93))
    // one-fill 1 block flipped@2 → 0..30 minus 1
    val b = DruidSegmentReader.conciseToBitmap(words(
      0x40000000 | (2 << 25))).toArray.toSeq
    assert(b == (0 to 30).filter(_ != 1))
    // plain zero-fill contributes nothing but advances the offset
    val c = DruidSegmentReader.conciseToBitmap(words(0x00000000, 0x80000001)).toArray.toSeq
    assert(c == Seq(31))
  }

  test("scan clips interval, projects, and applies DimFilter JSON") {
    assume(available)
    val t0 = java.time.Instant.parse("2014-10-22T00:00:00Z").toEpochMilli
    val hour = 3600 * 1000L
    val out = DruidSegmentReader.scan(spark, Seq(segDir),
      t0, t0 + 2 * hour, // first two hours only
      columns = Seq("host", "visited_sum"),
      filterJson = Some("""{"type":"selector","dimension":"host","value":"b.example.com"}"""))
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("host") == "b.example.com")
    assert(out(0).getAs[Long]("visited_sum") == 150L)
    assert(out(0).length == 3) // __time + 2 projected
  }

  test("segment schema cache stays bounded and keeps answering correctly") {
    import graft.sources.{DruidSegmentWriter => W}
    val root = java.nio.file.Files.createTempDirectory("graft-schemacache").toFile
    val t0 = java.time.Instant.parse("2022-01-01T00:00:00Z").toEpochMilli
    // two alternating schemas, so an answer served from the wrong
    // entry shows
    def want(k: Int): Seq[String] = if (k % 2 == 0) Seq("__time", "host") else Seq("__time", "hits")
    val dirs = (0 until graft.BoundedCache.MaxEntries + 40).map { k =>
      val dir = new java.io.File(root, s"seg$k")
      W.write(dir, "cache", Seq(t0),
        if (k % 2 == 0) Seq(W.StrDim("host", Seq(s"h$k"))) else Seq(W.LongMet("hits", Seq(k.toLong))),
        t0, t0 + 1000L)
      dir.getAbsolutePath
    }
    val conf = spark.sparkContext.hadoopConfiguration
    for (_ <- 1 to 2; (d, k) <- dirs.zipWithIndex) {
      assert(DruidSegmentReader.segmentSchema(conf, d).fieldNames.toSeq == want(k), d)
      assert(DruidSegmentReader.schemaCache.size <= graft.BoundedCache.MaxEntries)
    }
  }
}

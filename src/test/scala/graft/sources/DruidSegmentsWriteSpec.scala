package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DruidSegmentsWriteSpec extends SparkSpec {

  private lazy val s2 = spark
  import s2.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_dsv2_write_").toFile.getAbsolutePath

  private val Day = 86400000L

  private def sample: DataFrame = Seq(
    // two DAY chunks
    (Day * 10 + 5, "a", Seq("x", "y"), 1L, 1.5f, 2.25),
    (Day * 10 + 99, "b", Seq("x"), 2L, 2.5f, 4.5),
    (Day * 10 + 1, "a", Seq("z"), 3L, 0.5f, 1.0), // unsorted within chunk
    (Day * 11 + 7, "c", Seq[String](), 4L, 9.0f, 0.25)
  ).toDF("__time", "host", "tags", "hits", "ratio", "score")

  private def readBack(root: String): Seq[(Long, String, Seq[String], Long, Float, Double)] =
    spark.read.format("druid-segments").load(root)
      .select("__time", "host", "tags", "hits", "ratio", "score")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getSeq[String](2)).getOrElse(Seq.empty),
        r.getLong(3), r.getFloat(4), r.getDouble(5)))
      .sortBy(_._1).toSeq

  test("write → read roundtrip preserves every row, type, and mv dim") {
    val root = freshRoot()
    sample.write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v1").save(root)
    val got = readBack(root)
    val want = sample.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toSeq,
        r.getLong(3), r.getFloat(4), r.getDouble(5)))
      .sortBy(_._1).toSeq
    assert(got == want)
    // layout: one segment per (task, chunk) — 2 chunks here, each with
    // descriptor.json + index.zip, discoverable by the deep store walk
    val segs = DruidDeepStorage.discover(spark, root)
    assert(segs.map(s => (s.startMs, s.endMs)).toSet ==
      Set((Day * 10, Day * 11), (Day * 11, Day * 12)))
    assert(segs.forall(_.version == "v1"))
  }

  test("a read of a missing root fails naming the path; the first write creates it") {
    val root = s"${freshRoot()}/deep" // does not exist yet
    def readFailure(path: String): Throwable = intercept[Exception] {
      spark.read.format("druid-segments").load(path).select("host").collect()
    }
    val missing = readFailure(root)
    assert(missing.isInstanceOf[java.io.FileNotFoundException], missing)
    assert(missing.getMessage.contains(root), missing.getMessage)
    val noSegmentDir = readFailure(s"$root/evw/seg-0")
    assert(noSegmentDir.getMessage.contains(s"$root/evw/seg-0"), noSegmentDir.getMessage)
    // an existing tree with no segments fails on the path as well
    val empty = readFailure(freshRoot())
    assert(empty.getMessage.contains("no segments under"), empty.getMessage)
    sample.write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v1").save(root)
    assert(readBack(root).map(_._1) == sample.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("a user-specified read schema must name columns the segments hold, with their types") {
    val root = freshRoot()
    sample.write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v1").save(root)
    def read(ddl: String) =
      spark.read.format("druid-segments").schema(ddl).load(root).collect()
    // a subset of the segments' columns, with their types, reads
    assert(read("__time BIGINT, hits BIGINT").map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // a misspelled column would read as all-null; a wrong type would
    // decode through the wrong reader — both are refused by name
    for ((ddl, named) <- Seq("__time BIGINT, hots STRING" -> "hots string",
                             "__time STRING, host STRING" -> "__time string")) {
      val e = intercept[IllegalArgumentException](read(ddl))
      assert(e.getMessage.contains(named) && e.getMessage.contains(root), e.getMessage)
    }
  }

  test("a later version overshadows the written chunk only") {
    val root = freshRoot()
    sample.write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v1").save(root)
    // rewrite chunk day-10 with different data at v2
    Seq((Day * 10 + 50, "B", Seq("w"), 100L, 1.0f, 1.0))
      .toDF("__time", "host", "tags", "hits", "ratio", "score")
      .write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v2").save(root)
    val got = readBack(root)
    // day-10 rows replaced by the single v2 row; day-11 v1 row survives
    assert(got == Seq(
      (Day * 10 + 50, "B", Seq("w"), 100L, 1.0f, 1.0),
      (Day * 11 + 7, "c", Seq.empty, 4L, 9.0f, 0.25)))
  }

  test("same-version republish into a chunk is refused") {
    val root = freshRoot()
    sample.write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v1").save(root)
    val e = intercept[Exception] {
      sample.write.format("druid-segments").mode("append")
        .option("dataSource", "evw").option("segmentGranularity", "DAY")
        .option("version", "v1").save(root)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("immutable")), s"got $e")
    // the refused write left no published garbage: still the original rows
    assert(readBack(root).size == 4)
  }

  test("maxRowsPerSegment splits a chunk into numbered shards, read complete") {
    val root = freshRoot()
    val n = 10
    (0 until n).map(i => (Day * 10 + i, s"h$i", i.toLong))
      .toDF("__time", "host", "hits")
      .coalesce(1) // one task → shard split must come from the row cap
      .write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v1").option("maxRowsPerSegment", "3").save(root)
    val segs = DruidDeepStorage.discover(spark, root)
    assert(segs.length == 4, s"expected ceil(10/3)=4 shards, got ${segs.length}")
    assert(segs.map(_.shardNum).sorted == Seq(0, 1, 2, 3))
    assert(segs.forall(_.numShards == 4))
    val got = spark.read.format("druid-segments").load(root)
      .select("__time", "host", "hits").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == (0 until n).map(i => (Day * 10 + i, s"h$i", i.toLong)))
  }

  test("ALL granularity writes one segment spanning the data") {
    val root = freshRoot()
    sample.coalesce(1).write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "ALL")
      .option("version", "v1").save(root)
    val segs = DruidDeepStorage.discover(spark, root)
    assert(segs.length == 1)
    assert(segs.head.startMs == Day * 10 + 1 && segs.head.endMs == Day * 11 + 8)
    assert(readBack(root).size == 4)
  }

  test("uncommitted uploads (no descriptor) stay invisible to discovery") {
    val root = freshRoot()
    sample.write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v1").save(root)
    // simulate a crashed task's orphan: index.zip without descriptor
    val orphan = new java.io.File(s"$root/evw/0_100/v9/orphan")
    orphan.mkdirs()
    Files.write(new java.io.File(orphan, "index.zip").toPath, Array[Byte](1, 2, 3))
    val segs = DruidDeepStorage.discover(spark, root)
    assert(segs.forall(_.version == "v1"), "orphan must not be discovered")
    assert(readBack(root).size == 4)
  }

  test("schema violations fail loudly before any task runs") {
    val root = freshRoot()
    def expectFail(df: DataFrame, fragment: String): Unit = {
      val e = intercept[Exception] {
        df.write.format("druid-segments").mode("append")
          .option("dataSource", "evw").option("version", "v1").save(root)
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains(fragment)), s"expected '$fragment' in $e")
    }
    expectFail(Seq((1L, "a")).toDF("t", "host"), "__time")
    expectFail(Seq((1L, Seq(1, 2))).toDF("__time", "nums"), "cannot write column")
    // null dim refused at write time
    val e = intercept[Exception] {
      Seq((Day * 10 + 1, "a"), (Day * 10 + 2, null))
        .toDF("__time", "host")
        .write.format("druid-segments").mode("append")
        .option("dataSource", "evw").option("version", "vnull").save(root)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null && c.getMessage.contains("null")))
  }

  test("complex (sketch) metrics roundtrip byte-exact with declared types") {
    import graft.functions.DruidHll
    val root = freshRoot()
    // valid dense Druid HLLC sketches built from known register arrays
    def sketch(regs: (Int, Int)*): Array[Byte] = {
      val r = new Array[Int](2048)
      regs.foreach { case (i, v) => r(i) = v }
      DruidHll.toDense(r)
    }
    val s1 = sketch(0 -> 3, 100 -> 5)
    val s2 = sketch(7 -> 2)
    Seq((Day * 10 + 1, "a", s1), (Day * 10 + 2, "b", s2))
      .toDF("__time", "host", "uniq")
      .write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v1")
      .option("complexMetrics", "uniq:hyperUnique").save(root)
    val got = spark.read.format("druid-segments").load(root)
      .select($"host", $"uniq",
        DruidHll.druid_hll_estimate($"uniq").as("est"))
      .orderBy("host").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(java.util.Arrays.equals(got(0).getAs[Array[Byte]](1), s1),
      "sketch bytes must survive the write→read roundtrip exactly")
    assert(java.util.Arrays.equals(got(1).getAs[Array[Byte]](1), s2))
    // the transported sketch still estimates like the original
    assert(got(0).getDouble(2) == DruidHll.estimate(s1))
    // an UNDECLARED binary column fails loudly at planning
    val e = intercept[Exception] {
      Seq((Day * 10 + 1, s1)).toDF("__time", "blob")
        .write.format("druid-segments").mode("append")
        .option("dataSource", "evw").option("version", "v9x").save(root)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("complexMetrics")), s"got $e")
  }

  test("appendShards extends a version instead of refusing or overshadowing") {
    val root = freshRoot()
    def batch(lo: Int, n: Int) =
      (lo until lo + n).map(i => (Day * 10 + i, s"h$i", i.toLong))
        .toDF("__time", "host", "hits").coalesce(1)
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("druid-segments").mode("append")
        .option("dataSource", "evw").option("segmentGranularity", "DAY")
        .option("version", "rt0").option("appendShards", "true").save(root)
    write(batch(0, 3))
    write(batch(3, 3))
    write(batch(6, 3))
    val segs = DruidDeepStorage.discover(spark, root)
    // three appended shards, strictly increasing numbering, one chunk
    assert(segs.map(_.shardNum).sorted == Seq(0, 1, 2), s"got $segs")
    assert(segs.map(_.version).distinct == Seq("rt0"))
    val got = spark.read.format("druid-segments").load(root)
      .select("__time", "host", "hits").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == (0 until 9).map(i => (Day * 10 + i, s"h$i", i.toLong)),
      "appended batches must ACCUMULATE, never overshadow")
    // a later non-append version still overshadows the whole chunk
    batch(0, 1).write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v9").save(root)
    assert(spark.read.format("druid-segments").load(root).count() == 1)
  }

  test("streaming ingestion lands every micro-batch as appended shards") {
    val root = freshRoot()
    val stage = s"$root/_stage"
    val n = 12
    (0 until n).map(i => (Day * 10 + i * 3600 * 1000L, s"h$i", i.toLong))
      .toDF("__time", "host", "hits")
      .repartition(3)
      .write.mode("overwrite").parquet(stage)
    val src = spark.readStream.schema(spark.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    graft.streaming.StreamingDruidIngest.start(
      src, root = s"$root/deep", dataSource = "ds",
      checkpoint = s"$root/ckpt", segmentGranularity = "DAY",
      version = "rt0").awaitTermination()
    val got = spark.read.format("druid-segments").load(s"$root/deep")
      .select("__time", "host", "hits").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq ==
      (0 until n).map(i => (Day * 10 + i * 3600 * 1000L, s"h$i", i.toLong)),
      "every micro-batch row must land exactly once")
    val segs = DruidDeepStorage.discover(spark, s"$root/deep")
    assert(segs.map(_.version).distinct == Seq("rt0"))
    assert(segs.map(_.shardNum).distinct.length == segs.length,
      s"shard ids must be unique: $segs")
    // batch markers recorded
    assert(new java.io.File(s"$root/deep/ds/_batches").listFiles().nonEmpty)
  }

  test("vacuum kills fully-overshadowed segments, spares partial overshadow") {
    val root = freshRoot()
    // v1: ONE segment spanning two days (ALL granularity)
    sample.coalesce(1).write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "ALL")
      .option("version", "v1").save(root)
    // v2 overshadows only day 10 — v1 stays PARTIALLY visible (day 11)
    Seq((Day * 10 + 50, "B", Seq("w"), 100L, 1.0f, 1.0))
      .toDF("__time", "host", "tags", "hits", "ratio", "score")
      .write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v2").save(root)
    assert(DruidDeepStorage.vacuum(spark, root, "evw").isEmpty,
      "a partially-overshadowed segment must survive the kill")
    assert(readBack(root).size == 2) // v2 row + v1's surviving day-11 row
    // now fully overshadow v1's remaining window too → v1 reclaimable
    Seq((Day * 11 + 9, "C", Seq[String](), 7L, 1.0f, 1.0))
      .toDF("__time", "host", "tags", "hits", "ratio", "score")
      .write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v2").save(root)
    val killed = DruidDeepStorage.vacuum(spark, root, "evw")
    assert(killed.length == 1 && killed.head.contains("/v1/"), s"got $killed")
    assert(readBack(root).map(_._2).sorted == Seq("B", "C"))
    // idempotent: nothing left to kill
    assert(DruidDeepStorage.vacuum(spark, root, "evw").isEmpty)
  }

  test("timestamp __time converts to epoch ms") {
    val root = freshRoot()
    Seq(("2024-01-05 10:30:00", "a", 1L))
      .toDF("ts", "host", "hits")
      .select(to_timestamp($"ts").as("__time"), $"host", $"hits")
      .write.format("druid-segments").mode("append")
      .option("dataSource", "evw").option("segmentGranularity", "DAY")
      .option("version", "v1").save(root)
    val got = spark.read.format("druid-segments").load(root)
      .select("__time", "host", "hits").collect()
    val expectMs = java.time.Instant.parse("2024-01-05T10:30:00Z").toEpochMilli
    assert(got.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((expectMs, "a", 1L)))
  }
}

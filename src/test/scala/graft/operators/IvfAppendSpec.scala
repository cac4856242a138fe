package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Incremental IVF maintenance: appending an increment under the
  * index's pinned centroids + bounds must be indistinguishable from a
  * from-scratch rebuild on the union — and drift out of the pinned
  * bounds must refuse, not silently clamp. */
class IvfAppendSpec extends SparkSpec {
  import spark.implicits._

  private def embs = graft.Tables.embeddings(spark, sf())
    .select("vec_id", "embedding")

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  test("SQ8: probe over (build ∪ append) == probe over a rebuild on the union, bit-for-bit") {
    val all = embs
    val prepared = Similarity.prepareQueries(all, "vec_id", "embedding")
      .select($"q_id".as("n_id"), $"q_v".as("n_v"))
    val bounds = Quantization.fitBounds(prepared, "n_v")
    val cents = prepared.orderBy($"n_id").limit(16)
      .select($"n_id".as("c_id"), $"n_v".as("c_v"))
    val q = Similarity.prepareQueries(
      all.filter($"vec_id" < 5), "vec_id", "embedding")

    val incr = java.nio.file.Files.createTempDirectory("ivfapp").toString
    Similarity.writeIvfIndex(all.filter($"vec_id" % 4 =!= 0),
      "vec_id", "embedding", incr, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    Similarity.appendToIvfIndex(all.filter($"vec_id" % 4 === 0),
      "vec_id", "embedding", incr)

    val full = java.nio.file.Files.createTempDirectory("ivffull").toString
    Similarity.writeIvfIndex(all, "vec_id", "embedding", full,
      cells = 16, centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))

    val got = Similarity.queryIvfIndex(spark, incr, q, k = 10, nprobe = 4)
    val want = Similarity.queryIvfIndex(spark, full, q, k = 10, nprobe = 4)
    assert(rows(got) == rows(want)) // every routed cell + ADC score bit

    // append did not break partition pruning: the probe still reads
    // ≤ nprobe of the 16 cell partitions (static IN-list filter)
    val plan = Similarity.queryIvfIndex(spark, incr,
      q.filter($"q_id" === 0), k = 10, nprobe = 4).queryExecution.sparkPlan
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("cells")) => f
    }
    assert(scans.nonEmpty)
    val static = scans.head.partitionFilters
      .filterNot(_.toString.contains("dynamicpruning"))
    assert(static.nonEmpty)
    val parts = scans.head.relation.location.listFiles(
      static, scans.head.dataFilters).length
    assert(parts <= 4, s"expected ≤4 pruned cell partitions, scanned $parts")

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(incr))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(full))
  }

  test("float IVF append: probe over (build ∪ append) == rebuild on the union") {
    val all = embs
    val prepared = Similarity.prepareQueries(all, "vec_id", "embedding")
      .select($"q_id".as("n_id"), $"q_v".as("n_v"))
    val cents = prepared.orderBy($"n_id").limit(16)
      .select($"n_id".as("c_id"), $"n_v".as("c_v"))
    val q = Similarity.prepareQueries(
      all.filter($"vec_id" < 3), "vec_id", "embedding")

    val incr = java.nio.file.Files.createTempDirectory("ivfappf").toString
    Similarity.writeIvfIndex(all.filter($"vec_id" % 4 =!= 0),
      "vec_id", "embedding", incr, cells = 16, centroids0 = Some(cents))
    Similarity.appendToIvfIndex(all.filter($"vec_id" % 4 === 0),
      "vec_id", "embedding", incr)
    val full = java.nio.file.Files.createTempDirectory("ivffullf").toString
    Similarity.writeIvfIndex(all, "vec_id", "embedding", full,
      cells = 16, centroids0 = Some(cents))
    assert(rows(Similarity.queryIvfIndex(spark, incr, q, k = 10, nprobe = 4))
      == rows(Similarity.queryIvfIndex(spark, full, q, k = 10, nprobe = 4)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(incr))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(full))
  }

  test("bounds discipline: out-of-bounds increment refuses; pinned build refuses uncovered corpus; empty append is a no-op") {
    val base = base2d
    val dir = java.nio.file.Files.createTempDirectory("ivfdrift").toString
    Similarity.writeIvfIndex(base, "vec_id", "embedding", dir, cells = 2,
      codec = Similarity.IvfCodec.Sq8(Quantization.fitBounds(base, "embedding")))

    // increment exceeding the pinned hi in dim 1 -> loud refusal
    val drift = Seq((9L, Array(0.5f, 2.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(drift, "vec_id", "embedding", dir)
    }
    assert(e.getMessage.contains("pinned SQ8 bounds"), e.getMessage)

    // dimension mismatch is its own loud failure
    val wrongDim = Seq((9L, Array(0.5f))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(wrongDim, "vec_id", "embedding", dir)
    }
    assert(e2.getMessage.contains("dimension mismatch"), e2.getMessage)

    // empty increment appends nothing and probes stay valid
    val before = spark.read.parquet(s"$dir/cells").count()
    Similarity.appendToIvfIndex(base.filter($"vec_id" > 100),
      "vec_id", "embedding", dir)
    spark.catalog.refreshByPath(s"$dir/cells")
    assert(spark.read.parquet(s"$dir/cells").count() == before)

    // a pinned-bounds BUILD whose corpus exceeds the pin refuses too
    val e3 = intercept[IllegalArgumentException] {
      Similarity.writeIvfIndex(base, "vec_id", "embedding",
        java.nio.file.Files.createTempDirectory("ivfdrift2").toString,
        cells = 2, codec = Similarity.IvfCodec.Sq8(Seq(0.0, 0.0), Seq(0.5, 0.5)))
    }
    assert(e3.getMessage.contains("pinned SQ8 bounds"), e3.getMessage)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def base2d = Seq(
    (1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 1.0f)),
    (3L, Array(0.5f, 0.25f)), (4L, Array(0.25f, 0.75f))
  ).toDF("vec_id", "embedding")

  /** Every file under `dir` with its length — "nothing was written". */
  private def files(dir: String): Set[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val w = java.nio.file.Files.walk(root)
    try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => (root.relativize(f).toString, java.nio.file.Files.size(f))).toSet
    finally w.close()
  }

  /** Messages along an exception's cause chain (a refusal raised inside
    * a Spark write job arrives wrapped). */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("wrong-dimension vectors refuse: float append leaves the index unchanged; float and SQ8 probes refuse") {
    val dir = java.nio.file.Files.createTempDirectory("ivfdim").toString
    Similarity.writeIvfIndex(base2d, "vec_id", "embedding", dir, cells = 2)
    val before = files(dir)
    for (v <- Seq(Array(0.5f, 0.5f, 0.5f), Array(0.5f))) {
      val e = intercept[Exception] {
        Similarity.appendToIvfIndex(Seq((9L, v)).toDF("vec_id", "embedding"),
          "vec_id", "embedding", dir)
      }
      assert(messages(e).contains("stores 2-d vectors"), messages(e))
      assert(files(dir) == before, s"a refused ${v.length}-d append changed the index")
    }
    spark.catalog.refreshByPath(s"$dir/cells")
    assert(spark.read.parquet(s"$dir/cells").count() == 4)

    val sq8 = java.nio.file.Files.createTempDirectory("ivfdimsq8").toString
    Similarity.writeIvfIndex(base2d, "vec_id", "embedding", sq8, cells = 2,
      codec = Similarity.IvfCodec.Sq8(Quantization.fitBounds(base2d, "embedding")))
    val q3 = Similarity.prepareQueries(
      Seq((1L, Array(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding"), "vec_id", "embedding")
    for (p <- Seq(dir, sq8)) {
      val e = intercept[IllegalArgumentException] {
        Similarity.queryIvfIndex(spark, p, q3, k = 2, nprobe = 2).collect()
      }
      assert(e.getMessage.contains("has 3 dims") && e.getMessage.contains("2-d"), e.getMessage)
    }
    for (p <- Seq(dir, sq8))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  }

  test("a code index whose meta is gone refuses append and probe, writing nothing") {
    val q = Similarity.prepareQueries(base2d.filter($"vec_id" === 1), "vec_id", "embedding")
    for (codec <- Seq(
        Similarity.IvfCodec.Sq8(Quantization.fitBounds(base2d, "embedding")),
        Similarity.IvfCodec.Pq(
          Quantization.trainPqCodebook(base2d, "vec_id", "embedding", 2, 2)))) {
      val dir = java.nio.file.Files.createTempDirectory("ivfnometa").toString
      Similarity.writeIvfIndex(base2d, "vec_id", "embedding", dir, cells = 2, codec = codec)
      assert(Similarity.queryIvfIndex(spark, dir, q, k = 2, nprobe = 2).count() > 0)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/meta"))
      val before = files(dir)
      val e1 = intercept[IllegalArgumentException] {
        Similarity.appendToIvfIndex(base2d.filter($"vec_id" === 1)
          .withColumn("vec_id", lit(9L)), "vec_id", "embedding", dir)
      }
      val e2 = intercept[IllegalArgumentException] {
        Similarity.queryIvfIndex(spark, dir, q, k = 2, nprobe = 2)
      }
      for (e <- Seq(e1, e2))
        assert(e.getMessage.contains("no readable meta"), s"$codec: ${e.getMessage}")
      assert(files(dir) == before, s"$codec: a refused call wrote into the index")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class QuantizationSpec extends SparkSpec {

  private lazy val s2 = spark
  import s2.implicits._

  private lazy val embs = Tables.embeddings(spark, sf())

  private def inMemory: Map[Long, Array[Double]] =
    embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def refCodes(all: Map[Long, Array[Double]]): Map[Long, Array[Long]] = {
    val dim = all.head._2.length
    val lo = (0 until dim).map(i => all.values.map(_(i)).min).toArray
    val hi = (0 until dim).map(i => all.values.map(_(i)).max).toArray
    all.view.mapValues { v =>
      v.indices.map { i =>
        if (hi(i) == lo(i)) 0L
        else {
          val q = math.floor((v(i) - lo(i)) * 255.0 / (hi(i) - lo(i)))
          if (q < 0) 0L else if (q > 255) 255L else q.toLong
        }
      }.toArray
    }.toMap
  }

  test("int8 codes match an in-memory reference of the same formula") {
    val all = inMemory
    val (los, his) = Quantization.fitBounds(embs, "embedding")
    val got = Quantization.withCodes(embs, "vec_id", "embedding", los, his)
      .collect().map(r => r.getLong(0) ->
        r.getAs[Array[Byte]](1).map(b => (b & 0xff).toLong)).toMap
    val ref = refCodes(all)
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, codes) =>
      assert(codes.sameElements(ref(id)), s"codes differ for vec $id")
    }
  }

  test("codes clamp outside the fitted bounds and collapse constant dims") {
    val df = Seq(
      (1L, Seq(0.0, 5.0)),
      (2L, Seq(10.0, 5.0))).toDF("vec_id", "embedding")
    // fit on the corpus: dim0 in [0,10], dim1 constant 5
    val (los, his) = Quantization.fitBounds(df, "embedding")
    assert(los == Seq(0.0, 5.0) && his == Seq(10.0, 5.0))
    // a query vector outside the codebook clamps instead of wrapping
    val out = Quantization.withCodes(
        Seq((9L, Seq(-3.0, 99.0))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", los, his)
      .collect().head.getAs[Array[Byte]](1).map(_ & 0xff)
    assert(out.toSeq == Seq(0, 0)) // clamped below; constant dim → 0
    val in = Quantization.withCodes(df, "vec_id", "embedding", los, his)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).map(_ & 0xff).toSeq)
      .toMap
    assert(in(1L) == Seq(0, 0) && in(2L) == Seq(255, 0))
  }

  test("quantized top-k ranks by dequantized cosine and recalls exact cosine") {
    val all = inMemory
    val ref = refCodes(all)
    val dim = all.head._2.length
    val lo = (0 until dim).map(i => all.values.map(_(i)).min).toArray
    val hi = (0 until dim).map(i => all.values.map(_(i)).max).toArray
    def recon(codes: Array[Long]): Array[Double] =
      codes.indices.map(i => lo(i) + (codes(i) + 0.5) * (hi(i) - lo(i)) / 255.0).toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = 10
    // reference ranking by dequantized cosine (desc, id asc)
    def refTop(q: Long): Seq[Long] =
      all.keys.filter(_ != q).toSeq
        .map(n => (n, cos(recon(ref(q)), recon(ref(n)))))
        .sortBy { case (n, c) => (-c, n) }.take(k).map(_._1)
    val got = Quantization.quantizedTopK(
        embs, embs.filter($"vec_id" < 3), "vec_id", "embedding", k)
      .orderBy("q_id", "rank").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    (0L until 3L).foreach { q =>
      assert(got(q) == refTop(q), s"quantized top-k differs for query $q")
    }
    // recall vs exact full-precision cosine top-k: SQ8 at 64 dims is a
    // close proxy — require at least 7 of 10 overlap per query
    (0L until 3L).foreach { q =>
      val exact = all.keys.filter(_ != q).toSeq
        .map(n => (n, cos(all(q), all(n))))
        .sortBy { case (n, c) => (-c, n) }.take(k).map(_._1).toSet
      val overlap = got(q).count(exact)
      assert(overlap >= 7, s"recall too low for query $q: $overlap/10")
    }
  }

  test("SQ8 IVF index: codes stored (4× smaller), routing == float index, deterministic probes") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8").toString
    try {
      Similarity.writeIvfIndex(embs, "vec_id", "embedding", dir, cells = 16,
        codec = Similarity.IvfCodec.Sq8(Quantization.fitBounds(embs, "embedding")))
      // the stored payload IS the code column (BINARY, 1 byte/dim) —
      // the 4×-vs-float32 storage claim is structural
      val idx = spark.read.parquet(s"$dir/cells")
      assert(idx.schema("code").dataType ==
        org.apache.spark.sql.types.BinaryType)
      assert(!idx.columns.contains("n_v"), "float vectors must not be stored")
      // stored codes equal withCodes under the meta bounds, and the
      // cell routing equals the FLOAT index's assignment
      val meta = spark.read.parquet(s"$dir/meta").collect()(0)
      val los = meta.getSeq[Double](meta.fieldIndex("los"))
      val his = meta.getSeq[Double](meta.fieldIndex("his"))
      val (flos, fhis) = Quantization.fitBounds(embs, "embedding")
      assert(los == flos && his == fhis)
      val stored = idx.collect().map(r => r.getAs[Long]("n_id") ->
        (r.getAs[Array[Byte]]("code").toSeq,
          r.getAs[Number]("cell").longValue())).toMap
      val wantCodes = Quantization.withCodes(embs, "vec_id", "embedding", los, his)
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      assert(stored.view.mapValues(_._1).toMap == wantCodes)
      val dirF = java.nio.file.Files.createTempDirectory("ivff").toString
      try {
        Similarity.writeIvfIndex(embs, "vec_id", "embedding", dirF, cells = 16)
        val floatCells = spark.read.parquet(s"$dirF/cells")
          .collect().map(r => r.getAs[Long]("n_id") ->
            r.getAs[Number]("cell").longValue()).toMap
        assert(stored.view.mapValues(_._2).toMap == floatCells)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirF))
      // probing twice is bit-identical (deterministic index + ADC)
      val q = Similarity.prepareQueries(embs.filter($"vec_id" < 3), "vec_id", "embedding")
      def probe() = Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val p1 = probe()
      assert(p1 == probe() && p1.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("SQ8 IVF probe: recall ≥ 7/10 vs full-precision brute force, ≤ nprobe partitions read") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8b").toString
    try {
      Similarity.writeIvfIndex(embs, "vec_id", "embedding", dir, cells = 16,
        codec = Similarity.IvfCodec.Sq8(Quantization.fitBounds(embs, "embedding")))
      val all = inMemory
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val q = Similarity.prepareQueries(embs.filter($"vec_id" < 3), "vec_id", "embedding")
      val got = Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      (0L until 3L).foreach { qid =>
        val exact = all.keys.filter(_ != qid).toSeq
          .map(n => (n, cos(all(qid), all(n))))
          .sortBy { case (n, c) => (-c, n) }.take(10).map(_._1).toSet
        val overlap = got(qid).count(exact)
        assert(overlap >= 7, s"recall too low for query $qid: $overlap/10")
      }
      // one query × nprobe=4 → ≤4 of 16 cell partitions scanned
      val q1 = Similarity.prepareQueries(embs.filter($"vec_id" === 0), "vec_id", "embedding")
      val plan = Similarity.queryIvfIndex(spark, dir, q1, k = 10, nprobe = 4)
        .queryExecution.sparkPlan
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("cells")) => f
      }
      assert(scans.nonEmpty, s"no index scan found:\n$plan")
      val static = scans.head.partitionFilters
        .filterNot(_.toString.contains("dynamicpruning"))
      assert(static.nonEmpty, "expected a static cell IN-list partition filter")
      val parts = scans.head.relation.location.listFiles(
        static, scans.head.dataFilters).length
      assert(parts <= 4, s"expected ≤4 pruned cell partitions, scanned $parts")
      // format pin: a probe against a foreign/corrupt meta fails loudly
      Seq(("x", "y", "not-sq8")).toDF("los", "his", "format")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      val e = intercept[IllegalArgumentException] {
        Similarity.queryIvfIndex(spark, dir, q1, k = 10, nprobe = 4)
      }
      assert(e.getMessage.contains("format"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("byteDot is the exact integer dot of code vectors") {
    val all = inMemory
    val ref = refCodes(all)
    val (los, his) = Quantization.fitBounds(embs, "embedding")
    val codes = Quantization.withCodes(embs, "vec_id", "embedding", los, his)
    val a = codes.select($"vec_id".as("a_id"), $"code".as("a_code")).filter($"a_id" < 2)
    val b = codes.select($"vec_id".as("b_id"), $"code".as("b_code")).filter($"b_id" < 2)
    val got = a.crossJoin(b)
      .select($"a_id", $"b_id",
        graft.functions.Quantize.byteDot($"a_code", $"b_code").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (x <- 0L until 2L; y <- 0L until 2L) {
      val expect = ref(x).zip(ref(y)).map { case (p, q) => p * q }.sum
      assert(got((x, y)) == expect, s"byteDot differs for ($x,$y)")
    }
  }

  test("quantized top-k plans broadcast + WindowGroupLimit with codegen dot") {
    val plan = Quantization.quantizedTopK(
        embs, embs.filter($"vec_id" < 3), "vec_id", "embedding", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"plan lacks WindowGroupLimit:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side must broadcast:\n$plan")
  }
}

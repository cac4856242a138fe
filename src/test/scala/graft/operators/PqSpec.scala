package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization: encode correctness on a hand-checked
  * fixture, ADC scoring vs an in-Scala reference, recall floor vs
  * exact cosine, and the persisted IVF-PQ index conventions
  * (format-tag refusal, append ≡ rebuild). */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private def embs = graft.Tables.embeddings(spark, sf())
    .select("vec_id", "embedding")

  test("pqEncode: hand-checked codes; ties break to the lowest code") {
    // 2 subspaces of 2 dims; codebook from the 2 lowest-id vectors
    val df = Seq(
      (0L, Array(0.0f, 0.0f, 1.0f, 1.0f)),  // codebook entry 0
      (1L, Array(1.0f, 1.0f, 0.0f, 0.0f)),  // codebook entry 1
      (2L, Array(0.1f, 0.0f, 0.1f, 0.0f)),  // sub0 near e0, sub1 near e1
      (3L, Array(0.5f, 0.5f, 0.5f, 0.5f))   // equidistant -> code 0 both
    ).toDF("vec_id", "embedding")
    val cb = Quantization.trainPqCodebook(df, "vec_id", "embedding", m = 2, ks = 2)
    assert(cb.length == 2 && cb(0).length == 2 && cb(0)(0).length == 2)
    val codes = df.select($"vec_id",
        graft.functions.Pq.encode(
          transform($"embedding", x => x.cast("double")), cb).as("code"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(codes(0L).toSeq == Seq[Byte](0, 0))
    assert(codes(1L).toSeq == Seq[Byte](1, 1))
    assert(codes(2L).toSeq == Seq[Byte](0, 1))
    assert(codes(3L).toSeq == Seq[Byte](0, 0)) // tie -> lowest code
  }

  test("pqTopK: ADC scores equal an in-Scala reconstruction reference; recall floor vs exact") {
    val corpus = embs
    val queries = corpus.filter($"vec_id" < 5)
    val m = 8; val ks = 16; val k = 10
    val got = Quantization.pqTopK(corpus, queries, "vec_id", "embedding",
      m = m, ks = ks, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))

    // independent truth: reconstruct + cosine in plain Scala
    val cb = Quantization.trainPqCodebook(corpus, "vec_id", "embedding", m, ks)
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val sub = cb(0)(0).length
    def encode(v: Array[Double]): Array[Int] =
      (0 until m).map { j =>
        (0 until cb(j).length).minBy { c =>
          var acc = 0.0
          for (t <- 0 until sub) {
            val d = v(j * sub + t) - cb(j)(c)(t); acc += d * d
          }
          (acc, c)
        }
      }.toArray
    def adc(q: Array[Double], codes: Array[Int]): Double = {
      var dot = 0.0; var nq = 0.0; var nr = 0.0
      for (j <- 0 until m; t <- 0 until sub) {
        val xq = q(j * sub + t); val xr = cb(j)(codes(j))(t)
        dot += xq * xr; nq += xq * xq; nr += xr * xr
      }
      dot / (math.sqrt(nq) * math.sqrt(nr))
    }
    val allCodes = vecs.view.mapValues(encode).toMap
    val want = vecs.keys.filter(_ < 5).flatMap { qid =>
      vecs.keys.filter(_ != qid).toSeq
        .map(nid => (nid, adc(vecs(qid), allCodes(nid))))
        .sortBy { case (nid, s) => (-s, nid) }.take(k).zipWithIndex
        .map { case ((nid, s), i) => (qid, nid, i + 1, s) }
    }.toSet
    assert(got.toSet == want) // every code + every ADC score bit

    // recall floors vs exact cosine. Raw PQ@10 is a COARSE proxy (32×
    // compression, 16-entry deterministic codebook — measured 0.36 on
    // this fixture): floor it low, honestly. The PRODUCTION shape is
    // two-stage — PQ nominates a wider k₀, exact cosine re-ranks
    // (measured 0.36/0.64/0.74/0.90 at k₀=10/30/50/100 here,
    // tools/PqRecall) — floor the served composition high.
    val exact = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding",
      k = k).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.count { case (q, n, _, _) => exact((q, n)) }.toDouble /
      exact.size
    assert(recall >= 0.25, f"raw PQ recall vs exact fell to $recall%.2f")
    val twoStage = Similarity.rerankCandidates(corpus,
        Similarity.prepareQueries(queries, "vec_id", "embedding"),
        Quantization.pqTopK(corpus, queries, "vec_id", "embedding",
          m = m, ks = ks, k = 100),
        "vec_id", "embedding", k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall2 = twoStage.count(exact).toDouble / exact.size
    assert(recall2 >= 0.8,
      f"two-stage (PQ-nominate k0=100 + exact re-rank) recall fell to $recall2%.2f")
  }

  test("PqEncode/PqAdcCosine codegen path is equivalent to interpreted eval (and is real codegen)") {
    import graft.functions.{Pq, PqAdcCosine, PqEncode}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.catalyst.util.ArrayData
    val cb = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0), Seq(-0.5, 0.25)),
      Seq(Seq(0.5, -0.5), Seq(0.0, 1.0), Seq(0.25, 0.25)))
    // the hot path runs these over the corpus — must stay codegen'd
    assert(!PqEncode(Literal("x"), cb).isInstanceOf[CodegenFallback])
    assert(!PqAdcCosine(Literal("x"), Literal("y"), cb)
      .isInstanceOf[CodegenFallback])
    val vecs = Seq(
      Array(0.1, 0.05, 0.4, -0.4), Array(1.0, 1.0, 0.0, 1.0),
      Array(-0.5, 0.25, 0.3, 0.3), Array(0.0, 0.0, 0.5, -0.5))
    val viaCodegen = vecs.toDF("v")
      .select(Pq.encode($"v", cb).as("c"),
        Pq.adcCosine($"v", Pq.encode($"v", cb), cb).as("s"))
      .collect().map(r => (r.getAs[Array[Byte]](0).toSeq, r.getDouble(1)))
      .toSeq
    val viaInterp = vecs.map { v =>
      val enc = PqEncode(Literal.create(v, org.apache.spark.sql.types
        .ArrayType(org.apache.spark.sql.types.DoubleType)), cb)
      val codes = enc.eval(InternalRow.empty).asInstanceOf[Array[Byte]]
      val score = PqAdcCosine(enc, enc, cb)
        .score(ArrayData.toArrayData(v), codes)
      (codes.toSeq, score)
    }
    assert(viaCodegen == viaInterp)
  }

  test("k-means codebook: encodeCodes == encode; refinement recall >= the lowest-id baseline") {
    val corpus = embs
    val queries = corpus.filter($"vec_id" < 5)
    val m = 8; val ks = 16; val k = 10
    val det = Quantization.trainPqCodebook(corpus, "vec_id", "embedding", m, ks)
    // the int-codes form the trainer consumes is the SAME argmin
    val both = corpus
      .select(Similarity.asDouble($"embedding").as("v"))
      .select(graft.functions.Pq.encode($"v", det).as("b"),
        graft.functions.Pq.encodeCodes($"v", det).as("i"))
      .collect()
    assert(both.forall(r => r.getAs[Array[Byte]](0).map(_ & 0xff).toSeq
      == r.getSeq[Int](1)))

    val km = Quantization.trainPqCodebookKmeans(corpus, "vec_id", "embedding",
      m, ks, iters = 3)
    assert(km.length == m && km.forall(e => e.length == ks &&
      e.forall(_.length == det.head.head.length)))

    // Lloyd's actual objective: subspace distortion must strictly
    // improve (measured 0.75 -> 0.56 on this fixture, a 25% drop)
    val vecs = corpus.collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
    val sub = det.head.head.length
    def distortion(book: Seq[Seq[Seq[Double]]]): Double =
      vecs.map { v =>
        (0 until m).map { j =>
          book(j).map { e =>
            (0 until sub).map { t => val d = v(j * sub + t) - e(t); d * d }.sum
          }.min
        }.sum
      }.sum / vecs.length
    val dDet = distortion(det); val dKm = distortion(km)
    assert(dKm <= dDet * 0.9,
      f"k-means refinement must cut distortion >=10%%: $dKm%.4f vs $dDet%.4f")

    // recall vs exact cosine on a 50-query sample (5 queries is noise):
    // k-means must never fall below the lowest-id baseline beyond noise
    // — measured 0.282 vs 0.264 here (the near-uniform synthetic
    // embeddings give k-means little cluster structure to exploit;
    // documented honestly in the trainer's Scaladoc)
    val wideQueries = corpus.filter($"vec_id" < 50)
    val exact = Similarity.bruteTopK(corpus, wideQueries, "vec_id", "embedding",
      k = k).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(book: Seq[Seq[Seq[Double]]]): Double = {
      val got = Quantization.pqTopK(corpus, wideQueries, "vec_id", "embedding",
          m = m, ks = ks, k = k, codebook0 = Some(book))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.count(exact).toDouble / exact.size
    }
    val rDet = recall(det); val rKm = recall(km)
    assert(rKm >= rDet - 0.02,
      f"k-means refinement regressed recall: $rKm%.3f vs lowest-id $rDet%.3f")
  }

  test("ADC refuses a code vector from a different codebook geometry (no silent prefix)") {
    import graft.functions.PqAdcCosine
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val cb = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      Seq(Seq(0.5, -0.5), Seq(0.0, 1.0)))
    val adc = PqAdcCosine(Literal("x"), Literal("y"), cb)
    val q = ArrayData.toArrayData(Array(0.1, 0.2, 0.3, 0.4))
    // truncated (1 byte) and oversized (3 bytes) codes both refuse —
    // min-truncating would score a silent prefix instead
    val e1 = intercept[IllegalArgumentException] {
      adc.score(q, Array[Byte](0))
    }
    assert(e1.getMessage.contains("different codebook geometry"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      adc.score(q, Array[Byte](0, 1, 0))
    }
    assert(e2.getMessage.contains("different codebook geometry"), e2.getMessage)
    // the matching geometry still scores
    assert(!adc.score(q, Array[Byte](0, 1)).isNaN)
  }

  test("persisted IVF-PQ: probe == inline composition; append == rebuild; format tag refuses") {
    val all = embs
    val q = Similarity.prepareQueries(all.filter($"vec_id" < 5),
      "vec_id", "embedding")
    val full = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.writeIvfIndex(all, "vec_id", "embedding", full,
      cells = 16, codec = Similarity.IvfCodec.Pq(
        Quantization.trainPqCodebook(all, "vec_id", "embedding", 8, 16)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val fullProbe = rows(Similarity.queryIvfIndex(spark, full, q,
      k = 10, nprobe = 4))
    assert(fullProbe.nonEmpty)

    // append parity: build on 3/4 + append 1/4 under the SAME
    // centroids + codebook == the full build (both derived from the
    // full corpus's lowest ids, which the 3/4 split must be given
    // explicitly — the production pinned-config stance)
    val prepared = Similarity.prepareQueries(all, "vec_id", "embedding")
      .select($"q_id".as("n_id"), $"q_v".as("n_v"))
    val cents = prepared.orderBy($"n_id").limit(16)
      .select($"n_id".as("c_id"), $"n_v".as("c_v"))
    val cb = Quantization.trainPqCodebook(all, "vec_id", "embedding", 8, 16)
    val incr = java.nio.file.Files.createTempDirectory("ivfpq2").toString
    Similarity.writeIvfIndex(all.filter($"vec_id" % 4 =!= 0),
      "vec_id", "embedding", incr, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Pq(cb))
    Similarity.appendToIvfIndex(all.filter($"vec_id" % 4 === 0),
      "vec_id", "embedding", incr)
    assert(rows(Similarity.queryIvfIndex(spark, incr, q,
      k = 10, nprobe = 4)) == fullProbe)

    // the one probe reads each index's codec from what it stores: the
    // PQ index probes with its codebook, an SQ8 index of the same
    // corpus with its bounds — each codec's own rows, no argument
    val sq8 = java.nio.file.Files.createTempDirectory("ivfsq8x").toString
    val bounds = Quantization.fitBounds(all, "embedding")
    Similarity.writeIvfIndex(all, "vec_id", "embedding", sq8, cells = 16,
      codec = Similarity.IvfCodec.Sq8(bounds))
    assert(Similarity.loadIvfIndex(spark, full).codec ==
      Similarity.IvfCodec.Pq(Quantization.trainPqCodebook(all, "vec_id", "embedding", 8, 16)))
    assert(Similarity.loadIvfIndex(spark, sq8).codec == Similarity.IvfCodec.Sq8(bounds))
    val sq8Probe = Similarity.queryIvfIndex(spark, sq8, q, k = 10, nprobe = 4)
    assert(sq8Probe.columns.toSeq == Seq("q_id", "n_id", "rank", "qcos"))
    val sq8Rows = rows(sq8Probe)
    assert(sq8Rows.nonEmpty && sq8Rows != fullProbe)
    // a foreign tag still refuses, before the probe reads any cell
    Seq((8, 16, 8, "pq-m8-v2")).toDF("m", "ks", "sub_dim", "format")
      .coalesce(1).write.mode("overwrite").parquet(s"$full/meta")
    val e = intercept[IllegalArgumentException] {
      Similarity.queryIvfIndex(spark, full, q)
    }
    assert(e.getMessage.contains("format 'pq-m8-v2'"), e.getMessage)
    for (p <- Seq(full, incr, sq8))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  }

  /** Deterministic splitmix64 -> [0,1): the seeded pseudo-random the
    * mixture fixture is built from (no java.util.Random — the fixture
    * must be bit-identical across runs and JVMs). */
  private def u01(seed: Long): Double = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  test("k-means codebook on a CLUSTERED fixture: distortion and ADC score error drop hard; two-stage recall holds") {
    // mixture of 64 Gaussians in 16 dims (seeded splitmix64,
    // deterministic): centers uniform in [-1,1]^16, noise ~
    // Irwin-Hall(4)-2 at sigma 0.3 — the clustered shape real
    // embedding corpora have and the near-uniform synthetic
    // embeddings table does not. Measured here (pinned with margin):
    //   subspace distortion  4218 -> 2461  (-42%; near-uniform: -25%)
    //   mean |ADC - exact| cosine error  0.121 -> 0.093  (-23%)
    //   two-stage recall (nominate 50, exact re-rank top-10)
    //     0.996 -> 0.998
    //   raw PQ@10 recall     0.418 -> 0.422 (within noise)
    // The honest conclusion, documented at trainPqCodebookKmeans: the
    // refinement buys RECONSTRUCTION FIDELITY (distortion, per-score
    // ADC error) — large and reliable on clustered data — while raw
    // top-k recall at fixed (m, ks) is tie-dominated (a centroid-true
    // codebook collapses near-duplicates to equal codes and the id
    // tiebreak decides), so the recall lever remains the two-stage
    // re-rank, whose quality the refinement preserves.
    val nClusters = 64; val dim = 16; val n = 2000; val sigma = 0.3
    val centers = Array.tabulate(nClusters, dim)((c, d) =>
      2.0 * u01(c * 7919L + d) - 1.0)
    val vecs = (0 until n).map { i =>
      val c = (u01(i * 104729L) * nClusters).toInt.min(nClusters - 1)
      val v = Array.tabulate(dim) { d =>
        val noise = (0 until 4).map(r => u01(i * 2000003L + d * 31L + r)).sum - 2.0
        (centers(c)(d) + sigma * noise).toFloat
      }
      (i.toLong, v)
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 50)
    val m = 4; val ks = 16; val k = 10

    val det = Quantization.trainPqCodebook(corpus, "vec_id", "embedding", m, ks)
    val km = Quantization.trainPqCodebookKmeans(corpus, "vec_id", "embedding",
      m, ks, iters = 5)

    def distortion(book: Seq[Seq[Seq[Double]]]): Double = {
      val subDim = book.head.head.length
      corpus.select(transform($"embedding", x => x.cast("double")).as("n_v"))
        .select(posexplode($"n_v").as(Seq("pos", "x")),
          graft.functions.Pq.encodeCodes($"n_v", book).as("codes"))
        .select((($"pos" / subDim).cast("int")).as("j"),
          pmod($"pos", lit(subDim)).cast("int").as("t"),
          element_at($"codes", ($"pos" / subDim).cast("int") + 1).as("cc"), $"x")
        .collect().map { r =>
          val d = r.getDouble(3) - book(r.getInt(0))(r.getInt(2))(r.getInt(1))
          d * d
        }.sum
    }
    val dDet = distortion(det); val dKm = distortion(km)
    info(f"clustered-fixture distortion: lowest-id $dDet%.1f, k-means $dKm%.1f")
    assert(dKm <= 0.70 * dDet,
      f"k-means must cut distortion >=30%% on clustered data: $dDet%.1f -> $dKm%.1f")

    // per-score ADC fidelity: mean |adcCosine - exact cosine| over a
    // deterministic query x corpus-sample grid
    def scoreErr(book: Seq[Seq[Seq[Double]]]): Double = {
      val c = corpus.filter($"vec_id" % 10 === 0).select($"vec_id".as("n_id"),
        graft.functions.Pq.encode(
          transform($"embedding", x => x.cast("double")), book).as("n_code"),
        transform($"embedding", x => x.cast("double")).as("n_v"))
      val q = queries.select($"vec_id".as("q_id"),
        transform($"embedding", x => x.cast("double")).as("q_v"))
      c.join(broadcast(q), $"q_id" =!= $"n_id")
        .select(abs(graft.functions.Pq.adcCosine($"q_v", $"n_code", book) -
          graft.functions.CosineSim($"q_v", $"n_v")).as("e"))
        .agg(avg($"e")).collect()(0).getDouble(0)
    }
    val eDet = scoreErr(det); val eKm = scoreErr(km)
    info(f"clustered-fixture ADC score error: lowest-id $eDet%.4f, k-means $eKm%.4f")
    assert(eKm <= 0.85 * eDet,
      f"k-means must cut the mean ADC score error >=15%%: $eDet%.4f -> $eKm%.4f")

    // the production metric the refinement must never regress: PQ
    // nominate top-50 -> exact re-rank top-10, recall vs exact cosine
    val exact = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall2(book: Seq[Seq[Seq[Double]]]): Double = {
      val cand = Quantization.pqTopK(corpus, queries, "vec_id", "embedding",
        m = m, ks = ks, k = 50, codebook0 = Some(book))
      Similarity.rerankCandidates(corpus,
          Similarity.prepareQueries(queries, "vec_id", "embedding"),
          cand, "vec_id", "embedding", k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .count(exact).toDouble / exact.size
    }
    val r2Det = recall2(det); val r2Km = recall2(km)
    info(f"clustered-fixture two-stage recall: lowest-id $r2Det%.3f, k-means $r2Km%.3f")
    assert(r2Km >= 0.99 && r2Km >= r2Det - 0.02,
      f"two-stage recall regressed under the refined book: $r2Det%.3f -> $r2Km%.3f")
  }
}

package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val s2 = spark
  import s2.implicits._

  private lazy val docs = Tables.documents(spark, sf())

  test("exact dedup keeps min id per distinct text and counts copies") {
    val df = Seq(
      (1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "ccc"), (5L, "aaa"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 3L), (2L, 1L), (4L, 1L)))
  }

  /** Brute-force word-3-gram jaccard pairs, the oracle for LSH. */
  private def brutePairs(threshold: Double): Set[(Long, Long)] = {
    val rows = docs.select($"doc_id", $"text").collect()
    val sh = rows.map(r => r.getLong(0) -> {
      val w = r.getString(1).split(" ", -1)
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }).toMap
    val ids = sh.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = (sh(a) & sh(b)).size
      uni = (sh(a) | sh(b)).size
      if uni > 0 && inter.toDouble / uni >= threshold
    } yield (a, b)).toSet
  }

  test("minhash LSH pairs equal brute-force jaccard pairs") {
    val got = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brutePairs(0.8))
    assert(got.nonEmpty, "test data contains planted near-duplicates")
  }

  test("cross-corpus pairs = brute pairs crossing the split, nothing in-corpus") {
    val even = docs.filter($"doc_id" % 2 === 0)
    val odd = docs.filter($"doc_id" % 2 === 1)
    val got = Dedup.minhashPairsAgainst(
      even, "doc_id", "text", odd, "doc_id", "text", threshold = 0.8)
      .select("corpus_id", "ref_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = brutePairs(0.8)
      .flatMap { case (a, b) => Seq((a, b), (b, a)) } // either orientation
      .filter { case (a, b) => a % 2 == 0 && b % 2 == 1 }
    assert(got == want)
    assert(got.nonEmpty, "split must cross some planted near-dup pairs")
    assert(got.forall { case (a, b) => a % 2 == 0 && b % 2 == 1 },
      "bipartite output must never contain in-corpus pairs")
  }

  test("cross-corpus bucket cap drops degenerate mass-duplicate buckets") {
    // 60 identical docs per side: every cross pair lives ONLY in
    // oversized buckets, so a cap of 50 must drop them all
    val left = (0L until 60L).map(i => (i * 2, "x y z x y z x y z")).toDF("doc_id", "text")
    val right = (0L until 60L).map(i => (i * 2 + 1, "x y z x y z x y z")).toDF("doc_id", "text")
    val out = Dedup.minhashPairsAgainstCounted(
      left, "doc_id", "text", right, "doc_id", "text",
      threshold = 0.8, maxBucketSize = 50)
    assert(out.frame.count() == 0L)
    assert(out.hotBuckets > 0, "the dropped buckets are counted")
    val out2 = Dedup.minhashPairsAgainstCounted(
      left, "doc_id", "text", right, "doc_id", "text",
      threshold = 0.8, maxBucketSize = 100)
    assert(out2.frame.count() == 3600L, "under the cap all cross pairs emit")
    assert(out2.hotBuckets == 0)
  }

  test("simhash pairs equal brute-force hamming pairs") {
    val rows = docs.select($"doc_id", $"text").collect()
    val hashes = rows.map { r =>
      r.getLong(0) -> simhashRef(r.getString(1).split(" ", -1))
    }.toMap
    val ids = hashes.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  // reference simhash identical to the Catalyst expression's definition
  private def simhashRef(tokens: Array[String]): Long = {
    val w = new Array[Int](64)
    tokens.foreach { t =>
      var h = 0xcbf29ce484222325L
      t.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
      (0 until 64).foreach(i => if (((h >>> i) & 1L) == 1L) w(i) += 1 else w(i) -= 1)
    }
    (0 until 64).foldLeft(0L)((acc, i) => if (w(i) > 0) acc | (1L << i) else acc)
  }

  test("simhash 6-chunk combination bucketing stays exact") {
    // same brute-force oracle, scale-shaped bucketing (C(6,3)=20 keys
    // of ~32 bits instead of 4 keys of 16 bits)
    val rows = docs.select($"doc_id", $"text").collect()
    val hashes = rows.map { r =>
      r.getLong(0) -> simhashRef(r.getString(1).split(" ", -1))
    }.toMap
    val ids = hashes.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, numChunks = 6)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("simhash skew guard bounds degenerate buckets; planted pairs survive") {
    // 1000 identical docs share every bucket → capped out (they belong
    // to exact-dedup anyway); a planted near-pair in its own buckets
    // must still be found
    val degenerate = (1L to 1000L).map(i => (i, "same same same same same"))
    val planted = Seq(
      (5001L, "alpha beta gamma delta epsilon zeta eta theta"),
      (5002L, "alpha beta gamma delta epsilon zeta eta iota"))
    val df = (degenerate ++ planted).toDF("doc_id", "text")
    val out = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3, maxBucketSize = 200)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only expect the planted pair if its simhashes are within 3 bits —
    // compute the truth from the reference implementation
    val h1 = simhashRef(planted(0)._2.split(" ", -1))
    val h2 = simhashRef(planted(1)._2.split(" ", -1))
    val plantedClose = java.lang.Long.bitCount(h1 ^ h2) <= 3
    assert(!out.exists(p => p._1 <= 1000L && p._2 <= 1000L),
      "degenerate bucket must be dropped by the cap")
    if (plantedClose) assert(out.contains((5001L, 5002L)))
  }

  test("skew guard drops degenerate buckets instead of exploding") {
    // 200 identical docs → one giant bucket; cap at 50 → no pairs, no blowup
    val df = (1L to 200L).map(i => (i, "same same same same")).toDF("doc_id", "text")
    val out = Dedup.minhashPairs(df, "doc_id", "text", maxBucketSize = 50)
    assert(out.count() == 0)
    // without the cap the pairs appear
    val out2 = Dedup.minhashPairs(df, "doc_id", "text", maxBucketSize = 1000)
    assert(out2.count() == 200L * 199L / 2)
  }

  test("short and empty documents are never verified pairs, and never divide 0 by 0") {
    // docs with fewer than shingleN words all share every band; their
    // EMPTY shingle sets must drop out of the verify, not raise ANSI
    // mode's DIVIDE_BY_ZERO
    val eight = "one two three four five six seven eight"
    val df = Seq((1L, "hello world"), (2L, "foo bar"), (3L, ""), (4L, eight), (5L, eight))
      .toDF("doc_id", "text").withColumn("score", length(col("text")))
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Dedup.minhashPairs(df, "doc_id", "text").select("a_id", "b_id")) == Set((4L, 5L)))
    assert(pairSet(Dedup.ngramJaccardPairs(df, "doc_id", "text").select("a_id", "b_id")) ==
      Set((4L, 5L)))
    assert(pairSet(Dedup.clusters(df, "doc_id", "text")) ==
      Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 4L)))
    assert(Dedup.canonicalPerCluster(df, "doc_id", "text", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 1L), (4L, 4L, 2L)))
    val cross = Set((4L, 4L), (4L, 5L), (5L, 4L), (5L, 5L))
    assert(pairSet(Dedup.minhashPairsAgainst(df, "doc_id", "text", df, "doc_id", "text")
      .select("corpus_id", "ref_id")) == cross)
    val index = java.nio.file.Files.createTempDirectory("graft_short_docs").toFile
    try {
      Dedup.writeMinhashIndex(df, "doc_id", "text", index.getPath)
      assert(pairSet(Dedup.probeMinhashIndex(spark, index.getPath, df, "doc_id", "text")
        .select("corpus_id", "ref_id")) == cross)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(index)
  }

  test("clusters: connected components with min-id labels") {
    // components: {1,2,3} via 1-2, 2-3; {10,11}; singleton 20
    val df = Seq(
      (1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"),
      (3L, "a b c d e f g h i k"), // near-dup of 1/2
      (10L, "z y x w v u t s r q"), (11L, "z y x w v u t s r q"),
      (20L, "totally different words here that share nothing at all ok"))
      .toDF("doc_id", "text")
    val got = Dedup.clusters(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(20L) == 20L)
  }

  test("canonicalPerCluster keeps the best-scoring member, id tiebreak") {
    val df = Seq(
      (1L, "a b c d e f g h i j", 10L), (2L, "a b c d e f g h i j", 99L),
      (3L, "a b c d e f g h i k", 99L), // ties 2 on score → lower id wins
      (10L, "z y x w v u t s r q", 5L), (11L, "z y x w v u t s r q", 7L),
      (20L, "totally different words here that share nothing at all ok", 1L))
      .toDF("doc_id", "text", "score")
    val got = Dedup.canonicalPerCluster(df, "doc_id", "text", "score",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (2L, 3L))   // cluster {1,2,3}: score 99 tie → id 2
    assert(got(10L) == (11L, 2L)) // cluster {10,11}: 7 > 5
    assert(got(20L) == (20L, 1L)) // singleton keeps itself
  }

  test("an id column named `id` clusters and picks exactly as `doc_id` does") {
    // the operators' internal id sets carry their own `id` column; the
    // caller's id column may share that name
    val df = Seq(
      (1L, "a b c d e f g h i j", 10L), (2L, "a b c d e f g h i j", 99L),
      (3L, "a b c d e f g h i k", 99L),
      (10L, "z y x w v u t s r q", 5L), (11L, "z y x w v u t s r q", 7L),
      (20L, "totally different words here that share nothing at all ok", 1L))
      .toDF("doc_id", "text", "score")
    val asId = df.withColumnRenamed("doc_id", "id")
    def labels(d: org.apache.spark.sql.DataFrame, idCol: String) =
      Dedup.clusters(d, idCol, "text", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def picks(d: org.apache.spark.sql.DataFrame, idCol: String) =
      Dedup.canonicalPerCluster(d, idCol, "text", "score", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = labels(df, "doc_id")
    assert(want.size == 6 && want.map(_._2) == Set(1L, 10L, 20L))
    assert(labels(asId, "id") == want)
    assert(picks(asId, "id") == picks(df, "doc_id"))
  }

  test("connected components fails loudly if maxIter is too small") {
    // a path graph 1-2-3-4-5 needs >1 round; maxIter=1 must throw,
    // never return partially-contracted labels (driverEdgeLimit=0
    // forces the distributed star rounds this test is about)
    val df = (1L to 5L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a_id", "b_id")
    intercept[IllegalStateException] {
      Dedup.clustersFromPairs(df, "doc_id", pairs, maxIter = 1,
        driverEdgeLimit = 0L).collect()
    }
  }

  test("driver union-find and distributed star rounds label identically") {
    // chain + triangle + separate pair + singleton, edges in adversarial
    // order (large ids first) — both paths must produce min-id labels
    val df = (1L to 12L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq(
      (11L, 12L), (9L, 10L), (8L, 9L), // chain 8-9-10 + pair 11-12
      (5L, 6L), (4L, 6L), (4L, 5L),    // triangle 4-5-6
      (2L, 7L), (1L, 7L)               // star at 7 → min 1
    ).toDF("a_id", "b_id")
    val viaDriver = Dedup.clustersFromPairs(df, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaStars = Dedup.clustersFromPairs(df, "doc_id", pairs, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaDriver == viaStars)
    assert(viaDriver == Map(
      1L -> 1L, 2L -> 1L, 7L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L, 6L -> 4L,
      8L -> 8L, 9L -> 8L, 10L -> 8L, 11L -> 11L, 12L -> 11L))
  }

  test("editPairs keeps budget-edits pairs, rejects high-jaccard rewrites") {
    val base = (0 until 50).map(i => s"w$i").mkString(" ")
    // 2 byte substitutions: "w25" -> "x25"
    val nearDup = base.replace("w25", "x25").replace("w26", "x26")
    // every base shingle survives (append-only) so jaccard = 48/58 ≈
    // 0.83 ≥ 0.8, but the appended tail costs ~70 byte edits
    val bigInsert = base + " " + (0 until 10).map(i => s"extra$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, bigInsert))
      .toDF("doc_id", "text")
    val got = Dedup.editPairs(df, "doc_id", "text",
        maxEdits = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == Set((1L, 2L, 2)))
    // raising the budget admits the insert pair at its exact distance
    val wide = Dedup.editPairs(df, "doc_id", "text",
        maxEdits = 100, threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(3))).toMap
    assert(wide((1L, 3L)) == bigInsert.length - base.length)
  }

  test("editPairsFromCandidates over precomputed minhashPairs ≡ editPairs; extra columns pass through") {
    val docs = graft.Tables.documents(spark, sf("0.01")).select("doc_id", "text")
    // the caller already ran LSH — composing the verify stage over its
    // output must equal the fused operator
    val candidates = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8)
    val composed = Dedup.editPairsFromCandidates(
        candidates, docs, "doc_id", "text", maxEdits = 4)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jaccard"), r.getAs[Int]("edits"))).toSet
    val fused = Dedup.editPairs(docs, "doc_id", "text",
        maxEdits = 4, threshold = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("jaccard"), r.getAs[Int]("edits"))).toSet
    assert(composed == fused && composed.nonEmpty)
    // caller-supplied extra columns survive the verify
    val tagged = Dedup.editPairsFromCandidates(
        candidates.withColumn("tag", lit("x")),
        docs, "doc_id", "text", maxEdits = 4)
    assert(tagged.columns.contains("tag") && tagged.columns.contains("edits"))
  }

  test("embedding LSH finds planted near-duplicate vectors") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val nearDup = base.clone(); nearDup(0) = nearDup(0) + 0.01f
    val rows = (0 until 100).map { i =>
      val v = if (i == 99) nearDup else if (i == 98) base
        else Array.fill(64)(rng.nextGaussian().toFloat)
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Dedup.embeddingPairs(df, "vec_id", "embedding", minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((98L, 99L)))
  }
}

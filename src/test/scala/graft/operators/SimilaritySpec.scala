package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val s2 = spark
  import s2.implicits._

  private lazy val embs = Tables.embeddings(spark, sf())

  private def bruteRef(k: Int, nq: Int): Map[Long, Seq[Long]] = {
    val all = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    all.keys.filter(_ < nq).map { q =>
      q -> all.keys.filter(_ != q).toSeq
        .map(n => (n, cos(all(q), all(n))))
        .sortBy { case (n, c) => (-c, n) }.take(k).map(_._1)
    }.toMap
  }

  test("brute-force top-k matches an in-memory reference") {
    val q = embs.filter($"vec_id" < 3)
    val got = Similarity.bruteTopK(embs, q, "vec_id", "embedding", k = 5)
      .orderBy("q_id", "rank").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    assert(got == bruteRef(5, 3))
  }

  test("hardNegatives: different group only, band respected, matches in-memory reference") {
    val rows = embs.select("vec_id", "embedding", "label").collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val (lo, hi, k) = (0.0, 0.95, 5)
    val want = rows.filter(_._1 < 3).map { case (q, qv, qg) =>
      q -> rows.filter { case (n, nv, ng) =>
        n != q && ng != qg && { val c = cos(qv, nv); c >= lo && c < hi }
      }.map { case (n, nv, _) => (n, cos(qv, nv)) }
        .sortBy { case (n, c) => (-c, n) }.take(k).map(_._1).toSeq
    }.toMap
    val got = Similarity.hardNegatives(embs, embs.filter($"vec_id" < 3),
        "vec_id", "embedding", "label", k = k, lo = lo, hi = hi)
      .orderBy("q_id", "rank").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    assert(got == want)
    // and every returned negative really crosses the label boundary
    val labels = rows.map(r => r._1 -> r._3).toMap
    got.foreach { case (q, ns) =>
      ns.foreach(n => assert(labels(n) != labels(q))) }
  }

  test("bruteTopK plans as WindowGroupLimit, not a full window sort") {
    // rank<=k over a window must optimize to WindowGroupLimit (per-
    // partition top-k heap, no full sort/materialization of all
    // corpus×query scores) — the property that makes brute-force ANN
    // viable as the small-query-set baseline at scale
    val q = embs.filter($"vec_id" < 3)
    val plan = Similarity.bruteTopK(embs, q, "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"plan lacks WindowGroupLimit:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side must broadcast:\n$plan")
  }

  test("semanticDedup matches an in-memory brute force of the same policy") {
    // ref: same deterministic pipeline — 16 lowest-id centroids,
    // nearest-cell by (cos desc, c_id asc), keep = no lower-id
    // same-cell neighbor with cosine >= tau
    val tau = 0.9
    val all = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = all.keys.toSeq.sorted.take(16).map(id => id -> all(id))
    val cellOf = all.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .minBy { case (cid, c) => (-c, cid) }._1
    }
    val want = all.keys.map { id =>
      id -> !all.keys.exists(o => o < id && cellOf(o) == cellOf(id) &&
        cos(all(o), all(id)) >= tau)
    }.toMap
    val got = Similarity.semanticDedup(embs, "vec_id", "embedding", tau = tau, cells = 16)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == want)
  }

  test("semanticDedup drops planted near-identical vectors, keeps all base rows") {
    val base = embs.select($"vec_id", $"embedding")
    val planted = base.filter($"vec_id" < 50)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val out = Similarity.semanticDedup(base.unionByName(planted),
      "vec_id", "embedding", tau = 0.99, cells = 16).collect()
    val (p, b) = out.partition(_.getLong(0) >= 1000000L)
    assert(p.length == 50 && p.forall(!_.getBoolean(2)),
      "every planted copy must be dropped")
    assert(b.forall(_.getBoolean(2)),
      "base rows (max pairwise cosine ~0.51) must all be kept")
  }

  test("semanticDedup joins on cell — never a corpus×corpus cartesian") {
    val plan = Similarity.semanticDedup(embs, "vec_id", "embedding", tau = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("semanticDedup hot-cell guard bounds a degenerate identical-vector mass") {
    // 2000 IDENTICAL vectors: every centroid assignment lands in one
    // cell, and no hyperplane can split them — the adversarial shape
    // for the within-cell self-join. With maxCellSize=100 the guard
    // salts the cell into ceil(2000/100)=20 id-hash buckets, so the
    // join compares ~size×cap pairs (linear in the mass, not size²),
    // and exactly one representative (the bucket-min id) survives per
    // salt bucket.
    val mass = spark.range(0, 2000).toDF("vec_id")
      .withColumn("embedding", array((0 until 8).map(i => lit(1.0f + i)): _*))
    val out = Similarity.semanticDedup(mass, "vec_id", "embedding",
      tau = 0.99, cells = 16, maxCellSize = 100L).collect()
    assert(out.length == 2000)
    val kept = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    // each survivor must be the minimum id of its xxhash64 salt bucket
    // (≤ 20 buckets → ≤ 20 survivors out of a 2000-row duplicate mass)
    val salts = spark.range(0, 2000)
      .select($"id", pmod(xxhash64($"id"), lit(20)).cast("int").as("salt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val wantKept = salts.groupBy(_._2).values.map(_.keys.min).toSet
    assert(kept.size <= 20, s"at most 20 salt-bucket representatives, got ${kept.size}")
    assert(wantKept == kept,
      "survivors must be exactly the per-salt-bucket minimum ids")
  }

  test("semanticDedup guard is a no-op when no cell exceeds maxCellSize") {
    val unguarded = Similarity.semanticDedup(embs, "vec_id", "embedding",
      tau = 0.9, cells = 16, maxCellSize = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1).toSeq
    val guarded = Similarity.semanticDedup(embs, "vec_id", "embedding",
      tau = 0.9, cells = 16, maxCellSize = 65536L)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(guarded == unguarded)
  }

  test("autoCells grows with corpus size at fixed expected cell population") {
    assert(Similarity.autoCells(0) == 16)
    assert(Similarity.autoCells(100000) == 16)          // ceil(100000/8192)=13, floored at 16
    assert(Similarity.autoCells(1000000) == 123)        // ceil(1e6/8192)
    assert(Similarity.autoCells(1000000000L) == 122071) // 1e9 rows -> ~122k cells (SemDeDup scale)
    // cells=0 routes through autoCells without changing tiny-corpus results
    val auto = Similarity.semanticDedup(embs, "vec_id", "embedding",
      tau = 0.9, cells = 0)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1).toSeq
    val fixed = Similarity.semanticDedup(embs, "vec_id", "embedding",
      tau = 0.9, cells = 16)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1).toSeq
    assert(auto == fixed)
  }

  test("ivf top-k achieves high recall vs brute force") {
    val q = Similarity.prepareQueries(embs.filter($"vec_id" < 5), "vec_id", "embedding")
    val ivf = Similarity.ivfTopK(embs, q, "vec_id", "embedding", k = 10, cells = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val ref = bruteRef(10, 5)
    val recalls = ref.map { case (qid, want) =>
      val got = ivf.getOrElse(qid, Array.empty).map(_._2).toSet
      want.count(got.contains).toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall $mean (nprobe=8/16 cells on unclustered data)")
  }

  test("ivf with k-means centroids beats naive centroids' recall floor") {
    val q = Similarity.prepareQueries(embs.filter($"vec_id" < 5), "vec_id", "embedding")
    val km = Similarity.kmeansCentroids(embs, "vec_id", "embedding", cells = 16, iters = 3)
    val ivf = Similarity.ivfTopK(embs, q, "vec_id", "embedding",
        k = 10, cells = 16, nprobe = 8, centroids0 = Some(km))
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val ref = bruteRef(10, 5)
    val recalls = ref.map { case (qid, want) =>
      val got = ivf.getOrElse(qid, Array.empty).map(_._2).toSet
      want.count(got.contains).toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall $mean (kmeans cells, nprobe=8/16)")
  }

  test("kmeans centroids are deterministic across runs") {
    val a = Similarity.kmeansCentroids(embs, "vec_id", "embedding", cells = 8, iters = 2)
      .orderBy("c_id").collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val b = Similarity.kmeansCentroids(embs, "vec_id", "embedding", cells = 8, iters = 2)
      .orderBy("c_id").collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    assert(a.sameElements(b))
  }

  test("wrong-dimension vectors refuse: a 3-d query over a 2-d corpus throws from bruteTopK and ivfTopK instead of scoring a prefix") {
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    // its first two dims equal corpus vector 1: a prefix fold reads cosine 1.0
    val q3 = Seq((9L, Array(1.0f, 0.0f, 5.0f))).toDF("vec_id", "embedding")
    val eb = intercept[Exception] {
      Similarity.bruteTopK(corpus, q3, "vec_id", "embedding", k = 2).collect()
    }
    assert(messages(eb).contains("different lengths (3 vs 2)"), messages(eb))
    val ei = intercept[Exception] {
      Similarity.ivfTopK(corpus, Similarity.prepareQueries(q3, "vec_id", "embedding"),
        "vec_id", "embedding", k = 2, cells = 2, nprobe = 2).collect()
    }
    assert(messages(ei).contains("different lengths (3 vs 2)"), messages(ei))
    // the interpreted paths refuse too; equal lengths still evaluate
    import org.apache.spark.sql.catalyst.expressions.Literal
    val v3 = Literal.create(Array(1.0, 0.0, 5.0)); val v2 = Literal.create(Array(1.0, 0.0))
    intercept[IllegalArgumentException](graft.functions.CosineSimExpr(v3, v2).eval())
    assert(graft.functions.CosineSimExpr(v2, v2).eval() == 1.0)
    val cell = graft.functions.NearestCell(v3, Seq(1L), Seq(Seq(1.0, 0.0)))
    val e = intercept[IllegalArgumentException](cell.eval())
    assert(e.getMessage.contains("3-d") && e.getMessage.contains("2-d"), e.getMessage)
  }

  test("cosine fold is sequential and deterministic") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val c = df.select(Similarity.cosine(
      transform($"a", x => x.cast("double")),
      transform($"b", x => x.cast("double"))).as("c")).collect()(0).getDouble(0)
    val want = (4.0 + 10.0 + 18.0) / (math.sqrt(1 + 4 + 9) * math.sqrt(16 + 25 + 36))
    assert(c == want)
  }

  test("IVF cell assignment is a pure projection — no Exchange, no join") {
    // the round-5 weak plan: broadcast-NLJ × centroids + groupBy(n_id)
    // argmax shuffled the ENTIRE corpus to merge singleton groups; the
    // fused argmax expression must plan with zero exchanges between
    // the corpus scan and the cell column
    val c = embs.select($"vec_id".as("n_id"),
      transform($"embedding", x => x.cast("double")).as("n_v"))
    val cents = c.orderBy($"n_id").limit(16)
      .select($"n_id".as("c_id"), $"n_v".as("c_v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val assigned = Similarity.assignToCells(c, cents)
    val plan = assigned.queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(exchanges.isEmpty, s"assignment must not shuffle:\n$plan")
    val joins = plan.toString
    assert(!joins.contains("Join"), s"assignment must not join:\n$plan")
    // and it still computes the same cells as a per-row brute force
    val got = assigned.select("n_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = c.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = all.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, cos(v, cv.toArray)) }
        .minBy { case (cid, s) => (-s, cid) }._1
    }
    assert(got == want)
  }

  test("persisted IVF index returns identical neighbors to inline ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    try {
      Similarity.writeIvfIndex(embs, "vec_id", "embedding", dir, cells = 16)
      val q = Similarity.prepareQueries(embs.filter($"vec_id" < 5), "vec_id", "embedding")
      val fromIndex = Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val inline = Similarity.ivfTopK(embs, q, "vec_id", "embedding",
          k = 10, cells = 16, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(fromIndex == inline && fromIndex.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("rerankCandidates: exact cosine over nominated pairs only; candidates broadcast") {
    val q = Similarity.prepareQueries(embs.filter($"vec_id" < 3), "vec_id", "embedding")
    val cand = Quantization.quantizedTopK(
      embs, embs.filter($"vec_id" < 3), "vec_id", "embedding", k = 30)
    val out = Similarity.rerankCandidates(embs, q, cand, "vec_id", "embedding", k = 10)
    val got = out.collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(2)).map(r => (r.getLong(1), r.getDouble(3))).toSeq)
      .toMap
    // truth: per query, exact cosine over EXACTLY the nominated set
    val all = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val nominated = cand.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    (0L until 3L).foreach { qid =>
      val want = nominated(qid).filter(_ != qid).toSeq
        .map(n => (n, cos(all(qid), all(n))))
        .sortBy { case (n, c) => (-c, n) }.take(10)
      assert(got(qid) == want, s"query $qid")
    }
    // scale shape: the bounded candidate list is the broadcast side
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"plan lacks WindowGroupLimit:\n$plan")
  }

  test("IVF index probe scans ONLY the probed cell partitions") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx2").toString
    try {
      Similarity.writeIvfIndex(embs, "vec_id", "embedding", dir, cells = 16)
      val q = Similarity.prepareQueries(embs.filter($"vec_id" === 0), "vec_id", "embedding")
      // sparkPlan (pre-adaptive): AdaptiveSparkPlanExec hides children
      // from collect; the static IN-list partition filter is present
      // before execution either way
      val plan = Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
        .queryExecution.sparkPlan
      // one query × nprobe=4 → the index scan must read ≤4 of the 16
      // cell partitions (static IN-list partition filter)
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("cells")) => f
      }
      assert(scans.nonEmpty, s"no index scan found:\n$plan")
      // the scan carries BOTH the static IN-list filter and a
      // dynamicpruning filter from the broadcast cell join; only the
      // static one is evaluable before execution
      val static = scans.head.partitionFilters
        .filterNot(_.toString.contains("dynamicpruning"))
      assert(static.nonEmpty, "expected a static cell IN-list partition filter")
      val parts = scans.head.relation.location.listFiles(
        static, scans.head.dataFilters).length
      assert(parts <= 4, s"expected ≤4 pruned cell partitions, scanned $parts")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

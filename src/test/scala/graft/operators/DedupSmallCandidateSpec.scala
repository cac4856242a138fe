package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash dedup's small-candidate path — candidates read back from
  * their checkpoint, verified on the driver when their shingles fit
  * `autoBroadcastJoinThreshold`, verified pairs handed straight to the
  * driver union-find — against the over-budget path and the
  * distributed star rounds, plus the jobs it runs. */
class DedupSmallCandidateSpec extends SparkSpec {
  private lazy val s2 = spark
  import s2.implicits._

  /** 11 words: 9 distinct 3-shingles; the copy changes the last word,
    * so 8 shared of 10 — Jaccard exactly 0.8, on the threshold. */
  private val edge = (0 until 11).map(i => s"edge$i").mkString(" ")
  private val edgeCopy = edge.replace("edge10", "other10")

  private lazy val corpus: DataFrame = Tables.documents(spark, sf())
    .select("doc_id", "text")
    .union(Seq((900001L, edge), (900002L, edgeCopy)).toDF("doc_id", "text"))
    .withColumn("score", length(col("text")) % 7)

  private def labels(d: DataFrame) =
    d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private def picks(d: DataFrame) =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("small-candidate clusters and canonical picks equal the over-budget star-round path") {
    val small = labels(Dedup.clusters(corpus, "doc_id", "text"))
    val forced = labels(Dedup.minhashClusters(corpus, "doc_id", "text", 0.8,
      budget = -1L, driverEdgeLimit = 0L))
    assert(small == forced)
    assert(small.contains((900002L, 900001L)), "the pair at exactly Jaccard 0.8 clusters")
    assert(small.count { case (id, c) => id != c } > 1, "corpus has planted near-dups")
    val keepSmall = picks(Dedup.canonicalPerCluster(corpus, "doc_id", "text", "score"))
    val keepForced = picks(Dedup.canonicalOf(Dedup.minhashClusters(corpus, "doc_id", "text",
      0.8, carry = Seq("score"), budget = -1L, driverEdgeLimit = 0L), "doc_id", "score"))
    assert(keepSmall == keepForced)
  }

  private def pairRows(d: DataFrame) =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** A MinHash index over the odd-id half of `docs`, loaded. */
  private def oddIndex(docs: DataFrame): Dedup.MinhashIndexState = {
    val idx = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_dedup_small_spec_${java.util.UUID.randomUUID}").getAbsolutePath
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", idx)
    Dedup.loadMinhashIndex(spark, idx)
  }

  test("small-candidate pairs equal the over-budget path's, the 0.8 edge pair included") {
    val even = corpus.filter(col("doc_id") % 2 === 0)
    val odd = corpus.filter(col("doc_id") % 2 === 1)
    val st = oddIndex(corpus)
    // the three MinHash entry points, each at a budget (-1 forces the
    // over-budget path), with the pair the 0.8 edge docs must give
    val entryPoints = Seq[(String, Long => Dedup.Verified, (Long, Long, Double))](
      ("minhashPairs", b => Dedup.minhashPairsCounted(
        corpus, "doc_id", "text", 3, 64, 2, 0.8, 1000, b), (900001L, 900002L, 0.8)),
      ("minhashPairsAgainst", b => Dedup.minhashPairsAgainstCounted(
        even, "doc_id", "text", odd, "doc_id", "text", budget = b), (900002L, 900001L, 0.8)),
      ("probeMinhashIndexWith", b => Dedup.probeMinhashIndexCounted(
        st, even, "doc_id", "text", budget = b), (900002L, 900001L, 0.8)))
    for ((name, run, edgePair) <- entryPoints) {
      val small = run(Dedup.RepartitionVerifyRows)
      val forced = run(-1L)
      val smallRows = pairRows(small.frame)
      assert(smallRows == pairRows(forced.frame), name)
      assert(small.bound.isDefined && forced.bound.isEmpty, s"$name: only the small path reports its count")
      assert(smallRows.contains(edgePair), s"$name: $smallRows")
      assert(smallRows.size <= small.bound.get, s"$name: the candidate count bounds the verified pairs")
    }
  }

  private def broadcastsIn(d: DataFrame): Int = {
    d.collect()
    "BroadcastExchange".r.findAllMatchIn(d.queryExecution.executedPlan.toString).size
  }

  test("under the shingle bound the small path verifies on the driver; past it the distributed verify runs") {
    val onDriver = Dedup.minhashPairs(corpus, "doc_id", "text")
    val want = pairRows(onDriver)
    val plan = onDriver.queryExecution.executedPlan
    assert(plan.collect { case s: org.apache.spark.sql.execution.LocalTableScanExec => s }.nonEmpty &&
      !plan.toString.contains("Join"), s"verified on the driver: a local relation\n$plan")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      // broadcasts off (-1), or shingles over the threshold (1 byte —
      // the long-document case): the distributed verify runs with its
      // joins pinned to shuffle, nothing is broadcast, and the pairs
      // are the same
      for (threshold <- Seq("-1", "1")) {
        spark.conf.set(key, threshold)
        val off = Dedup.minhashPairs(corpus, "doc_id", "text")
        assert(broadcastsIn(off) == 0, off.queryExecution.executedPlan)
        assert(off.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
          off.queryExecution.executedPlan)
        assert(pairRows(off) == want)
      }
    } finally spark.conf.set(key, prev)
  }

  /** Jobs started by `body` on this thread (and the broadcast threads
    * it hands its local properties to), with their descriptions. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"dedup-spec-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "caller's description")
    try {
      val out = body
      assert(sc.getLocalProperty("spark.job.description") == "caller's description",
        "the caller's job description is restored")
      ListenerBusDrain(sc)
      (out, seen.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("every job Dedup.clusters starts carries a dedup.* description") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val (_, descs) = jobsOf(Dedup.clusters(docs, "doc_id", "text"))
    assert(descs.nonEmpty && descs.forall(_.startsWith("dedup.")), descs)
    // the star rounds name their jobs too
    val (_, forced) = jobsOf(Dedup.minhashClusters(docs, "doc_id", "text", 0.8,
      budget = -1L, driverEdgeLimit = 0L))
    assert(forced.forall(_.startsWith("dedup.")), forced)
    assert(forced.contains("dedup.cc.starRound") && forced.contains("dedup.cc.edges"), forced)
  }

  test("every job the other Dedup entry points start carries a dedup.* description") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 2 === 1)
    val batch = docs.filter(col("doc_id") % 2 === 0)
    val idx = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_dedup_jobs_spec_${java.util.UUID.randomUUID}").getAbsolutePath
    Dedup.writeMinhashIndex(ref, "doc_id", "text", idx)
    val st = Dedup.loadMinhashIndex(spark, idx)
    val vecs = Tables.embeddings(spark, sf())
    val calls = Seq[(String, () => DataFrame)](
      "minhashPairsAgainst" -> (() => Dedup.minhashPairsAgainst(
        batch, "doc_id", "text", ref, "doc_id", "text")),
      "probeMinhashIndexWith" -> (() => Dedup.probeMinhashIndexWith(st, batch, "doc_id", "text")),
      "simhashPairs" -> (() => Dedup.simhashPairs(docs, "doc_id", "text")),
      "hammingPairs" -> (() => Dedup.hammingPairs(
        docs.select(col("doc_id"), xxhash64(col("text")).as("h")), "doc_id", "h")),
      "embeddingPairs" -> (() => Dedup.embeddingPairs(vecs, "vec_id", "embedding")),
      "editPairs" -> (() => Dedup.editPairs(docs, "doc_id", "text", maxEdits = 5)))
    for ((name, call) <- calls) {
      val (_, descs) = jobsOf(call())
      assert(descs.nonEmpty && descs.forall(_.startsWith("dedup.")), s"$name: $descs")
    }
  }

  test("Dedup.clusters on the sf0.001 corpus runs a pinned number of jobs") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    Dedup.clusters(docs, "doc_id", "text").collect() // warm: plans and file listing cached
    val (_, descs) = jobsOf(Dedup.clusters(docs, "doc_id", "text"))
    assert(descs.size == PinnedJobs, descs)
  }

  // 3 for the candidate checkpoint (two shuffle stages + the result), 1
  // to read the candidates back from the checkpoint and 1 to collect the
  // candidate docs' (id, text) for the driver verify; the verified pairs
  // go into the union-find without a job
  private val PinnedJobs = 5

  test("cross-corpus and index probes on the sf0.001 corpus run a pinned number of jobs") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 2 === 1)
    val batch = docs.filter(col("doc_id") % 2 === 0)
    val st = oddIndex(docs)
    val calls = Seq[(String, () => DataFrame, Int)](
      ("minhashPairsAgainst",
        () => Dedup.minhashPairsAgainst(batch, "doc_id", "text", ref, "doc_id", "text"),
        PinnedCrossJobs),
      ("probeMinhashIndexWith", () => Dedup.probeMinhashIndexWith(st, batch, "doc_id", "text"),
        PinnedIndexJobs))
    for ((name, call, pinned) <- calls) {
      call().collect() // warm: plans and file listing cached
      val (_, descs) = jobsOf(call().collect())
      assert(descs.size == pinned, s"$name: $descs")
    }
  }

  // Every job of the call and of collecting its pairs. Cross: the
  // candidate checkpoint and its readback (6, dedup.cross.candidates)
  // and one (id, text) collect per side for the driver verify (2).
  // Index: the probe grouping's and the candidates' checkpoints and the
  // readback (6, dedup.index.candidates); the stored side has no byte
  // bound, so collecting the pairs runs the verify joins (3).
  private val PinnedCrossJobs = 8
  private val PinnedIndexJobs = 9
}

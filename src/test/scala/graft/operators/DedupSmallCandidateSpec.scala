package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash dedup's small-candidate path — candidates collected into a
  * local relation, shingles broadcast once, verified pairs handed
  * straight to the driver union-find — against the over-budget path
  * and the distributed star rounds, plus the jobs it runs. */
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

  test("small-candidate pairs equal the over-budget path's, the 0.8 edge pair included") {
    def pairs(budget: Long) = {
      val (p, n) = Dedup.minhashPairsCounted(corpus, "doc_id", "text", 3, 64, 2, 0.8, 1000, budget)
      (pairRows(p), n)
    }
    val (small, nSmall) = pairs(Dedup.RepartitionVerifyRows)
    val (forced, nForced) = pairs(-1L)
    assert(small == forced)
    assert(nSmall.isDefined && nForced.isEmpty, "only the small path reports its count")
    assert(small.contains((900001L, 900002L, 0.8)))
    assert(small.size <= nSmall.get, "the candidate count bounds the verified pairs")
  }

  private def broadcastsIn(d: DataFrame): Int = {
    d.collect()
    "BroadcastExchange".r.findAllMatchIn(d.queryExecution.executedPlan.toString).size
  }

  test("the candidate docs' shingles broadcast only under autoBroadcastJoinThreshold") {
    val want = pairRows(Dedup.minhashPairs(corpus, "doc_id", "text"))
    assert(broadcastsIn(Dedup.minhashPairs(corpus, "doc_id", "text")) > 0,
      "a few small docs broadcast their shingles")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      // broadcasts off (-1), or shingles over the threshold (1 byte —
      // the long-document case): the small path hints no broadcast,
      // and the pairs are the same
      for (threshold <- Seq("-1", "1")) {
        spark.conf.set(key, threshold)
        val off = Dedup.minhashPairs(corpus, "doc_id", "text")
        assert(broadcastsIn(off) == 0, off.queryExecution.executedPlan)
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

  test("Dedup.clusters on the sf0.001 corpus runs a pinned number of jobs") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    Dedup.clusters(docs, "doc_id", "text").collect() // warm: plans and file listing cached
    val (_, descs) = jobsOf(Dedup.clusters(docs, "doc_id", "text"))
    assert(descs.size == PinnedJobs, descs)
  }

  // 3 for the candidate checkpoint (two shuffle stages + the result), 1
  // to collect the candidates, 1 to materialize and measure the candidate
  // docs' shingles, 1 to broadcast them and 1 to collect the verified
  // pairs into the union-find
  private val PinnedJobs = 7
}

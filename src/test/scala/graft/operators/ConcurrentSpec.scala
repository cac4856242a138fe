package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.CheckpointDirReset
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

/** Concurrent branches: a failing branch cancels its siblings' Spark
  * jobs and surfaces its own exception; serving materialization stays
  * local even with a checkpoint dir set. */
class ConcurrentSpec extends SparkSpec {

  private lazy val s2 = spark
  import s2.implicits._

  test("a failing branch cancels the sibling's running job and its exception surfaces") {
    val sc = spark.sparkContext
    // the slow branch's job is the only one submitted while the listener is on
    val branchJobs = ConcurrentHashMap.newKeySet[Int]()
    val ended = new ConcurrentHashMap[Int, JobResult]()
    val started = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        branchJobs.add(e.jobId)
        started.countDown()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.jobResult)
    }
    sc.addSparkListener(listener)
    try {
      val sleepy = udf { (x: Long) => Thread.sleep(60000L); x }
      val slow = () => spark.range(0, 4, 1, 4).toDF("id").select(sleepy(col("id")).as("id"))
      val failing = () => {
        assert(started.await(30, TimeUnit.SECONDS), "sibling job never started")
        throw new IllegalStateException("branch boom")
      }
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](Concurrent.materialize2(slow, failing))
      assert(e.getMessage == "branch boom")
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (!branchJobs.stream.allMatch(ended.containsKey) &&
             System.nanoTime() < deadline) Thread.sleep(50)
      assert(branchJobs.size == 1, s"one sibling job: $branchJobs")
      val jobId = branchJobs.iterator.next()
      assert(ended.get(jobId).isInstanceOf[JobFailed], s"sibling job result: ${ended.get(jobId)}")
      assert(System.nanoTime() - t0 < TimeUnit.SECONDS.toNanos(50),
        "the sibling's 60 s tasks must be cancelled, not run out")
    } finally sc.removeSparkListener(listener)
  }

  test("hybridServeWith writes nothing under a checkpoint dir and serves the same rows") {
    val base = java.nio.file.Files.createTempDirectory("graft_serve_spec").toFile
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val embs = Tables.embeddings(spark, sf())
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", s"$base/bm")
    Similarity.writeIvfIndex(embs, "vec_id", "embedding", s"$base/pq",
      cells = 8, codec = Similarity.IvfCodec.Pq(
        Quantization.trainPqCodebook(embs, "vec_id", "embedding", 8, 16)))
    val state = Retrieval.loadHybridState(spark, s"$base/bm", s"$base/pq")
    val terms = Seq((0L, "spark"), (0L, "window"), (1L, "hash"), (1L, "join"))
      .toDF("query_id", "term")
    val queries = Similarity.prepareQueries(embs, "vec_id", "embedding")
      .filter($"q_id" <= 1)
    def serve() = Retrieval.hybridServeWith(state, terms, "query_id", "term",
        queries, embs, "vec_id", "embedding")
      .collect().map(_.toSeq).toSet
    val ckpt = new java.io.File(base, "ckpt")
    try {
      val want = serve()
      assert(want.nonEmpty)
      spark.sparkContext.setCheckpointDir(ckpt.getPath)
      val got = (1 to 5).map(_ => serve())
      assert(got.forall(_ == want))
      val files = org.apache.commons.io.FileUtils.listFiles(ckpt, null, true)
      assert(files.isEmpty, s"serving wrote checkpoint files: $files")
    } finally {
      CheckpointDirReset(spark.sparkContext)
      org.apache.commons.io.FileUtils.deleteQuietly(base)
    }
  }
}

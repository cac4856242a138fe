package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.{Quantization, Retrieval, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Streaming hybrid serving: whole-row queries make batching
  * invisible (stream ≡ batch composition for any staging), the
  * re-served-id guard refuses duplicates a batch-* union read would
  * garble, and a crash-replayed batch converges. */
class StreamingHybridServeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_shybrid_spec_${tag}_${java.util.UUID.randomUUID}").getAbsolutePath

  private def docs = Tables.documents(spark, sf()).select("doc_id", "text")
  private def embs = Tables.embeddings(spark, sf())

  // the q_hybrid_served query shape: three queries, each carrying its
  // term set AND its embedding (vec_id = query_id) in ONE row
  private val termsByQ: Map[Long, Seq[String]] = Map(
    0L -> Seq("spark", "window", "agg"),
    1L -> Seq("hash", "join"),
    2L -> Seq("vector", "stream", "sort", "query"))

  private def queryRows = {
    val vecs = embs.filter($"vec_id" <= 2)
      .select($"vec_id".cast("long"), $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    termsByQ.toSeq.sortBy(_._1).map { case (q, ts) => (q, ts, vecs(q)) }
      .toDF("query_id", "terms", "embedding")
  }

  // both serving indexes, built once for the suite
  private lazy val bmIdx: String = {
    val p = tmp("bmidx")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", p)
    p
  }
  private lazy val pqIdx: String = {
    val p = tmp("pqidx")
    Similarity.writeIvfIndex(embs, "vec_id", "embedding", p,
      cells = 8, codec = Similarity.IvfCodec.Pq(
        Quantization.trainPqCodebook(embs, "vec_id", "embedding", 8, 16)))
    p
  }

  private def batchExpected: Set[Seq[Any]] = {
    val queries = Similarity
      .prepareQueries(embs, "vec_id", "embedding").filter($"q_id" <= 2)
    Retrieval.hybridServe(spark, bmIdx, pqIdx,
        termsByQ.toSeq.flatMap { case (q, ts) => ts.map(q -> _) }
          .toDF("query_id", "term"), "query_id", "term",
        queries, embs, "vec_id", "embedding")
      .collect().map(_.toSeq).toSet
  }

  private def fileSource(stage: String) = {
    val schema = spark.read.parquet(stage).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
  }

  private def runStream(stage: String, base: String,
                        refuse: Boolean = true): Unit =
    StreamingHybridServe.run(spark, fileSource(stage), bmIdx, pqIdx,
      "query_id", "terms", "embedding", embs, "vec_id", "embedding",
      sinkPath = s"$base/out", checkpoint = s"$base/ckpt",
      refuseReservedIds = refuse)

  test("streamed hybrid serving == batch hybridServe, for 1-, 2- and 3-batch stagings") {
    val want = batchExpected
    val rows = queryRows.collect().toSeq
    for ((split, tag) <- Seq(
        Seq(Seq(0, 1, 2)) -> "one",
        Seq(Seq(0, 1), Seq(2)) -> "two",
        Seq(Seq(0), Seq(1), Seq(2)) -> "three")) {
      val base = tmp(s"eq_$tag")
      for (g <- split)
        spark.createDataFrame(
            spark.sparkContext.parallelize(g.map(rows), 1), queryRows.schema)
          .coalesce(1).write.mode("append").parquet(s"$base/stage")
      runStream(s"$base/stage", base)
      val got = spark.read.parquet(s"$base/out/batch-*")
        .collect().map(_.toSeq).toSet
      assert(got == want, s"staging '$tag' diverged from the batch answer")
    }
  }

  test("a re-served query id refuses loudly on resume, naming the owning batch") {
    val base = tmp("reserve")
    queryRows.coalesce(1).write.mode("append").parquet(s"$base/stage")
    runStream(s"$base/stage", base)
    // the serving tier wrongly re-emits query 0 (new file = new batch)
    queryRows.filter($"query_id" === 0L)
      .coalesce(1).write.mode("append").parquet(s"$base/stage")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream(s"$base/stage", base)
    }
    assert(e.getCause.getMessage.contains("first served by batch"),
      e.getCause.getMessage)
  }

  test("opt-out accepts re-serves (answers consumed per-batch)") {
    val base = tmp("optout")
    queryRows.coalesce(1).write.mode("append").parquet(s"$base/stage")
    runStream(s"$base/stage", base, refuse = false)
    queryRows.filter($"query_id" === 0L)
      .coalesce(1).write.mode("append").parquet(s"$base/stage")
    runStream(s"$base/stage", base, refuse = false)
    // query 0's fused rows now exist once per serving batch
    val n = spark.read.parquet(s"$base/out/batch-*")
      .filter($"query_id" === 0L && $"fused_rank" === 1).count()
    assert(n == 2L)
  }

  test("crash replay converges: lost marker + checkpoint commit re-runs the batch, sink equals the clean run") {
    val base = tmp("replay")
    val rows = queryRows.collect().toSeq
    for (g <- Seq(Seq(0, 1), Seq(2)))
      spark.createDataFrame(
          spark.sparkContext.parallelize(g.map(rows), 1), queryRows.schema)
        .coalesce(1).write.mode("append").parquet(s"$base/stage")
    runStream(s"$base/stage", base)
    val want = spark.read.parquet(s"$base/out/batch-*")
      .collect().map(_.toSeq).toSet
    assert(want == batchExpected)
    // crash snapshot: the last batch wrote its dir but lost both its
    // marker and its checkpoint commit
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$base/out/_batches"))
      .map(_.getPath).sortBy(_.getName)
    val lastBatch = markers.last.getName.toLong
    fs.delete(markers.last, false)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/ckpt/commits"))
      .map(_.getPath).filter(_.getName == lastBatch.toString)
      .foreach(p => fs.delete(p, false))
    runStream(s"$base/stage", base)
    assert(spark.read.parquet(s"$base/out/batch-*")
      .collect().map(_.toSeq).toSet == want)
  }
}

package graft.tools

import graft.Tables
import graft.model.Granularity
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.plans.GraftExtensions
import graft.queries.DruidQueries
import graft.sources.SegmentStore
import org.apache.spark.sql.functions._

/** End-to-end narrative run: the whole engine composed as one
  * training-data pipeline over the synthetic tables —
  *
  *   events  → rollup ingest → timeline scan → Druid JSON query
  *   documents → quality filter → near-dup clustering → keep-one
  *   embeddings → IVF ANN neighbors for the kept docs' vectors
  *   media (stub) → decode → frame sampling
  *   plus SQL-surface sketches via GraftExtensions.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)

    println("== 1. rollup-ingest events into a versioned segment store ==")
    val base = java.nio.file.Files.createTempDirectory("graft_demo_").toString
    SegmentStore.ingest(spark, Tables.events(spark, sfDir), SegmentStore.IngestSpec(
      "ev", "ts", Seq("event_type"),
      """[{"type":"count","name":"cnt"},
        |{"type":"thetaSketch","name":"users","fieldName":"user_id"}]""".stripMargin,
      Granularity.Calendar("hour"), Granularity.Calendar("day")), base, "v1")
    val scanned = SegmentStore.scan(spark, base, SegmentStore.ScanSpec(
      "ev", 0, Long.MaxValue / 2, Seq("event_type"), Seq("cnt", "users")))
    println(s"  scanned rolled-up rows: ${scanned.count()}")

    println("== 2. Druid JSON query over raw events ==")
    DruidQueries.run(Tables.events(spark, sfDir), "ts",
      """{"queryType":"topN","dimension":"event_type","metric":"cnt","threshold":3,
        |"aggregations":[{"type":"count","name":"cnt"}]}""".stripMargin).show(3, false)

    println("== 3. document curation: quality filter -> dedup keep-one ==")
    val docs = Tables.documents(spark, sfDir)
    val quality = TextAnalysis.quality(docs, "doc_id", "text")
      .filter(col("n_words") >= 10)
    val curated = Dedup.dedupByMinhash(
      docs.join(quality.select("doc_id"), Seq("doc_id"), "left_semi"),
      "doc_id", "text", threshold = 0.8)
    println(s"  docs: ${docs.count()} -> quality: ${quality.count()} -> deduped: ${curated.count()}")

    println("== 4. ANN neighbors for first kept vectors ==")
    val embs = Tables.embeddings(spark, sfDir)
    val q = Similarity.prepareQueries(embs.filter(col("vec_id") < 3), "vec_id", "embedding")
    Similarity.ivfTopK(embs, q, "vec_id", "embedding", k = 3, cells = 16, nprobe = 4)
      .show(9, false)

    println("== 5. multimodal stub: decode + frame sampling ==")
    val media = docs.limit(50).select(col("doc_id").as("media_id"),
      col("text").cast("binary").as("blob"))
    val decoded = Multimodal.decode(media, "media_id", "blob")
    println(s"  sampled frames: ${Multimodal.sampleFrames(decoded, stride = 5).count()}")

    println("== 6. sketches from SQL ==")
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    spark.sql(
      """SELECT event_type, theta_estimate(theta_sketch_agg(user_id)) AS distinct_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin).show(false)

    spark.stop()
  }
}

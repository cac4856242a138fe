package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, IndexMaintenance, TextAnalysis}
import graft.operators.IndexMaintenance.MaintenancePolicy
import org.apache.spark.sql.functions._

/** Streaming index INGEST for the lexical and MinHash families (and
  * the self-tending hook on the vector family's existing stream):
  * stream-ingest must equal a one-shot build on the union, survive a
  * replayed committed batch as a no-op (the guarded-append protocol,
  * no marker window), self-tend mid-stream with probe identity across
  * the fired compactions, and REFUSE loudly — never silently skip —
  * when a fresh ingestId re-presents docs a lost lineage ingested. */
class StreamingIndexIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docs = graft.Tables.documents(spark, sf())
    .select("doc_id", "text")

  private val queries = graft.queries.PipelineQueries.bm25MultiQueries
  private def probeBm25(idx: String) =
    TextAnalysis.scoreWithBm25IndexMulti(spark, idx,
        queries.toDF("query_id", "term"), "query_id", "term", k = 10)
      .collect().map(_.toSeq).toSet

  private def stageStream(dir: String, parts: Int,
                          df: org.apache.spark.sql.DataFrame) = {
    df.repartition(parts).write.parquet(s"$dir/stage")
    spark.readStream.schema(spark.read.parquet(s"$dir/stage").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/stage")
  }

  private def dataFiles(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.isDirectory) Nil
    else f.listFiles.toSeq.flatMap(c =>
      if (c.isDirectory) dataFiles(c.toString)
      else if (c.getName.endsWith(".parquet")) Seq(c) else Nil)
  }

  test("BM25 stream-ingest == build on the union; self-tends mid-stream; replay no-op; fresh-ingestId re-present refuses") {
    val idx = java.nio.file.Files.createTempDirectory("bm25ing").toString
    val run = java.nio.file.Files.createTempDirectory("bm25ingrun").toString
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 3 =!= 0),
      "doc_id", "text", idx)
    // maxFileBloat=1.0 fires on every batch (files >= byte-sized
    // target always) — the aggressive end of the policy space, so the
    // probe-identity-across-fired-compactions claim is exercised 3×
    StreamingIndexIngest.bm25(
      stageStream(run, 3, docs.filter($"doc_id" % 3 === 0)), idx,
      "doc_id", "text", s"$run/ckpt", ingestId = "crawl",
      maintain = Some(MaintenancePolicy(maxFileBloat = 1.0)))

    val full = java.nio.file.Files.createTempDirectory("bm25ingfull").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", full)
    assert(probeBm25(idx) == probeBm25(full),
      "stream-ingested index diverges from the build on the union")

    // the last batch's maintenance compacted: the live postings
    // generation holds the byte-sized file count (1 at this scale),
    // not one file per build + per increment
    val postingsDir = graft.operators.IndexLayout.snapshot(spark, idx)
      .dir("postings")
    assert(dataFiles(postingsDir).size == 1,
      s"mid-stream maintenance never fired: $postingsDir has " +
        s"${dataFiles(postingsDir).size} data files")

    // replay of a committed batch converges to a no-op even AFTER the
    // compaction generations moved (markers outlive manifest flips)
    val dlBefore = spark.read.parquet(
      graft.operators.IndexLayout.snapshot(spark, idx).dir("dl")).count()
    val replayed = TextAnalysis.appendToBm25IndexGuarded(
      docs.filter($"doc_id" % 3 === 0).limit(5), "doc_id", "text", idx,
      StreamingIndexIngest.appendId("crawl", 0L))
    assert(!replayed, "replayed committed batch claimed to append")
    val snapAfter = graft.operators.IndexLayout.snapshot(spark, idx)
    spark.catalog.refreshByPath(snapAfter.dir("dl"))
    assert(spark.read.parquet(snapAfter.dir("dl")).count() == dlBefore,
      "replayed committed batch re-appended documents")

    // a NEW lineage (checkpoint lost, fresh ingestId) re-presenting
    // already-ingested docs refuses loudly — never a silent skip
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.appendToBm25IndexGuarded(
        docs.filter($"doc_id" % 3 === 0).limit(5), "doc_id", "text", idx,
        StreamingIndexIngest.appendId("crawl2", 0L))
    }
    assert(e.getMessage.contains("already exist"))

    for (p <- Seq(idx, run, full))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  }

  test("MinHash stream-ingest probe == build on the union (post-compaction row-identical); self-tends from pending-band debt") {
    val idx = java.nio.file.Files.createTempDirectory("mhing").toString
    val run = java.nio.file.Files.createTempDirectory("mhingrun").toString
    Dedup.writeMinhashIndex(docs.filter($"doc_id" % 3 =!= 0),
      "doc_id", "text", idx)
    // maxPendingFraction=0.05: each batch lands pending band rows well
    // past 5% of the folded bands bytes at this scale, so the policy
    // fires from the PENDING-debt trigger (the probe-union bound)
    StreamingIndexIngest.minhash(
      stageStream(run, 3, docs.filter($"doc_id" % 3 === 0)), idx,
      "doc_id", "text", s"$run/ckpt", ingestId = "crawl",
      maintain = Some(MaintenancePolicy(maxPendingFraction = 0.05)))

    val full = java.nio.file.Files.createTempDirectory("mhingfull").toString
    Dedup.writeMinhashIndex(docs, "doc_id", "text", full)
    val probe = docs.filter($"doc_id" % 7 === 0)
    def rows(p: String) = Dedup.probeMinhashIndex(spark, p, probe,
        "doc_id", "text", threshold = 0.5)
      .collect().map(_.toSeq).toSet
    // the final batch's maintenance folded the pending rows, so the
    // row-identical (not just logical-bucket) regime applies
    assert(rows(idx) == rows(full),
      "stream-ingested MinHash index probe diverges from the union build")
    // and the fold actually happened: no pending bandrows bytes left
    val brDir = graft.operators.IndexLayout.snapshot(spark, idx)
      .dir("bandrows")
    assert(dataFiles(brDir).forall(_.length == 0) || dataFiles(brDir).isEmpty,
      s"pending band rows survived the mid-stream compactions: $brDir")

    for (p <- Seq(idx, run, full))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  }

  test("IVF stream self-tends under the maintain hook: per-batch cell files fold, probe == rebuild on the union") {
    val embs = graft.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding")
    val prepared = graft.operators.Similarity.prepareQueries(
        embs, "vec_id", "embedding")
      .select($"q_id".as("n_id"), $"q_v".as("n_v"))
    val bounds = graft.operators.Quantization.fitBounds(prepared, "n_v")
    val cents = prepared.orderBy($"n_id").limit(8)
      .select($"n_id".as("c_id"), $"n_v".as("c_v"))
    val q = graft.operators.Similarity.prepareQueries(
      embs.filter($"vec_id" < 5), "vec_id", "embedding")

    val idx = java.nio.file.Files.createTempDirectory("ivfing").toString
    val run = java.nio.file.Files.createTempDirectory("ivfingrun").toString
    graft.operators.Similarity.writeIvfIndex(
      embs.filter($"vec_id" % 4 =!= 0), "vec_id", "embedding", idx,
      cells = 8, centroids0 = Some(cents),
      codec = graft.operators.Similarity.IvfCodec.Sq8(bounds))
    StreamingIvfAppend.run(spark,
      stageStream(run, 3, embs.filter($"vec_id" % 4 === 0)), idx,
      "vec_id", "embedding", s"$run/ckpt",
      maintain = Some(MaintenancePolicy(maxFileBloat = 1.0)))

    val full = java.nio.file.Files.createTempDirectory("ivfingfull").toString
    graft.operators.Similarity.writeIvfIndex(embs, "vec_id", "embedding",
      full, cells = 8, centroids0 = Some(cents),
      codec = graft.operators.Similarity.IvfCodec.Sq8(bounds))
    def rows(p: String) = graft.operators.Similarity
      .queryIvfIndex(spark, p, q, k = 10, nprobe = 3)
      .collect().map(_.toSeq).toSet
    assert(rows(idx) == rows(full),
      "self-tending IVF stream diverges from the rebuild on the union")
    // the final batch's compaction folded the per-batch files: at most
    // one data file per cell directory remains
    val cellsDir = graft.operators.IndexLayout.snapshot(spark, idx)
      .dir("cells")
    val perCell = new java.io.File(cellsDir).listFiles.toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => dataFiles(d.toString).size)
    assert(perCell.nonEmpty && perCell.forall(_ <= 1),
      s"mid-stream IVF maintenance never fired: per-cell files $perCell")

    for (p <- Seq(idx, run, full))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  }
}

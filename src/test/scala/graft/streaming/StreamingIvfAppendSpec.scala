package graft.streaming

import graft.SparkSpec
import graft.operators.{Quantization, Similarity}
import org.apache.spark.sql.functions._

/** Streaming index WRITES: appending a vector stream into the SQ8 IVF
  * index must land exactly where a batch append (and a rebuild on the
  * union) would put it, survive a replayed committed batch without
  * duplicating vectors, and pay zero per-batch meta/centroid reads. */
class StreamingIvfAppendSpec extends SparkSpec {
  import spark.implicits._

  private def embs = graft.Tables.embeddings(spark, sf())
    .select("vec_id", "embedding")

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  test("stream-append == rebuild on the union; replay-safe; state hoisted (meta deleted after load)") {
    val all = embs
    val prepared = Similarity.prepareQueries(all, "vec_id", "embedding")
      .select($"q_id".as("n_id"), $"q_v".as("n_v"))
    val bounds = Quantization.fitBounds(prepared, "n_v")
    val cents = prepared.orderBy($"n_id").limit(16)
      .select($"n_id".as("c_id"), $"n_v".as("c_v"))
    val q = Similarity.prepareQueries(
      all.filter($"vec_id" < 5), "vec_id", "embedding")

    val idx = java.nio.file.Files.createTempDirectory("ivfstream").toString
    Similarity.writeIvfIndex(all.filter($"vec_id" % 4 =!= 0),
      "vec_id", "embedding", idx, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))

    // hoist the state, then DELETE meta/: micro-batches must run from
    // the hoisted state alone
    val state = Similarity.loadIvfIndex(spark, idx)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$idx/meta"))

    val run = java.nio.file.Files.createTempDirectory("ivfstreamrun").toString
    all.filter($"vec_id" % 4 === 0).repartition(3)
      .write.parquet(s"$run/stage")
    val schema = spark.read.parquet(s"$run/stage").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$run/stage")
    StreamingIvfAppend.runWithState(state, src,
      "vec_id", "embedding", s"$run/ckpt")

    // restore meta so probes can read the index
    Seq((bounds._1, bounds._2, "sq8-v1")).toDF("los", "his", "format")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/meta")

    val full = java.nio.file.Files.createTempDirectory("ivffull2").toString
    Similarity.writeIvfIndex(all, "vec_id", "embedding", full,
      cells = 16, centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    val want = rows(Similarity.queryIvfIndex(spark, full, q, k = 10, nprobe = 4))
    assert(rows(Similarity.queryIvfIndex(spark, idx, q, k = 10, nprobe = 4))
      == want)

    // replay a committed batch: the marker must make it a no-op —
    // duplicate (n_id, code) rows would distort probe top-k
    val before = spark.read.parquet(s"$idx/cells").count()
    IdempotentSink.oncePerBatch(spark, s"$idx/_batches", 0L) {
      Similarity.appendToIvfIndexWith(state,
        all.filter($"vec_id" % 4 === 0).limit(5), "vec_id", "embedding")
    }
    spark.catalog.refreshByPath(s"$idx/cells")
    assert(spark.read.parquet(s"$idx/cells").count() == before,
      "replayed committed batch re-appended vectors")
    assert(rows(Similarity.queryIvfIndex(spark, idx, q, k = 10, nprobe = 4))
      == want)

    for (p <- Seq(idx, full, run))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  }
}

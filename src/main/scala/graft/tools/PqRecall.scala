package graft.tools
import org.apache.spark.sql.functions._
import graft.operators.{Quantization, Similarity}

/** Recall profile of the PQ path: raw PQ@10 and the two-stage
  * (PQ-nominate k0 + exact re-rank) composition, under BOTH the
  * deterministic lowest-id codebook (the SQL-mirrorable gate book)
  * and the per-subspace k-means refinement (the quality book
  * a PQ writeIvfIndex's IvfCodec.Pq accepts). Recorded output (sf0.001,
  * m=8, ks=16, the 5-query probe set): lowest-id raw 0.36, two-stage
  * k0=10/30/50/100 → 0.36/0.64/0.74/0.90; kmeans(3) raw 0.30,
  * two-stage → 0.30/0.50/0.66/0.84. The 5-query sample is NOISY —
  * on 50 queries kmeans edges ahead (0.282 vs 0.264 raw; PqSpec pins
  * that, plus the 25% distortion drop 0.75 → 0.56 which is Lloyd's
  * actual objective); the near-uniform synthetic embeddings give
  * k-means little cluster structure to exploit. */
object PqRecall {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val embs = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").select("vec_id","embedding")
    val queries = embs.filter(col("vec_id") < 5)
    val exact = Similarity.bruteTopK(embs, queries, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val books = Seq(
      "lowest-id" -> Quantization.trainPqCodebook(embs, "vec_id", "embedding", 8, 16),
      "kmeans(3)" -> Quantization.trainPqCodebookKmeans(embs, "vec_id", "embedding", 8, 16, iters = 3))
    for ((name, book) <- books) {
      val raw = Quantization.pqTopK(embs, queries, "vec_id", "embedding",
          m=8, ks=16, k=10, codebook0 = Some(book))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"$name raw PQ@10 recall=${raw.count(exact).toDouble / exact.size}%.2f")
      for (k0 <- Seq(10, 30, 50, 100)) {
        val cand = Quantization.pqTopK(embs, queries, "vec_id", "embedding",
          m=8, ks=16, k=k0, codebook0 = Some(book))
        val rer = Similarity.rerankCandidates(embs,
          Similarity.prepareQueries(queries, "vec_id", "embedding"), cand, "vec_id", "embedding", k=10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(f"$name k0=$k0 two-stage recall=${rer.count(exact).toDouble / exact.size}%.2f")
      }
    }
    spark.stop()
  }
}

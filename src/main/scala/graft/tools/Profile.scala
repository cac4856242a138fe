package graft.tools

import graft.Tables
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Ad-hoc stage profiler for slow bench queries. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(32)
    spark.range(1000000).selectExpr("sum(id)").collect()

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val docsRaw = Tables.documents(spark, sfDir)
    time("docs count")(docsRaw.count())
    // signature alone vs fused banding (one-expression band keys —
    // composing bands from lambdas over a sig column recomputes the
    // signature per band, see MinHashBands)
    val sig = docsRaw.select(col("doc_id").as("id"),
      TextFunctions.minhashSigText(col("text"), 3, 64).as("sig"))
    time("fused sig")(sig.agg(count(lit(1))).collect())
    time("fused sig again")(sig.agg(count(lit(1))).collect())
    val bands = docsRaw.select(col("doc_id").as("id"),
      explode(TextFunctions.minhashBands(col("text"), 3, 64, 2)).as("bucket"))
    time("bands count (fused keys)")(bands.count())
    (1 to 3).foreach { i =>
      val p = time(s"construct minhashPairs run$i")(
        graft.operators.Dedup.minhashPairs(docsRaw, "doc_id", "text"))
      time(s"  count after construct run$i")(println("  pairs=" + p.count()))
    }
    spark.stop()
  }
}

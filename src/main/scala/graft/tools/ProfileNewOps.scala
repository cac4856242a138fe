package graft.tools

import graft.SparkEntry

/** Scale-ladder timing for the round-9 operators: min-of-3 wall time
  * per query at the SF dir given by SPARK_GRAFT_SF_DIR (args override
  * the query list). Used for the SCALING.md ladders. */
object ProfileNewOps {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q_shuffle_order", "q_token_budget", "q_curriculum",
      "q_ngram_fam", "q_bpe_segment")
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // warm-up once, then min-of-3
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[ladder] $n%-18s $sfDir%-28s $t%7.3f s")
    }
    spark.stop()
  }
}

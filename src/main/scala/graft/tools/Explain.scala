package graft.tools


/** Dump formatted plans for the headline queries — the explain-audit
  * loop (PushedFilters / ReadSchema / broadcast / codegen spans). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q1_pricing", "q3_shipping", "q_timeseries", "q_topn", "q_scan_filtered")
    names.foreach { n =>
      println(s"\n===== $n =====")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

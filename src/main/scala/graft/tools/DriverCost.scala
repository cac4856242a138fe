package graft.tools

import org.apache.spark.sql.functions._

/** Microbench of per-query DRIVER-side fixed costs at bench scale:
  * relation resolution (parquet footer/schema), Catalyst
  * analysis+optimization, and whole-stage codegen source generation —
  * the floor every declared query pays per rep regardless of data
  * size. */
object DriverCost {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(32)
    spark.range(1000000).selectExpr("sum(id)").collect()

    def time(label: String, reps: Int)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { f; i += 1 }
      println(f"[drv] $label%-46s ${(System.nanoTime() - t0) / 1e6 / reps}%8.2f ms/rep")
    }

    time("read.parquet (relation construct only)", 20) {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
    }
    val liSchema = spark.read.parquet(s"$sfDir/lineitem.parquet").schema
    time("read.schema(explicit).parquet construct", 20) {
      spark.read.schema(liSchema).parquet(s"$sfDir/lineitem.parquet")
    }
    time("read.schema(explicit).parquet + plan touch", 20) {
      spark.read.schema(liSchema).parquet(s"$sfDir/lineitem.parquet")
        .queryExecution.analyzed
    }
    time("explicit-schema count", 10) {
      spark.read.schema(liSchema).parquet(s"$sfDir/lineitem.parquet").count()
    }
    time("read.parquet + schema touch", 20) {
      spark.read.parquet(s"$sfDir/lineitem.parquet").schema
    }
    time("Tables.lineitem (with ntzToUtc)", 20) {
      graft.Tables.lineitem(spark, sfDir).schema
    }
    time("q6 construct only", 20) {
      graft.queries.TpchQueries.q6Forecast(spark, sfDir)
    }
    time("q6 queryExecution.executedPlan (plan only)", 20) {
      graft.queries.TpchQueries.q6Forecast(spark, sfDir).queryExecution.executedPlan
    }
    time("q6 full count", 10) {
      graft.queries.TpchQueries.q6Forecast(spark, sfDir).count()
    }
    time("q3 plan only", 20) {
      graft.queries.TpchQueries.q3Shipping(spark, sfDir).queryExecution.executedPlan
    }
    time("q3 full count", 10) {
      graft.queries.TpchQueries.q3Shipping(spark, sfDir).count()
    }
    time("q18 full count", 10) {
      graft.queries.TpchQueries.q18LargeOrders(spark, sfDir).count()
    }
    // a trivial action on a pre-resolved relation: the pure job floor
    val li = graft.Tables.lineitem(spark, sfDir)
    time("cached-relation count (job floor)", 20) { li.count() }
    time("1-row local relation collect (action floor)", 20) {
      spark.range(1).collect()
    }
    spark.stop()
  }
}

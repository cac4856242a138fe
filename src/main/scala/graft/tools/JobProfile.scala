package graft.tools

import org.apache.spark.scheduler._

/** Per-JOB profiler for a declared query: runs the query once warm,
  * then again with a listener that prints every Spark job's wall time
  * and stage count — the action-structure view (how many
  * driver-side barriers a query pays) that per-query totals hide.
  *
  * Usage: runMain graft.tools.JobProfile q_name [q_name2 ...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    final class L extends SparkListener {
      case class J(id: Int, t0: Long, stages: Int)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
      val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val descs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, J(e.jobId, System.nanoTime(), e.stageIds.size))
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        descs.put(e.jobId, d.take(90))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.remove(e.jobId)
        if (j != null) {
          val ms = (System.nanoTime() - j.t0) / 1e6
          lines.add(f"    job ${j.id}%3d  ${ms}%8.1f ms  stages=${j.stages}  ${descs.getOrDefault(j.id, "")}")
        }
      }
    }

    for (name <- args) {
      val fn = graft.SparkEntry.queries(name)
      // warm runs (sentinel builds, JIT, codegen cache) — measure the
      // same steady state the bench's min-of-5 converges to
      for (_ <- 1 to 4) fn(spark, sfDir).count()
      val l = new L
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      // listener bus is async — give it a beat to drain before printing
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(l)
      var jobMs = 0.0
      l.lines.forEach(ln => jobMs += ln.split("\\s+")(3).toDouble)
      println(f"\n== $name rows=$n total=${total}%6.3f s jobs=${l.lines.size} jobMs=${jobMs}%.0f driverMs=${total * 1000 - jobMs}%.0f")
      l.lines.forEach(println)
    }
    spark.stop()
  }
}

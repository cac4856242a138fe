package graft.tools

import org.apache.spark.sql.functions._

/** Evidence run for SaltedJoin: a deterministic synthetic workload
  * where one key holds 3/4 of the fact side (wide payload) and the
  * dim side (1M keys) is too big to broadcast, under the 100 TB
  * default join (sort-merge, broadcast off).
  *
  * Three regimes, interleaved min-of-3:
  *   aqe_skew    — plain join, AQE skew-join rewrite ON. The usual
  *                 winner: OptimizeSkewedJoin splits the hot
  *                 partition by mapper ranges and duplicates the
  *                 other side's reads. Salting cannot beat this;
  *                 SaltedJoin is not for this regime.
  *   unmitigated — plain join, skew rewrite OFF. Stands in for the
  *                 real cases where the rewrite is unavailable:
  *                 AQE skips it when splitting would break a
  *                 downstream required distribution (join → groupBy
  *                 on the same key, unless forceOptimizeSkewedJoin
  *                 accepts an extra shuffle), and it never fires on
  *                 a single-stage non-AQE plan. One task sorts the
  *                 entire hot key.
  *   salted      — SaltedJoin under the same OFF setting: pre-split
  *                 the hot key in the logical plan, so no runtime
  *                 rewrite is needed at all.
  *
  * The claim backed by this bench: salted ≈ aqe_skew ≪ unmitigated,
  * i.e. SaltedJoin recovers AQE-level balance where the rewrite
  * cannot fire — not that it beats AQE head-to-head.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    // shuffle joins only, over enough partitions that the hot key's
    // one partition is the bottleneck
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    val nBig = sys.env.getOrElse("SKEW_ROWS", "8000000").toLong
    val nKeys = 1000000L
    // 3/4 of the fact rows land on key 0, with a wide payload so the
    // hot key's single shuffle partition is the wall-clock bottleneck;
    // the rest spread uniformly
    val big = spark.range(nBig).select(
      when(col("id") % 4 =!= 0, 0L).otherwise(pmod(col("id"), lit(nKeys))).as("k"),
      concat(lit("x" * 400), col("id").cast("string")).as("payload"))
    val small = spark.range(nKeys).select(col("id").as("k"),
      (col("id") * 7).as("dim_payload"))

    def run(label: String, skewRewrite: Boolean)(f: () => Long): Double = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewRewrite.toString)
      val t0 = System.nanoTime(); val n = f(); val s = (System.nanoTime() - t0) / 1e9
      println(f"[skew] $label%-12s $s%7.2f s  (fp $n)"); s
    }
    // the consumer must hash a column from EACH side so Catalyst can
    // neither prune the wide payload out of the shuffle nor push the
    // aggregation below the join — a count() here degenerates to a
    // keys-only join and no partition is actually oversized
    import org.apache.spark.sql.DataFrame
    def consume(df: DataFrame): Long =
      df.agg(bit_xor(xxhash64(col("payload"), col("dim_payload")))).head().getLong(0)
    val plain = () => consume(big.join(small, "k"))
    val salted = () => consume(graft.operators.SaltedJoin.inner(big, small, "k", salts = 16))
    // interleaved min-of-3, same protocol as Bench
    val times = (1 to 3).map { _ =>
      (run("aqe_skew", skewRewrite = true)(plain),
       run("unmitigated", skewRewrite = false)(plain),
       run("salted", skewRewrite = false)(salted))
    }
    val (aqe, unmit, st) = (times.map(_._1).min, times.map(_._2).min, times.map(_._3).min)
    println(s"""{"metric":"skew_join","aqe_skew_sec":$aqe,"unmitigated_sec":$unmit,"salted_sec":$st,"salted_speedup_vs_unmitigated":${unmit / st},"rows":$nBig}""")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of a testdata dir (default 10×) for
  * EMPIRICAL scaling validation — the bench has only ever run at
  * sf0.1, so every scale claim was a static plan audit until this.
  *
  * Each fact table is replicated `copies` times with key offsets of
  * stride max(key)+1, so referential integrity holds per copy and the
  * join graph (customer⋈orders⋈lineitem⋈part/supplier) scales
  * linearly. Fixed-size dims (region, nation) are copied as-is —
  * exactly how a real corpus grows.
  *
  * Near-dup structure must scale LINEARLY, not quadratically: a plain
  * replication makes every document identical to its 9 clones, so
  * pair-emitting operators (minhash/simhash/embedding dedup) would
  * measure O(copies²) pair growth instead of data scaling. Copy i>0
  * therefore suffixes every text token with "_c<i>" (a per-copy token
  * bijection: within-copy shingle-set sizes and Jaccards are EXACTLY
  * preserved, cross-copy Jaccard drops to 0) and shifts one
  * embedding coordinate per copy (cross-copy cosine pushed far from
  * the near-dup threshold; within-copy geometry preserved up to the
  * shared shift).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated table subset (e.g. a
    // documents-only dir for the doc-operator scale series)
    val only: Set[String] = args.lift(3)
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("region", "nation", "customer", "orders", "supplier",
        "part", "lineitem", "events", "documents", "embeddings"))
    require(!(only.contains("embeddings") && copies > 64 * 64),
      "two-level embedding shift wraps at 64*64 copies - scale embeddings <= 4096x")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // driver testdata timestamps are TIMESTAMP(NANOS), read as
    // ns-longs; the scaled events copy is REWRITTEN as a true
    // microsecond TIMESTAMP so both engines read it natively (see the
    // events block below)
    val spark = graft.GraftSession.local(cpus)

    val cp = broadcast(spark.range(copies).select(col("id").as("__copy")))

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"scaled $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def stride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1
    def shift(c: String, s: Long) = col(c) + col("__copy") * s

    // fixed-size dims: as-is
    Seq("region", "nation").filter(only).foreach(n => write(n, read(n)))

    if (Seq("customer", "orders", "supplier", "part", "lineitem").exists(only)) {
      val customer = read("customer")
      val orders = read("orders")
      val supplier = read("supplier")
      val part = read("part")
      val lineitem = read("lineitem")
      val custS = stride(customer, "c_custkey")
      val ordS = stride(orders, "o_orderkey")
      val suppS = stride(supplier, "s_suppkey")
      val partS = stride(part, "p_partkey")

      if (only("customer")) write("customer", customer.crossJoin(cp)
        .withColumn("c_custkey", shift("c_custkey", custS)).drop("__copy"))
      if (only("orders")) write("orders", orders.crossJoin(cp)
        .withColumn("o_orderkey", shift("o_orderkey", ordS))
        .withColumn("o_custkey", shift("o_custkey", custS)).drop("__copy"))
      if (only("supplier")) write("supplier", supplier.crossJoin(cp)
        .withColumn("s_suppkey", shift("s_suppkey", suppS)).drop("__copy"))
      if (only("part")) write("part", part.crossJoin(cp)
        .withColumn("p_partkey", shift("p_partkey", partS)).drop("__copy"))
      if (only("lineitem")) write("lineitem", lineitem.crossJoin(cp)
        .withColumn("l_orderkey", shift("l_orderkey", ordS))
        .withColumn("l_partkey", shift("l_partkey", partS))
        .withColumn("l_suppkey", shift("l_suppkey", suppS)).drop("__copy"))
    }

    if (only("events")) {
      val events = read("events")
      val userS = stride(events, "user_id")
      val evS = stride(events, "event_id")
      write("events", events.crossJoin(cp)
        .withColumn("event_id", shift("event_id", evS))
        .withColumn("user_id", shift("user_id", userS))
        // source ts is TIMESTAMP(NANOS) read as ns-longs; write a true
        // µs timestamp so BOTH engines read the scaled copy natively
        // (a raw ns BIGINT would break every DuckDB time oracle —
        // Tables.events handles either representation on the Spark
        // side). Branch on the actual type so re-scaling an
        // already-scaled dir (ts already TIMESTAMP) stays idempotent.
        .withColumn("ts", events.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            timestamp_micros(expr("ts div 1000"))
          case _ => col("ts")
        })
        .drop("__copy"))
    }

    if (only("documents")) {
      val docs = read("documents")
      val docS = stride(docs, "doc_id")
      write("documents", docs.crossJoin(cp)
        .withColumn("doc_id", shift("doc_id", docS))
        .withColumn("text",
          when(col("__copy") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1_c"), col("__copy")))))
        .withColumn("n_chars", length(col("text")))
        .drop("__copy"))
    }

    if (only("embeddings")) {
      val embs = read("embeddings")
      val vecS = stride(embs, "vec_id")
      write("embeddings", embs.crossJoin(cp)
        .withColumn("vec_id", shift("vec_id", vecS))
        .withColumn("embedding", embedShift(col("embedding")))
        .drop("__copy"))
    }

    spark.stop()
  }

  /** Per-copy embedding perturbation: copy c > 0 gets +0.8 on dim
    * `pmod(c, 64)` and, for c ≥ 64, an additional +1.6 on dim
    * `pmod(c div 64, 64)` (+2.4 total when the two dims coincide).
    * The magnitude tags the level, so the shift multiset uniquely
    * determines `(pmod(c,64), c div 64)` and hence c — all copies up
    * to 64·64 are pairwise distinct with L∞ separation ≥ 0.8 (far
    * from any near-dup threshold; within-copy geometry preserved up
    * to the shared shift). Copies < 64 take ONLY the first-level
    * branch with the original arithmetic, so previously-built ≤64×
    * dirs (sf1, documents-sf10) are byte-identical under this scheme.
    * Expects the `__copy` long column in scope. */
  private[tools] def embedShift(emb: Column): Column = {
    val c = col("__copy")
    val lvl1 = pmod(c, lit(64))
    val lvl2 = pmod(expr("__copy div 64"), lit(64))
    transform(emb, (x, i) =>
      when(c >= 64 && i === lvl1 && i === lvl2, (x + lit(2.4f)).cast("float"))
        .when(c > 0 && i === lvl1, (x + lit(0.8f)).cast("float"))
        .when(c >= 64 && i === lvl2, (x + lit(1.6f)).cast("float"))
        .otherwise(x))
  }
}

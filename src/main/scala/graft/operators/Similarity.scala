package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Cosines are computed as a *sequential* double fold
  * (`aggregate(zip_with(...))`), which is deterministic and
  * bit-identical to the DuckDB oracle's `list_sum(list_transform(...))`
  * fold — exact cross-engine comparisons even for floating point.
  *
  * Scale design: queries (or centroids) are the small side and are
  * broadcast; the corpus is never self-joined. Top-k goes through a
  * per-query window rank after a broadcast join — the shuffle carries
  * only (query × corpus-partition local candidates), and an IVF index
  * routes to nprobe cells so the per-query scan is corpus/cells ×
  * nprobe instead of the full corpus.
  */
object Similarity {

  /** Sequential-fold cosine between two double arrays — a codegen'd
    * fused loop (same ascending-index accumulation as the interpreted
    * fold and the DuckDB oracle, so bit-identical results). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim(a, b)

  private[graft] def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Brute-force top-k cosine neighbors for each query id.
    * `queries` must be small (broadcast side). Self-matches excluded. */
  def bruteTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
    val q = queries.select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("q_v"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine(col("q_v"), col("n_v")))
    // rank within query: cosine desc, id asc (total order → stable top-k)
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine")
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-k most similar corpus vectors carrying a DIFFERENT group
    * value (label / source), restricted to a similarity band —
    * cosine ∈ [lo, hi) — so near-duplicates above `hi` (likely
    * positives or mislabels) and easy negatives below `lo` are both
    * excluded. Plan shape = [[bruteTopK]]: broadcast query batch,
    * fused codegen cosine, rank ≤ k planned as WindowGroupLimit
    * (pre- and post-shuffle top-k heaps — a giant corpus never
    * materializes a per-query partition beyond k). The group
    * inequality rides the join condition; the band is a plain
    * filter under whole-stage codegen. */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      groupCol: String, k: Int = 10,
      lo: Double = -1.0, hi: Double = 1.0): DataFrame = {
    require(lo < hi, s"empty similarity band [$lo, $hi)")
    val c = corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"),
      col(groupCol).as("n_grp"))
    val q = queries.select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("q_v"),
      col(groupCol).as("q_grp"))
    val scored = c.join(broadcast(q),
        col("q_id") =!= col("n_id") && col("n_grp") =!= col("q_grp"))
      .withColumn("cosine", cosine(col("q_v"), col("n_v")))
      .filter(col("cosine") >= lo && col("cosine") < hi)
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine")
  }

  /** Deterministic distributed k-means for IVF coarse centroids:
    * init = the `cells` lowest-id vectors, then `iters` Lloyd rounds
    * (cosine assignment via one broadcast join, per-cell elementwise
    * mean via posexplode + map-side partial aggregation — the shuffle
    * per round carries only cells × dim partials per partition, not
    * data). Fully deterministic: no sampling, ties break to the lowest
    * cell id. Empty cells keep their previous centroid. */
  def kmeansCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      cells: Int = 16, iters: Int = 3): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
    var centroids = Materialize(c.orderBy(col("n_id")).limit(cells)
      .select(col("n_id").as("c_id"), col("n_v").as("c_v")))
    for (_ <- 1 to iters) {
      // fused per-row argmax (no join, no groupBy(n_id) corpus
      // shuffle); the only exchange per round is the (cell, pos)
      // partial-mean aggregation — cells × dim rows, not data
      val cents = collectCentroids(centroids)
      val assigned = c.withColumn("c_id",
        graft.functions.VectorFunctions.nearestCell(
          col("n_v"), cents.map(_._1).toSeq, cents.map(_._2).toSeq))
      val means = assigned
        .select(col("c_id"), posexplode(col("n_v")).as(Seq("pos", "x")))
        .groupBy(col("c_id"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("c_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("c_id"), transform(col("pm"), p => p("m")).as("c_v"))
      // empty cells (no assignments) carry their previous centroid
      centroids = Materialize(centroids.select(col("c_id"), col("c_v").as("prev_v"))
        .join(means, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("c_v"), col("prev_v")).as("c_v")))
    }
    centroids
  }

  /** IVF-style ANN: deterministic coarse centroids (by default the
    * first `cells` corpus vectors — pass `kmeansCentroids(...)` output
    * via `centroids` for data-adaptive cells), each corpus vector
    * assigned to its nearest cell; queries probe the `nprobe` nearest
    * cells and brute-force only within them.
    *
    * At 100 TB the assignment is a pure projection (fused per-row
    * argmax over the collected centroid table — no join, no shuffle)
    * and the probe scans corpus/cells × nprobe vectors per query.
    */
  /** Deterministic default centroids: the `cells` lowest-id vectors. */
  private[graft] def defaultCentroids(c: DataFrame, cells: Int): DataFrame =
    c.orderBy(col("n_id")).limit(cells)
      .select(col("n_id").as("c_id"), col("n_v").as("c_v"))

  /** Collect the (bounded-by-construction: `cells` rows) centroid
    * table to the driver, sorted by c_id ascending. */
  private[graft] def collectCentroids(centroids: DataFrame): Array[(Long, Seq[Double])] =
    centroids.select(col("c_id").cast("long"), col("c_v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)

  /** [[collectCentroids]] from a persisted component dir through the
    * signature-cached small-component read — an unchanged centroid
    * table skips the collect job on every probe after the first. */
  private[graft] def collectCentroidsAt(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[(Long, Seq[Double])] =
    IndexLayout.collectSmallComponent(spark, dir)
      .map(r => (r.getAs[Number](r.fieldIndex("c_id")).longValue,
        r.getSeq[Double](r.fieldIndex("c_v"))))
      .sortBy(_._1)

  /** Nearest-cell assignment as ONE fused per-row argmax expression
    * over the driver-collected centroid table (ties break to the
    * lowest c_id, matching the oracle's "cos DESC, c_id ASC") — a pure
    * projection with NO join and NO Exchange. The previous
    * broadcast-NLJ × centroids + `groupBy(n_id)` argmax form shuffled
    * the entire corpus (vectors included) to merge groups of size one:
    * a full-corpus shuffle per assignment pass at 100 TB. Shared by
    * the inline path and the index writer: the persisted index is only
    * correct if its assignment is bit-identical to inline ivfTopK's. */
  private[graft] def assignToCells(
      c: DataFrame, cents: Array[(Long, Seq[Double])]): DataFrame =
    c.withColumn("cell", graft.functions.VectorFunctions.nearestCell(
      col("n_v"), cents.map(_._1).toSeq, cents.map(_._2).toSeq))

  /** Local DataFrame of a collected centroid table (for the tiny
    * probe-side broadcast join — avoids re-running the centroid
    * derivation as a second job). */
  private def centroidDf(
      spark: org.apache.spark.sql.SparkSession,
      cents: Array[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.toDF("c_id", "c_v")
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, cells: Int = 0, nprobe: Int = 4,
      centroids0: Option[DataFrame] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
    val nCells = if (cells > 0) cells else autoCells(c.count())
    val cents = collectCentroids(centroids0.getOrElse(defaultCentroids(c, nCells)))
    val assigned = assignToCells(c, cents)
    val centroids = centroidDf(corpus.sparkSession, cents)

    val q = queries.select(col("q_id"), col("q_v"))
    val probeW = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id").asc)
    val probes = q.join(broadcast(centroids), lit(true))
      .withColumn("c_cos", cosine(col("q_v"), col("c_v")))
      .withColumn("r", row_number().over(probeW))
      .filter(col("r") <= nprobe)
      .select(col("q_id"), col("q_v"), col("c_id").as("cell"))

    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id").asc)
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine(col("q_v"), col("n_v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine")
  }

  /** Normalize queries input for ivfTopK. */
  def prepareQueries(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("q_v"))

  /** Build and PERSIST an IVF index: every corpus vector assigned to
    * its nearest centroid cell, written `partitionBy(cell)`, plus the
    * (tiny) centroid table — the 100 TB ANN path: the assignment pass
    * runs ONCE, and every later query batch scans only its probed
    * cells via partition pruning instead of re-deriving centroids and
    * re-assigning the corpus per query (what `ivfTopK` does inline).
    *
    * Layout: `$path/cells/cell=<c_id>/…` (n_id, n_v) and
    * `$path/centroids` (c_id, c_v). Deterministic for a given corpus
    * and centroid choice, so rebuilding is idempotent. Maintenance
    * (compact/delete/guarded append) versions these components behind
    * the [[IndexLayout]] manifest; probes resolve it at plan time. */
  def writeIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      cells: Int = 0, centroids0: Option[DataFrame] = None): Unit = {
    val c = corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
    val nCells = if (cells > 0) cells else autoCells(c.count())
    val cents = collectCentroids(centroids0.getOrElse(defaultCentroids(c, nCells)))
    centroidDf(corpus.sparkSession, cents)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    assignToCells(c, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    IndexLayout.resetToBare(corpus.sparkSession, path)
  }

  /** An id-set side of a semi/anti join (tombstones, takedown sets),
    * sized on its REAL count — the [[Dedup]] idiom: within the
    * broadcast budget it broadcasts explicitly (the big side never
    * shuffles); over it, it pins a shuffle join. A takedown is usually
    * a handful of ids, but a crawl-refresh delete of a visible
    * fraction of a 100 TB corpus must complete via the shuffle path,
    * not fail mid-maintenance on the broadcast ceiling. */
  private[graft] def sizedIdSide(ids: DataFrame): DataFrame = {
    val (m, n) = Materialize.withCount(ids)
    if (n <= Dedup.BroadcastSafeRows) broadcast(m) else m.hint("merge")
  }

  /** [[sizedIdSide]] for an id set PERSISTED at `dir` (tombstones):
    * the broadcast-vs-shuffle decision keys on the parquet FILE BYTES
    * ([[IndexMaintenance.componentBytes]] — one filesystem metadata
    * call, zero Spark jobs) because this runs at PROBE PLAN time on
    * the hot serving path (a count() job per probe measured +0.5 s on
    * every delete-bearing index probe). The ceiling is the session's
    * own `autoBroadcastJoinThreshold` (so a deployment that sizes its
    * broadcast budget for its executor memory sizes this join with the
    * same knob; -1 = broadcasts disabled → always shuffle); 8 B/id on
    * disk ⇒ the default 10 MB threshold passes ≫ the row budget the
    * count-based guard uses; both paths return identical rows. */
  private[graft] def sizedIdSideFromDir(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val df = IndexLayout.readComponent(spark, dir).select(col("n_id"))
    val bytes = IndexMaintenance.componentBytes(spark, dir)
    if (bytes <= spark.sessionState.conf.autoBroadcastJoinThreshold)
      broadcast(df)
    else df.hint("merge")
  }

  /** The LIVE rows of a persisted IVF index under one
    * [[IndexLayout.Snapshot]]: the manifest-resolved `cells`
    * generation, minus pending delete tombstones (size-guarded
    * anti-join — ids deleted since the last compaction; absent for a
    * tombstone-free index, where this is exactly the raw cells scan).
    * Every probe and every maintenance rewrite reads through here so
    * deletes take effect atomically at the manifest flip. */
  private[graft] def readIvfCellsLive(
      spark: org.apache.spark.sql.SparkSession,
      snap: IndexLayout.Snapshot): DataFrame = {
    val cells = IndexLayout.readComponent(spark, snap.dir("cells"))
    if (snap.names("tombstones"))
      cells.join(sizedIdSideFromDir(spark, snap.dir("tombstones")),
        Seq("n_id"), "left_anti")
    else cells
  }

  /** Refuse an increment that re-adds TOMBSTONED ids: the stored rows
    * of a tombstoned id still exist physically, so the anti-join would
    * kill the re-added row too (silent loss) or, after a naive
    * tombstone clear, resurrect the stale stored vector. The honest
    * composition is delete → [[IndexMaintenance.compactIvfIndex]]
    * (materializes deletes, clears tombstones) → append. */
  private def refuseTombstoned(
      spark: org.apache.spark.sql.SparkSession,
      snap: IndexLayout.Snapshot, c: DataFrame, who: String): Unit =
    if (snap.names("tombstones")) {
      val n = c.select("n_id")
        .join(sizedIdSideFromDir(spark, snap.dir("tombstones")),
          Seq("n_id"), "left_semi").count()
      require(n == 0,
        s"$who: $n id(s) in this increment are tombstoned in the index at " +
          s"${snap.path} — their deleted rows still exist physically, so a " +
          "bare re-append cannot serve them; run " +
          "IndexMaintenance.compactIvfIndex (materializes pending deletes) " +
          "and then append")
    }

  /** Probe a persisted IVF index: nearest `nprobe` cells per query
    * (against the broadcast centroid table), then brute-force cosine
    * only inside those cells. The cell join is on the PARTITION column
    * of the index, so the scan prunes to the probed cells — at most
    * queries×nprobe of `cells` directories, independent of corpus
    * size (spec-asserted on the plan's partition count). */
  def queryIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int = 10, nprobe: Int = 4): DataFrame = {
    val snap = IndexLayout.snapshot(spark, path)
    val centroids = IndexLayout.readComponent(spark, snap.dir("centroids"))
    val index = readIvfCellsLive(spark, snap)

    val probeW = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id").asc)
    // computed ONCE and collected: probe rows are at most queries ×
    // nprobe (tiny by construction — queries are a probe batch, not a
    // corpus). The collected rows give (a) the static IN-list literal
    // so the index scan plans with a PartitionFilter — at 100 TB the
    // difference between scanning nprobe cells and all of them — and
    // (b) a local relation to broadcast-join, instead of re-running
    // the centroid-cosine window a second time as the join side.
    val probeRows = queries.select(col("q_id"), col("q_v"))
      .join(broadcast(centroids), lit(true))
      .withColumn("c_cos", cosine(col("q_v"), col("c_v")))
      .withColumn("r", row_number().over(probeW))
      .filter(col("r") <= nprobe)
      .select(col("q_id"), col("q_v"), col("c_id").as("cell"))
      .collect()
    val probeSchema = StructType(Seq(
      StructField("q_id", queries.schema("q_id").dataType),
      StructField("q_v", queries.schema("q_v").dataType),
      StructField("cell", centroids.schema("c_id").dataType)))
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeSchema)
    val probedCells = probeRows.map(_.getLong(2)).distinct.toSeq
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id").asc)
    index.filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine(col("q_v"), col("n_v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine")
  }

  /** Full-precision RE-RANK of a bounded candidate list — the second
    * stage of every quantized/ANN retrieval stack: a cheap proxy
    * ranker ([[Quantization.quantizedTopK]], [[queryIvfIndexSq8]],
    * an inverted index) nominates `candidates` (q_id, n_id) pairs,
    * and this re-scores ONLY those pairs with exact cosine over the
    * full-precision vectors, emitting the per-query top `k`.
    *
    * Scale shape: candidates are bounded by the upstream ranker
    * (queries × k₀ rows); they are Materialized (locally — a serving
    * request never writes the checkpoint dir) and sized on their
    * REAL count (the Dedup idiom — a proxy ranker's output estimate
    * is not trustworthy): within the broadcast-safe budget they
    * broadcast into the corpus vector join, so the corpus never
    * shuffles and only candidate vectors feed the score; a huge query
    * batch (count over budget) falls back to a shuffle join instead
    * of a driver-OOM broadcast. Queries broadcast as usual; `rank ≤ k`
    * plans as WindowGroupLimit. Self-pairs are excluded (as in every
    * ranker here); ties break on neighbor id. */
  def rerankCandidates(
      corpus: DataFrame, queries: DataFrame, candidates: DataFrame,
      idCol: String, vecCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"bad k $k")
    val c = corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
    val q = queries.select(col("q_id"), col("q_v"))
    val (cand, nCand) = Materialize.withCount(
      candidates.select(col("q_id"), col("n_id")).distinct(), bounded = true)
    val candSized =
      if (nCand <= Dedup.BroadcastSafeRows) broadcast(cand)
      else cand.hint("merge")
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id").asc)
    candSized
      .join(c, Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cosine", cosine(col("q_v"), col("n_v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cosine")
  }

  /** Build and PERSIST an SQ8-QUANTIZED IVF index — [[writeIvfIndex]]
    * composed with [[Quantization]]: cell routing is identical
    * (full-precision nearest-centroid assignment, so the index is
    * drop-in for the float one), but `cells/` stores one unsigned
    * BYTE per dimension instead of a double array — 8× smaller than
    * the float index's working form, 4× smaller than float32. At
    * 100 TB that is the difference between an index that fits its
    * store and one that doesn't. Per-dimension bounds fit on the
    * corpus in ONE pass (dim-bounded collect) and are pinned in
    * `$path/meta` with a format tag, so probes can never score under
    * drifted bounds.
    *
    * Layout: `$path/cells/cell=<c_id>/…` (n_id, code BINARY),
    * `$path/centroids` (c_id, c_v — full precision, tiny),
    * `$path/meta` (los, his, format). Meta is written LAST: its
    * _SUCCESS is the build-complete sentinel. */
  def writeIvfIndexSq8(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      cells: Int = 0, centroids0: Option[DataFrame] = None,
      bounds0: Option[(Seq[Double], Seq[Double])] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
    val nCells = if (cells > 0) cells else autoCells(c.count())
    val cents = collectCentroids(centroids0.getOrElse(defaultCentroids(c, nCells)))
    // bounds0 = PINNED quantization bounds (the production build: pin
    // bounds known to cover current AND expected future data, so
    // appendToIvfIndexSq8 increments fit under them). A pinned build
    // keeps the invariant "stored codes are never clamped": a corpus
    // vector outside the pinned bounds would quantize lossier than a
    // fit-bounds rebuild — refused loudly, same as at append time.
    val (los, his) = bounds0.getOrElse(Quantization.fitBounds(c, "n_v"))
    if (bounds0.isDefined)
      requireWithinBounds(c, los, his, "writeIvfIndexSq8(bounds0)")
    centroidDf(spark, cents)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    assignToCells(c, cents)
      .select(col("n_id"),
        graft.functions.Quantize.int8(col("n_v"), los, his).as("code"),
        col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    Seq((los, his, "sq8-v1")).toDF("los", "his", "format")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    IndexLayout.resetToBare(spark, path)
  }

  /** ONE dim-bounded pass asserting every vector of `c` (column n_v)
    * lies inside the per-dimension [los, his] box; refuses loudly
    * with the offending dimensions otherwise. */
  private def requireWithinBounds(c: DataFrame, los: Seq[Double],
                                  his: Seq[Double], who: String): Unit = {
    val (nlo, nhi) = Quantization.fitBounds(c, "n_v")
    if (nlo.isEmpty) return // no rows — nothing can drift
    require(nlo.length == los.length,
      s"$who: dimension mismatch — index is ${los.length}-d, " +
        s"vectors are ${nlo.length}-d")
    val drift = los.indices.filter(d => nlo(d) < los(d) || nhi(d) > his(d))
    require(drift.isEmpty,
      s"$who: vectors exceed the pinned SQ8 bounds in dimension(s) " +
        s"${drift.take(8).mkString(", ")} — their codes would CLAMP and " +
        "scores would drift vs a fit-bounds rebuild; rebuild the index " +
        "(writeIvfIndexSq8) with bounds covering the new data")
  }

  /** APPEND new vectors to a persisted float IVF index — the write
    * side of build-once/probe-many: a daily crawl adding vectors pays
    * one assignment pass over the INCREMENT (routed against the
    * stored centroids, the same fused per-row argmax as the build)
    * plus an append into the existing `cells/` partitions, never a
    * full-corpus re-shuffle ([[writeIvfIndex]] is mode("overwrite") —
    * a rebuild). Probes are unchanged: partition pruning still reads
    * ≤ nprobe cell directories; the new files simply join their
    * cells. Cell balance degrades as the data distribution drifts
    * from the build-time centroids — rebuild (or re-fit centroids)
    * on a slower cadence, the standard IVF maintenance split. */
  def appendToIvfIndex(newVecs: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val spark = newVecs.sparkSession
    IndexLayout.withIndexLock(spark, path, "append-ivf") {
      val snap = IndexLayout.snapshot(spark, path)
      val c = newVecs.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
      refuseTombstoned(spark, snap, c, "appendToIvfIndex")
      val cents = collectCentroidsAt(spark, snap.dir("centroids"))
      assignToCells(c, cents)
        .write.mode("append").partitionBy("cell").parquet(snap.dir("cells"))
      // manifest FENCE: appends mutate the live generation without
      // re-pointing any component, so bump the version from the
      // snapshot this append resolved — a maintenance op that raced
      // past the lease collides here loudly instead of silently
      // dropping the appended rows at its next flip
      IndexLayout.commit(spark, snap, Map.empty)
      spark.catalog.refreshByPath(snap.dir("cells"))
    }
  }

  /** APPEND new vectors to a persisted SQ8 IVF index
    * ([[writeIvfIndexSq8]] layout): the increment routes against the
    * stored full-precision centroids and quantizes under the META
    * bounds — so an appended vector's code is bit-identical to what a
    * from-scratch rebuild on (build ∪ increment) under the same
    * centroids and bounds would store (spec-pinned), and probes need
    * no new code path. Vectors OUTSIDE the pinned bounds are refused
    * loudly (their codes would clamp and drift vs a rebuild) — bounds
    * drift means the quantization config no longer covers the data,
    * which is a rebuild, not an append. Meta is untouched: bounds,
    * format tag and centroids stay the build's, which is exactly what
    * makes the probe ≡ rebuild equivalence hold. */
  def appendToIvfIndexSq8(newVecs: DataFrame, idCol: String, vecCol: String,
                          path: String): Unit =
    appendToIvfIndexSq8With(
      loadIvfSq8AppendState(newVecs.sparkSession, path),
      newVecs, idCol, vecCol, path)

  /** Driver-side SQ8 append state: the meta-pinned bounds + the
    * collected centroid table, read ONCE — streaming appenders
    * ([[graft.streaming.StreamingIvfAppend]]) keep it across
    * micro-batches instead of re-reading meta/centroids per batch
    * (the same hoist discipline as every other streaming index
    * consumer here). */
  final case class IvfSq8AppendState(los: Seq[Double], his: Seq[Double],
                                     cents: Array[(Long, Seq[Double])])

  def loadIvfSq8AppendState(spark: org.apache.spark.sql.SparkSession,
                            path: String): IvfSq8AppendState = {
    val snap = IndexLayout.snapshot(spark, path)
    val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
    val format = meta.getAs[String]("format")
    require(format == "sq8-v1",
      s"index at $path has format '$format'; this build appends 'sq8-v1'")
    IvfSq8AppendState(
      meta.getSeq[Double](meta.fieldIndex("los")),
      meta.getSeq[Double](meta.fieldIndex("his")),
      collectCentroidsAt(spark, snap.dir("centroids")))
  }

  /** [[appendToIvfIndexSq8]] over caller-held state — the per-batch
    * body for streaming appends: zero per-batch index-side driver
    * work beyond the increment's own bounded drift check and the
    * per-batch lease + manifest resolution (a compaction between
    * micro-batches re-points `cells`; bounds/centroids are immutable
    * pins, safe to hold). */
  def appendToIvfIndexSq8With(state: IvfSq8AppendState, newVecs: DataFrame,
                              idCol: String, vecCol: String,
                              path: String): Unit = {
    val spark = newVecs.sparkSession
    IndexLayout.withIndexLock(spark, path, "append-ivf-sq8") {
      val snap = IndexLayout.snapshot(spark, path)
      val c = newVecs.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
      requireWithinBounds(c, state.los, state.his, "appendToIvfIndexSq8")
      refuseTombstoned(spark, snap, c, "appendToIvfIndexSq8")
      assignToCells(c, state.cents)
        .select(col("n_id"),
          graft.functions.Quantize.int8(col("n_v"), state.los, state.his).as("code"),
          col("cell"))
        .write.mode("append").partitionBy("cell").parquet(snap.dir("cells"))
      IndexLayout.commit(spark, snap, Map.empty) // manifest fence (see appendToIvfIndex)
      spark.catalog.refreshByPath(snap.dir("cells"))
    }
  }

  /** Guarded (marker-fenced, resumable) IVF cell append — the shared
    * tail of the three guarded append forms: stage the projected
    * increment partitioned by cell, move the staged files into the
    * live `cells/` partitions with atomic deterministic renames,
    * commit. A batch ingest job that crashed mid-append and retried
    * with the same `appendId` converges to exactly-once
    * ([[graft.operators.IndexMaintenance.runGuardedAppend]]); there is
    * no finalize step — IVF appends have no global stats to repair. */
  private def guardedCellAppend(spark: org.apache.spark.sql.SparkSession,
                                projected: IndexLayout.Snapshot => DataFrame,
                                path: String, appendId: String): Boolean =
    graft.operators.IndexMaintenance.runGuardedAppend(spark, path, appendId) {
      stageDir =>
        projected(IndexLayout.snapshot(spark, path))
          .write.partitionBy("cell").parquet(s"$stageDir/cells")
    } { () =>
      spark.catalog.refreshByPath(
        IndexLayout.snapshot(spark, path).dir("cells"))
    }

  /** [[appendToIvfIndexSq8]] under the guarded protocol — the form a
    * retried batch ingest should call. Validations (format tag, the
    * pinned-bounds drift refusal, the tombstone refusal) run at stage
    * time; a committed appendId replays as a no-op (returns false). */
  def appendToIvfIndexSq8Guarded(newVecs: DataFrame, idCol: String,
                                 vecCol: String, path: String,
                                 appendId: String): Boolean = {
    val spark = newVecs.sparkSession
    lazy val state = loadIvfSq8AppendState(spark, path)
    guardedCellAppend(spark, { snap =>
      val c = newVecs.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
      requireWithinBounds(c, state.los, state.his, "appendToIvfIndexSq8Guarded")
      refuseTombstoned(spark, snap, c, "appendToIvfIndexSq8Guarded")
      assignToCells(c, state.cents)
        .select(col("n_id"),
          graft.functions.Quantize.int8(col("n_v"), state.los, state.his).as("code"),
          col("cell"))
    }, path, appendId)
  }

  /** [[appendToIvfIndex]] (float) under the guarded protocol. */
  def appendToIvfIndexGuarded(newVecs: DataFrame, idCol: String,
                              vecCol: String, path: String,
                              appendId: String): Boolean = {
    val spark = newVecs.sparkSession
    guardedCellAppend(spark, { snap =>
      val c = newVecs.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
      refuseTombstoned(spark, snap, c, "appendToIvfIndexGuarded")
      assignToCells(c, collectCentroidsAt(spark, snap.dir("centroids")))
    }, path, appendId)
  }

  /** [[appendToIvfIndexPq]] under the guarded protocol. */
  def appendToIvfIndexPqGuarded(newVecs: DataFrame, idCol: String,
                                vecCol: String, path: String,
                                appendId: String): Boolean = {
    val spark = newVecs.sparkSession
    guardedCellAppend(spark, { snap =>
      val codebook = readPqIndexState(spark, path)
      val c = newVecs.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
      refuseTombstoned(spark, snap, c, "appendToIvfIndexPqGuarded")
      assignToCells(c, collectCentroidsAt(spark, snap.dir("centroids")))
        .select(col("n_id"),
          graft.functions.Pq.encode(col("n_v"), codebook).as("code"),
          col("cell"))
    }, path, appendId)
  }

  /** Build and PERSIST a PRODUCT-QUANTIZED IVF index —
    * [[writeIvfIndexSq8]]'s layout with PQ codes in place of SQ8:
    * cell routing identical (full-precision nearest-centroid
    * assignment against stored unquantized centroids), but `cells/`
    * stores `m` BYTES per vector (one code per subspace —
    * [[graft.functions.Pq]]), 32× smaller than float32 at D=64/m=8
    * where SQ8 gives 4×: the regime where even the SQ8 index no
    * longer fits its store. The codebook defaults to the
    * deterministic [[Quantization.trainPqCodebook]] (SQL-mirrorable);
    * pass a k-means-refined `codebook0` for data-adaptive quality.
    *
    * Layout: `$path/cells/cell=<c_id>/…` (n_id, code BINARY),
    * `$path/centroids` (c_id, c_v — full precision, tiny),
    * `$path/codebook` (j, c, sub) — m × ks rows,
    * `$path/meta` (m, ks, sub_dim, format = "pq-m<m>-v1"). Meta is
    * written LAST: its _SUCCESS is the build-complete sentinel, and
    * the format tag refuses probes from a build with different PQ
    * geometry. */
  def writeIvfIndexPq(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      cells: Int = 0, m: Int = 8, ks: Int = 256,
      centroids0: Option[DataFrame] = None,
      codebook0: Option[Seq[Seq[Seq[Double]]]] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
    val nCells = if (cells > 0) cells else autoCells(c.count())
    val cents = collectCentroids(centroids0.getOrElse(defaultCentroids(c, nCells)))
    val codebook = codebook0.getOrElse(
      Quantization.trainPqCodebook(corpus, idCol, vecCol, m, ks))
    require(codebook.length == m,
      s"writeIvfIndexPq: codebook has ${codebook.length} subspaces, m = $m")
    centroidDf(spark, cents)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    assignToCells(c, cents)
      .select(col("n_id"),
        graft.functions.Pq.encode(col("n_v"), codebook).as("code"),
        col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    codebook.zipWithIndex
      .flatMap { case (entries, j) =>
        entries.zipWithIndex.map { case (sub, cc) => (j, cc, sub) } }
      .toDF("j", "c", "sub")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    Seq((m, codebook.head.length, codebook.head.head.length, s"pq-m$m-v1"))
      .toDF("m", "ks", "sub_dim", "format")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    IndexLayout.resetToBare(spark, path)
  }

  /** Load the persisted PQ meta + codebook, verifying the format tag
    * and the stored geometry. Bounded: one 1-row meta read + m × ks
    * codebook rows. */
  private def readPqIndexState(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Seq[Double]]] = {
    val snap0 = IndexLayout.snapshot(spark, path)
    readPqIndexStateAt(spark, snap0)
  }

  private def readPqIndexStateAt(
      spark: org.apache.spark.sql.SparkSession,
      snap: IndexLayout.Snapshot): Seq[Seq[Seq[Double]]] = {
    val path = snap.path
    val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
    // format FIRST: probing a non-PQ index (e.g. sq8-v1) must refuse
    // on the tag, not trip over the missing PQ geometry columns
    val format = meta.getAs[String]("format")
    require(format.matches("pq-m\\d+-v1"),
      s"index at $path has format '$format'; this build probes 'pq-m<m>-v1'")
    val m = meta.getAs[Int]("m")
    val ks = meta.getAs[Int]("ks")
    val subDim = meta.getAs[Int]("sub_dim")
    require(format == s"pq-m$m-v1",
      s"index at $path has format '$format'; its meta says m = $m — " +
        "corrupt or cross-version index")
    val codebook = IndexLayout.collectSmallComponent(spark, snap.dir("codebook"))
      .map(r => (r.getAs[Int]("j"), r.getAs[Int]("c"),
        r.getSeq[Double](r.fieldIndex("sub"))))
      .sortBy(t => (t._1, t._2))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    require(codebook.length == m &&
        codebook.forall(e => e.length == ks && e.forall(_.length == subDim)),
      s"index at $path: codebook shape does not match its meta " +
        s"(expected $m x $ks x $subDim)")
    codebook
  }

  /** Probe a persisted PQ IVF index: cell routing is FULL-precision
    * (as in [[queryIvfIndexSq8]] — centroids stored unquantized),
    * candidate scoring is the ASYMMETRIC distance computation of the
    * PQ paper: the full-precision query against each candidate's
    * codebook reconstruction ([[graft.functions.Pq.adcCosine]]),
    * exactly-rounded IEEE so every score bit is mirrorable
    * cross-engine. Partition pruning identical to [[queryIvfIndex]] —
    * at most queries × nprobe cell directories are read. Ranking is a
    * proxy (coarser than SQ8 — 32× compression buys that); production
    * re-ranks survivors with full-precision vectors
    * ([[rerankCandidates]] composes). */
  def queryIvfIndexPq(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int = 10, nprobe: Int = 4): DataFrame =
    queryIvfIndexPqWith(loadPqIndex(spark, path), queries, k, nprobe)

  /** Driver-side state of a persisted PQ IVF index: the collected
    * codebook (m × ks × subDim doubles — bounded, validated against
    * meta), the centroid reader and the LIVE cells reader (tombstone
    * anti-join already applied), all resolved from ONE
    * [[IndexLayout]] snapshot. Streaming callers
    * ([[graft.streaming.StreamingHybridServe]]) load this once at
    * stream start and probe per micro-batch via
    * [[queryIvfIndexPqWith]] — zero per-batch index-side driver work
    * (the [[graft.operators.TextAnalysis.loadBm25Index]] hoist,
    * uniformly). */
  final case class PqIndexState(codebook: Seq[Seq[Seq[Double]]],
                                centroids: DataFrame, cells: DataFrame)

  /** Load [[PqIndexState]]: one bounded meta+codebook read (format
    * tag verified), readers constructed once. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
                  path: String): PqIndexState = {
    val snap = IndexLayout.snapshot(spark, path)
    PqIndexState(readPqIndexStateAt(spark, snap),
      IndexLayout.readComponent(spark, snap.dir("centroids")),
      readIvfCellsLive(spark, snap))
  }

  /** [[queryIvfIndexPq]] over caller-held state — the per-batch body
    * for streaming probes. Identical plan and output (the
    * self-reading form delegates here). */
  def queryIvfIndexPqWith(st: PqIndexState, queries: DataFrame,
                          k: Int = 10, nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val codebook = st.codebook
    val centroids = st.centroids
    val index = st.cells

    // same collected-probe shape as queryIvfIndex: the IN-list literal
    // gives the scan a STATIC partition filter; the local relation
    // broadcast-joins instead of re-running the centroid window
    val probeW = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id").asc)
    val probeRows = queries.select(col("q_id"), col("q_v"))
      .join(broadcast(centroids), lit(true))
      .withColumn("c_cos", cosine(col("q_v"), col("c_v")))
      .withColumn("r", row_number().over(probeW))
      .filter(col("r") <= nprobe)
      .select(col("q_id"), col("q_v"), col("c_id").as("cell"))
      .collect()
    val probeSchema = StructType(Seq(
      StructField("q_id", queries.schema("q_id").dataType),
      StructField("q_v", queries.schema("q_v").dataType),
      StructField("cell", centroids.schema("c_id").dataType)))
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeSchema)
    val probedCells = probeRows.map(_.getLong(2)).distinct.toSeq
    val w = Window.partitionBy("q_id").orderBy(col("qcos").desc, col("n_id").asc)
    index.filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("qcos",
        graft.functions.Pq.adcCosine(col("q_v"), col("code"), codebook))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "qcos")
  }

  /** APPEND new vectors to a persisted PQ IVF index — the
    * [[appendToIvfIndexSq8]] analogue: the increment routes against
    * the stored centroids and encodes under the STORED codebook (so
    * appended codes are bit-identical to a rebuild on the union under
    * the same centroids + codebook; a dimension mismatch refuses
    * loudly inside the encode). PQ has no bounds to drift — codebook
    * coverage degrades smoothly as the distribution moves, which is a
    * recall concern for the periodic rebuild cadence, not a
    * correctness refusal. */
  def appendToIvfIndexPq(newVecs: DataFrame, idCol: String, vecCol: String,
                         path: String): Unit = {
    val spark = newVecs.sparkSession
    IndexLayout.withIndexLock(spark, path, "append-ivf-pq") {
      val snap = IndexLayout.snapshot(spark, path)
      val codebook = readPqIndexStateAt(spark, snap)
      val c = newVecs.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
      refuseTombstoned(spark, snap, c, "appendToIvfIndexPq")
      val cents = collectCentroidsAt(spark, snap.dir("centroids"))
      assignToCells(c, cents)
        .select(col("n_id"),
          graft.functions.Pq.encode(col("n_v"), codebook).as("code"),
          col("cell"))
        .write.mode("append").partitionBy("cell").parquet(snap.dir("cells"))
      IndexLayout.commit(spark, snap, Map.empty) // manifest fence (see appendToIvfIndex)
      spark.catalog.refreshByPath(snap.dir("cells"))
    }
  }

  /** Probe a persisted SQ8 IVF index: cell routing is FULL-precision
    * (query × broadcast centroid cosine — centroids are stored
    * unquantized, the standard IVF-SQ8 shape), candidate scoring is
    * the dequantized (ADC) cosine of [[Quantization]]: the query
    * quantizes under the INDEX bounds from meta, each stored code
    * reconstructs to its bin center, and the exactly-rounded IEEE
    * fold makes every score bit mirrorable cross-engine. Partition
    * pruning is identical to [[queryIvfIndex]] — at most
    * queries × nprobe cell directories are read (spec-asserted).
    * Ranking is a proxy (as in any SQ8 index); production re-ranks
    * survivors with full-precision vectors ([[bruteTopK]] composes). */
  def queryIvfIndexSq8(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int = 10, nprobe: Int = 4): DataFrame = {
    val snap = IndexLayout.snapshot(spark, path)
    val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
    val format = meta.getAs[String]("format")
    require(format == "sq8-v1",
      s"index at $path has format '$format'; this build probes 'sq8-v1'")
    val los = meta.getSeq[Double](meta.fieldIndex("los"))
    val his = meta.getSeq[Double](meta.fieldIndex("his"))
    val centroids = IndexLayout.readComponent(spark, snap.dir("centroids"))
    val index = readIvfCellsLive(spark, snap)

    // same collected-probe shape as queryIvfIndex: the IN-list literal
    // gives the scan a STATIC partition filter; the local relation
    // broadcast-joins instead of re-running the centroid window
    val probeW = Window.partitionBy("q_id").orderBy(col("c_cos").desc, col("c_id").asc)
    val probeRows = queries.select(col("q_id"), col("q_v"))
      .join(broadcast(centroids), lit(true))
      .withColumn("c_cos", cosine(col("q_v"), col("c_v")))
      .withColumn("r", row_number().over(probeW))
      .filter(col("r") <= nprobe)
      .select(col("q_id"), col("q_v"), col("c_id").as("cell"))
      .collect()
    val probeSchema = StructType(Seq(
      StructField("q_id", queries.schema("q_id").dataType),
      StructField("q_v", queries.schema("q_v").dataType),
      StructField("cell", centroids.schema("c_id").dataType)))
    val probes = spark.createDataFrame(
        java.util.Arrays.asList(probeRows: _*), probeSchema)
      // the query quantizes ONCE per probe row, under the index bounds
      .select(col("q_id"), col("cell"),
        graft.functions.Quantize.int8(col("q_v"), los, his).as("q_code"))
    val probedCells = probeRows.map(_.getLong(2)).distinct.toSeq
    val w = Window.partitionBy("q_id").orderBy(col("qcos").desc, col("n_id").asc)
    index.filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("qcos",
        graft.functions.Quantize.dequantCosine(col("q_code"), col("code"), los, his))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "qcos")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space coarsely, then
    * drop documents that are near-duplicates *within their cluster*.
    * Returns every input row as `(<idCol>, cell, keep)`.
    *
    * Keep policy (declarative, single-pass): a row is kept iff it has
    * NO lower-id neighbor in the same cell with cosine ≥ `tau`. On a
    * clique of mutual near-dups (the typical shape for near-identical
    * embeddings) this is exactly the paper's keep-one-representative;
    * on a non-clique *chain* (a~b, b~c, a≁c) it drops both b and c
    * where a sequential greedy pass would keep c — a deliberate trade:
    * greedy keep-if-no-KEPT-witness is an inherently sequential
    * dependency chain (not expressible as one declarative pass), while
    * this rule is one self-join + one aggregation and is mirrored
    * verbatim by the SQL oracle.
    *
    * Scale shape: cell assignment is the same fused per-row argmax
    * projection as IVF (no join, no exchange); the within-cell
    * self-join shuffles (id, vector) on `cell` once per side, and the
    * quadratic work is Σ|cell|² — bounded by keeping expected cell
    * size fixed and letting `cells` grow with the corpus (the
    * default `cells = 0` does this via `autoCells`), which is SemDeDup's own design
    * point (the paper runs ~100k clusters over LAION). Witnesses
    * aggregate to at most one row per dropped id before the final
    * keep-flag join.
    *
    * Hot-cell guard: a degenerate embedding mass (e.g. all-zero
    * vectors from empty docs) can swallow the corpus into ONE cell no
    * matter how many centroids exist — a hyperplane split can't
    * separate identical vectors either, so the guard is an id-hash
    * salt. Cells whose population exceeds `maxCellSize` are split into
    * `ceil(|cell| / maxCellSize)` salt buckets by `xxhash64(id)`, and
    * near-dup pairs are only generated *within* a salt bucket. That
    * bounds the join work per task at ~`maxCellSize`² regardless of
    * skew (total work ≤ |cell| × maxCellSize, linear in the hot cell).
    * Recall semantics, documented and deterministic: inside a salted
    * cell only same-salt pairs are compared, so a mass of N identical
    * vectors keeps `nsplit` representatives (one per salt bucket, the
    * bucket-minimum id) instead of exactly 1 — the guard trades a few
    * extra survivors for bounded work, never correctness of the keep
    * rule within a bucket. Salting is loudly logged; normal cells
    * (≤ `maxCellSize`) are bit-identical to the unguarded plan.
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, cells: Int = 0,
      centroids0: Option[DataFrame] = None,
      maxCellSize: Long = 65536L): DataFrame = {
    require(maxCellSize > 0, s"maxCellSize must be positive, got $maxCellSize")
    val c = corpus.select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_v"))
    val nCells = if (cells > 0) cells else autoCells(c.count())
    val cents = collectCentroids(centroids0.getOrElse(defaultCentroids(c, nCells)))
    // Materialized ONCE: the census (an action), BOTH self-join sides,
    // and the final keep join all consume the assignment — without
    // truncation Spark re-derives the argmax projection and the corpus
    // scan under it for each consumer (~4 corpus scans; the measured
    // cause of a 1.57× q_semdedup regression in round 7). One corpus
    // pass writes (n_id, n_v, cell); the census read column-prunes to
    // `cell` only.
    val assigned = Materialize(assignToCells(c, cents))
    // hot-cell census: a tiny map-side-combined aggregate (≤ `cells`
    // rows cross the wire — cell ids only, never vectors)
    val hot: Map[Long, Int] = assigned.groupBy("cell").count()
      .filter(col("count") > maxCellSize)
      .collect()
      .map(r => r.getLong(0) ->
        math.ceil(r.getLong(1).toDouble / maxCellSize).toInt)
      .toMap
    val salted =
      if (hot.isEmpty) assigned.withColumn("salt", lit(0))
      else {
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"semanticDedup: ${hot.size} hot cell(s) over maxCellSize=" +
            s"$maxCellSize salted (cell -> nsplit): $hot — near-dup pairs " +
            "crossing salt buckets inside these cells are NOT compared " +
            "(bounded-work guard; up to nsplit representatives survive per " +
            "duplicate mass). Raise `cells` to shrink cells instead.")
        val nsplit = hot.foldLeft(lit(1)) { case (acc, (cellId, n)) =>
          when(col("cell") === cellId, lit(n)).otherwise(acc)
        }
        assigned.withColumn("salt", pmod(xxhash64(col("n_id")), nsplit).cast("int"))
      }
    val a = salted.select(col("cell"), col("salt"), col("n_id").as("a_id"), col("n_v").as("a_v"))
    val b = salted.select(col("cell"), col("salt"), col("n_id").as("b_id"), col("n_v").as("b_v"))
    // each dropped id appears once: aggregate witnesses before joining back
    val dropped = a.join(b, Seq("cell", "salt"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosine(col("a_v"), col("b_v")) >= tau)
      .select(col("b_id").as("n_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dropped, Seq("n_id"), "left")
      .select(col("n_id").as(idCol), col("cell"),
        not(coalesce(col("is_dup"), lit(false))).as("keep"))
  }

  /** Corpus-adaptive cell count: fixed expected cell size (SemDeDup's
    * design point — cluster count grows with the corpus, per-cell
    * work stays constant), floored at 16 so tiny corpora still get
    * the multi-cell shape. This is the DEFAULT (`cells = 0`) for
    * `ivfTopK`/`writeIvfIndex`/`semanticDedup`, computed with a
    * driver-side corpus count; pass an explicit `cells > 0` to pin a
    * static cell count. */
  def autoCells(rows: Long, targetCellSize: Long = 8192L): Int = {
    require(targetCellSize > 0, s"targetCellSize must be positive")
    math.max(16L, (rows + targetCellSize - 1) / targetCellSize)
      .min(Int.MaxValue.toLong).toInt
  }
}

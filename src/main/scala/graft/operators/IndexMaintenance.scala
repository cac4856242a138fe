package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import IndexLayout.hfs

/** Lifecycle operations for the persisted index family (BM25, IVF
  * float/SQ8/PQ, MinHash) beyond build + append: COMPACTION (rewrite
  * the accumulated small files, bit-identical probes), DELETE (GDPR
  * takedowns / crawl refreshes — remove documents or vectors so probes
  * equal a build on the remaining corpus), and the GUARDED-APPEND
  * protocol (a resumable, marker-fenced batch append a
  * crashed-and-retried ingest job cannot double-count).
  *
  * Why these exist: every append — batch
  * ([[TextAnalysis.appendToBm25Index]],
  * [[Similarity.appendToIvfIndex]]) or streaming
  * ([[graft.streaming.StreamingIvfAppend]]) — lands NEW files into the
  * live layout. At seconds-level streaming triggers that is small-files
  * debt (a probe lists and opens every file of its pruned partitions),
  * and for BM25 it also erodes the term-clustered row-group pruning
  * [[TextAnalysis.writeBm25Index]] establishes. The previously
  * documented remedy — a full rebuild — RE-FITS centroids/bounds/stats,
  * so probe results change across the maintenance window. Compaction
  * here rewrites bytes only: same live rows, same meta, same centroids,
  * same codebook — probe ≡ pre-compaction bit-for-bit (spec-pinned).
  *
  * Durability model ([[IndexLayout]]): every maintenance operation
  * writes fresh GENERATION directories and publishes them with ONE
  * atomic manifest flip — readers planning before the flip scan their
  * whole old generation set consistently (postings+dl+meta, or
  * cells+tombstones, never mixed), readers planning after see the
  * whole new one. No in-place directory swap exists anymore, so the
  * old "reader plans between two renames and fails loudly" window —
  * and the silent stale-meta window a multi-directory delete had — are
  * both gone, on any filesystem including object stores (the flip is
  * one small-file rename/PUT). Superseded generations stay on disk
  * until [[IndexLayout.vacuumIndex]]. Every mutation here holds the
  * index's single-writer lease ([[IndexLayout.withIndexLock]]).
  *
  * IVF deletes are TOMBSTONES, not eager rewrites: a delete writes the
  * deleted id set as a new `tombstones` generation (bytes ∝ the ids
  * deleted since the last compaction — cheaper than touching any cell
  * partition) and every probe anti-joins it (bounded broadcast);
  * [[compactIvfIndex]] MATERIALIZES pending tombstones (rewrites the
  * cells without the dead rows and clears the component) — the
  * Lucene-liveDocs / iceberg-delete-file split of cheap logical delete
  * from scheduled physical rewrite. BM25 and MinHash deletes rewrite
  * eagerly (their layouts are doc-keyed or term-keyed such that a
  * doc's rows span ~every file anyway) but publish with the same
  * atomic flip.
  */
object IndexMaintenance {

  /** files rewritten (before → after) by a compaction — `after` is
    * bounded by the partition/cluster count, independent of how many
    * appends accumulated. */
  final case class CompactStats(filesBefore: Long, filesAfter: Long)

  // ---- filesystem helpers -------------------------------------------

  /** Data files under `dir` (recursive), relative to it; `_`/`.`
    * names skipped at every level (markers, _SUCCESS, staging). */
  private[graft] def dataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, root) = hfs(spark, dir)
    if (!fs.exists(root)) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          val r = if (rel.isEmpty) name else s"$rel/$name"
          if (st.isDirectory) walk(st.getPath, r) else out += r
        }
      }
    walk(root, "")
    out.toSeq.sorted
  }

  private[graft] def dataFileCount(spark: SparkSession, dir: String): Long =
    dataFiles(spark, dir).size.toLong

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = hfs(spark, dir)
    fs.delete(p, true)
  }

  /** Output partition count for a compaction rewrite, sized by the
    * component's REAL bytes (one output file per
    * `spark.sql.files.maxPartitionBytes`, the same knob scans split
    * on): a small index folds to ONE file instead of one per default
    * shuffle partition (32 near-empty files — worse than the debt
    * being folded), and a 100 TB component still writes
    * scan-sized files. Listing cost only — no data pass. */
  private def compactedPartitions(spark: SparkSession,
                                  dirs: Seq[String]): Int = {
    val bytes = dirs.map(componentBytes(spark, _)).sum
    val maxPB = spark.sessionState.conf.filesMaxPartitionBytes
    math.max(1L, (bytes + maxPB - 1) / maxPB).toInt
  }

  /** Total bytes under a component dir (0 when absent) — one
    * filesystem metadata call, no data pass. */
  private[graft] def componentBytes(spark: SparkSession, dir: String): Long = {
    val (fs, p) = hfs(spark, dir)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  // ---- compaction ----------------------------------------------------

  /** COMPACT a persisted IVF index ([[Similarity.writeIvfIndex]], any
    * codec — the `cells/` layout is shared):
    * rewrite the LIVE rows (pending delete tombstones materialize and
    * clear here) into ONE file per cell, WITHOUT re-fitting anything —
    * centroids, bounds, codebook and meta are untouched and the rows
    * themselves are copied verbatim, so any probe is bit-identical
    * before and after (spec-pinned). This is the maintenance call the
    * streamed-append story needs: appends stay cheap (one pass over
    * the increment), deletes stay cheap (a tombstone write), and the
    * accumulated debt folds back to the build-shaped layout on
    * whatever cadence operations chooses — unlike a rebuild, which
    * re-fits and therefore CHANGES probe results.
    *
    * Scale shape: one shuffle of the live index rows keyed on `cell`
    * (`repartition(cell)` puts each cell wholly in one task, so the
    * partitioned write emits exactly one file per non-empty cell);
    * partition pruning on probes is unchanged (same `cell=` dir names
    * inside the new generation). Published with one manifest flip —
    * in-flight probes keep scoring the old generation. */
  def compactIvfIndex(spark: SparkSession, path: String): CompactStats =
    IndexLayout.withIndexLock(spark, path, "compact-ivf") {
      val snap = IndexLayout.snapshot(spark, path)
      val before = dataFileCount(spark, snap.dir("cells"))
      require(before > 0, s"compactIvfIndex: no index data under ${snap.dir("cells")}")
      val newRel = snap.nextGenRel("cells")
      Similarity.readIvfCellsLive(spark, snap)
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/$newRel")
      IndexLayout.commit(spark, snap,
        Map("cells" -> newRel), removals = Set("tombstones"))
      val after = dataFileCount(spark, s"$path/$newRel")
      org.apache.log4j.Logger.getLogger(getClass)
        .info(s"compactIvfIndex($path): $before files -> $after")
      CompactStats(before, after)
    }

  /** COMPACT a persisted BM25 index ([[TextAnalysis.writeBm25Index]]
    * layout): re-cluster `postings` on term (repartition +
    * sortWithinPartitions — restoring the row-group min/max pruning
    * that [[TextAnalysis.appendToBm25Index]]'s per-append files
    * erode) and fold `dl` back to doc-clustered files. `meta` is
    * untouched — corpus stats, k1/b and the tokenization pin are
    * exactly the merged index's, and the rows are copied verbatim, so
    * every probe scores bit-identically before and after
    * (spec-pinned). One postings-sized shuffle + one dl-sized shuffle;
    * nothing re-tokenizes; one manifest flip publishes both rewrites
    * together. Output file counts are sized by component BYTES (one
    * file per `files.maxPartitionBytes`, like [[compactMinhashIndex]])
    * — a small index folds to one term-sorted postings file instead of
    * one per default shuffle partition, a 100 TB one still writes
    * scan-sized files. */
  def compactBm25Index(spark: SparkSession, path: String): CompactStats =
    IndexLayout.withIndexLock(spark, path, "compact-bm25") {
      val snap = IndexLayout.snapshot(spark, path)
      val before = dataFileCount(spark, snap.dir("postings")) +
        dataFileCount(spark, snap.dir("dl"))
      require(before > 0, s"compactBm25Index: no index data under $path")
      val pRel = snap.nextGenRel("postings")
      val dRel = snap.nextGenRel("dl")
      val pParts = compactedPartitions(spark, Seq(snap.dir("postings")))
      val dParts = compactedPartitions(spark, Seq(snap.dir("dl")))
      IndexLayout.readComponent(spark, snap.dir("postings"))
        .repartition(pParts, col("term")).sortWithinPartitions("term", "__doc")
        .write.mode("overwrite").parquet(s"$path/$pRel")
      IndexLayout.readComponent(spark, snap.dir("dl"))
        .repartition(dParts, col("__doc")).sortWithinPartitions("__doc")
        .write.mode("overwrite").parquet(s"$path/$dRel")
      IndexLayout.commit(spark, snap, Map("postings" -> pRel, "dl" -> dRel))
      val after = dataFileCount(spark, s"$path/$pRel") +
        dataFileCount(spark, s"$path/$dRel")
      org.apache.log4j.Logger.getLogger(getClass)
        .info(s"compactBm25Index($path): $before files -> $after")
      CompactStats(before, after)
    }

  /** COMPACT a persisted MinHash index ([[Dedup.writeMinhashIndex]]
    * layout): fold the files [[Dedup.appendToMinhashIndex]]
    * accumulated — `shingles` re-clustered on id, and any PENDING
    * `bandrows` (the flat per-append side rows) folded into `bands` by
    * one explode ∪ rows → dedup → regroup under the build-time cap
    * (restoring the single-cap bucket semantics the per-component
    * probe union approximates between compactions). With no pending
    * rows `bands` is copied verbatim and probes are row-identical
    * before and after (spec-pinned); with pending rows probes equal a
    * rebuild-on-union's (same spec, modulo the documented
    * degenerate-bucket cap caveats). Meta (the banding pins) is
    * untouched. One shingles-sized + one bands-sized shuffle; nothing
    * re-shingles. Output file counts are sized by component BYTES
    * (one file per `files.maxPartitionBytes`) — a small index folds
    * to one file per component instead of one per default shuffle
    * partition, and a huge one still writes scan-sized files. */
  def compactMinhashIndex(spark: SparkSession, path: String): CompactStats =
    IndexLayout.withIndexLock(spark, path, "compact-minhash") {
      val snap = IndexLayout.snapshot(spark, path)
      val pendingFiles = dataFileCount(spark, snap.dir("bandrows"))
      val before = dataFileCount(spark, snap.dir("shingles")) +
        dataFileCount(spark, snap.dir("bands")) + pendingFiles
      require(before > 0, s"compactMinhashIndex: no index data under $path")
      val sRel = snap.nextGenRel("shingles")
      val bRel = snap.nextGenRel("bands")
      val sParts = compactedPartitions(spark, Seq(snap.dir("shingles")))
      val bParts = compactedPartitions(spark,
        Seq(snap.dir("bands"), snap.dir("bandrows")))
      IndexLayout.readComponent(spark, snap.dir("shingles"))
        .repartition(sParts, col("id")).sortWithinPartitions("id")
        .write.mode("overwrite").parquet(s"$path/$sRel")
      val updates = scala.collection.mutable.Map(
        "shingles" -> sRel, "bands" -> bRel)
      if (pendingFiles == 0)
        IndexLayout.readComponent(spark, snap.dir("bands"))
          .repartition(bParts, col("bucket")).sortWithinPartitions("bucket")
          .write.mode("overwrite").parquet(s"$path/$bRel")
      else {
        val cap = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
          .getAs[Int]("maxBucketSize")
        IndexLayout.readComponent(spark, snap.dir("bands"))
          .select(col("bucket"), explode(col("ids")).as("id"))
          .union(IndexLayout.readComponent(spark, snap.dir("bandrows"))
            .select(col("bucket"), col("id")))
          .distinct()
          .groupBy(col("bucket"))
          .agg(graft.functions.BoundedCollect
            .bounded_long_list(col("id"), cap).as("ids"))
          .filter(col("ids").isNotNull)
          .repartition(bParts, col("bucket")).sortWithinPartitions("bucket")
          .write.mode("overwrite").parquet(s"$path/$bRel")
        // re-point bandrows at a fresh (empty, not-yet-created) name:
        // readers resolve zero pending rows, the folded dir becomes
        // vacuum-able, and the next append creates the new dir
        updates += "bandrows" -> snap.nextGenRel("bandrows")
      }
      IndexLayout.commit(spark, snap, updates.toMap)
      val after = dataFileCount(spark, s"$path/$sRel") +
        dataFileCount(spark, s"$path/$bRel")
      org.apache.log4j.Logger.getLogger(getClass)
        .info(s"compactMinhashIndex($path): $before files -> $after")
      CompactStats(before, after)
    }

  /** When [[maintainIvfIndex]] compacts: at or past EITHER threshold.
    * `maxTombstoneFraction` bounds the probe-side anti-join debt
    * (tombstoned ids ÷ distinct stored ids — the delete path warns at
    * 10%, so the default materializes exactly where the warning
    * points); `maxFilesPerCell` bounds the small-file debt appends
    * accumulate (a probe lists and opens every file of its pruned
    * cells, so files-per-cell is the probe's open-cost multiplier). */
  final case class IvfMaintenancePolicy(
      maxTombstoneFraction: Double = 0.10,
      maxFilesPerCell: Double = 4.0)

  /** Self-tending IVF lifecycle entry — measure the index's
    * maintenance debt and run [[compactIvfIndex]] exactly when
    * `policy` says so, making delete→probe stacks self-scheduling
    * instead of relying on an operator reading the >10%-tombstoned
    * warning in a log. Call it on the ingest cadence (e.g. after each
    * append/delete batch): below both thresholds it costs one small
    * tombstone count + one column-pruned distinct-id pass + a file
    * listing, and compacts nothing. Probes are bit-identical across
    * the compaction ([[compactIvfIndex]]'s contract), so the policy
    * can fire at any time without a correctness window.
    * @return the compaction stats iff this call compacted */
  def maintainIvfIndex(spark: SparkSession, path: String,
                       policy: IvfMaintenancePolicy = IvfMaintenancePolicy())
      : Option[CompactStats] = {
    val snap = IndexLayout.snapshot(spark, path)
    val cellsDir = snap.dir("cells")
    val nFiles = dataFileCount(spark, cellsDir)
    require(nFiles > 0, s"maintainIvfIndex: no index data under $cellsDir")
    val (fs, cp) = hfs(spark, cellsDir)
    val nCells = fs.listStatus(cp)
      .count(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .max(1)
    val tombFraction =
      if (!snap.names("tombstones")) 0.0
      else {
        val tombDir = snap.dir("tombstones")
        val nTomb = spark.read.parquet(tombDir).count()
        if (nTomb == 0L) 0.0
        else {
          // The exact denominator (distinct stored ids) is a full
          // cells-component pass — too expensive to pay on every call
          // at a streaming-append cadence when nothing about the
          // tombstones changed. Between measurements the component can
          // only GROW under an unchanged tombstone set (deletes write
          // a new tombstones generation → different cache key;
          // compaction clears it), so the cached count is a LOWER
          // bound on the live denominator and nTomb ÷ cached is a
          // conservative OVERestimate of the live fraction: below the
          // threshold it proves not-due with zero Spark work; at or
          // above it, the exact pass re-runs (the index may have grown
          // past the debt) and refreshes the cache. Firing decisions
          // therefore always use the exact fraction.
          val key = s"$tombDir@${componentBytes(spark, tombDir)}"
          val bound = Option(ivfDistinctIds.get(path)) match {
            case Some((k, cachedDistinct)) if k == key =>
              nTomb.toDouble / cachedDistinct
            case _ => Double.MaxValue
          }
          if (bound < policy.maxTombstoneFraction) bound
          else {
            val ids = spark.read.parquet(cellsDir)
              .agg(countDistinct(col("n_id"))).collect()(0).getLong(0)
            ivfDistinctIds.put(path, (key, math.max(ids, 1L)))
            if (ids == 0L) 1.0 else nTomb.toDouble / ids
          }
        }
      }
    val due = tombFraction >= policy.maxTombstoneFraction ||
      nFiles.toDouble / nCells >= policy.maxFilesPerCell
    if (due) Some(compactIvfIndex(spark, path)) else None
  }

  /** [[maintainIvfIndex]]'s memo of the last exact distinct-id pass:
    * path → (tombstones generation key, distinct stored ids). JVM-
    * local — a fresh process just re-measures once. */
  private val ivfDistinctIds =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** When [[maintainBm25Index]] compacts: at or past the file-bloat
    * threshold. BM25 maintenance debt is SMALL FILES ONLY — appends
    * land per-increment postings/dl files (eroding the build's
    * term-clustered row-group pruning) and deletes rewrite
    * immediately (no tombstones) — so the one metric is actual data
    * files ÷ the byte-sized file count a compaction would write
    * (one file per `files.maxPartitionBytes`). The default fires
    * once ~4 appends of debt accumulated. */
  final case class Bm25MaintenancePolicy(maxFileBloat: Double = 4.0)

  /** Self-tending BM25 lifecycle entry — measure the index's
    * small-file debt and run [[compactBm25Index]] exactly when
    * `policy` says so ([[maintainIvfIndex]]'s shape for the lexical
    * family). Call it on the ingest cadence: below the threshold it
    * costs two filesystem listings and compacts nothing; probes are
    * bit-identical across the compaction ([[compactBm25Index]]'s
    * contract), so the policy can fire at any time without a
    * correctness window.
    * @return the compaction stats iff this call compacted */
  def maintainBm25Index(spark: SparkSession, path: String,
                        policy: Bm25MaintenancePolicy = Bm25MaintenancePolicy())
      : Option[CompactStats] = {
    val snap = IndexLayout.snapshot(spark, path)
    val files = dataFileCount(spark, snap.dir("postings")) +
      dataFileCount(spark, snap.dir("dl"))
    require(files > 0, s"maintainBm25Index: no index data under $path")
    val target = compactedPartitions(spark, Seq(snap.dir("postings"))) +
      compactedPartitions(spark, Seq(snap.dir("dl")))
    if (files.toDouble / target >= policy.maxFileBloat)
      Some(compactBm25Index(spark, path))
    else None
  }

  /** When [[maintainMinhashIndex]] compacts: at or past EITHER
    * threshold. `maxPendingFraction` bounds the probe-side union
    * debt — pending `bandrows` bytes ÷ folded `bands` bytes (every
    * probe unions the pending rows into its bounded regroup until
    * compaction folds them); `maxFileBloat` bounds the small-file
    * debt across all three data components, measured like
    * [[Bm25MaintenancePolicy]] against the byte-sized file count a
    * compaction would write. */
  final case class MinhashMaintenancePolicy(
      maxPendingFraction: Double = 0.10,
      maxFileBloat: Double = 4.0)

  /** Self-tending MinHash lifecycle entry — measure the index's
    * pending-append and small-file debt and run
    * [[compactMinhashIndex]] exactly when `policy` says so, closing
    * the [[maintainIvfIndex]] / [[maintainBm25Index]] family: all
    * three persisted index families now self-schedule their
    * compaction from measured debt instead of an operator reading
    * log warnings. Measurement is filesystem metadata only (no Spark
    * job). Probes across the compaction equal a rebuild-on-union's
    * ([[compactMinhashIndex]]'s contract — row-identical when no
    * appends are pending).
    * @return the compaction stats iff this call compacted */
  def maintainMinhashIndex(spark: SparkSession, path: String,
                           policy: MinhashMaintenancePolicy =
                             MinhashMaintenancePolicy())
      : Option[CompactStats] = {
    val snap = IndexLayout.snapshot(spark, path)
    val sDir = snap.dir("shingles"); val bDir = snap.dir("bands")
    val brDir = snap.dir("bandrows")
    val files = dataFileCount(spark, sDir) + dataFileCount(spark, bDir) +
      dataFileCount(spark, brDir)
    require(files > 0, s"maintainMinhashIndex: no index data under $path")
    val pendingBytes = componentBytes(spark, brDir)
    val pendingFraction =
      if (pendingBytes == 0L) 0.0
      else pendingBytes.toDouble / math.max(componentBytes(spark, bDir), 1L)
    val target = compactedPartitions(spark, Seq(sDir)) +
      compactedPartitions(spark, Seq(bDir, brDir))
    val due = pendingFraction >= policy.maxPendingFraction ||
      files.toDouble / target >= policy.maxFileBloat
    if (due) Some(compactMinhashIndex(spark, path)) else None
  }

  // ---- delete ----------------------------------------------------------

  /** DELETE documents from a persisted BM25 index — the takedown /
    * crawl-refresh path [[TextAnalysis.appendToBm25Index]]'s refusal
    * message promises ("re-ingesting a changed document is a rebuild
    * (or a delete path), not an append"): after
    * `deleteFromBm25Index(ids)`, probes equal
    * `writeBm25Index(corpus ∖ ids)` BIT-FOR-BIT (spec-pinned) —
    * postings and dl are the anti-joined rows (per-doc state is
    * per-doc), and the corpus stats are RECOMPUTED from the surviving
    * dl as exact integer sums. Recompute, not decrement, on purpose:
    * a decrement reads the deleted rows, so a delete that crashed
    * after its writes and RETRIED would find nothing to decrement and
    * leave meta stale forever — recompute converges to the correct
    * stats on any retry, making delete idempotent end to end.
    * Deleting an id not in the index is a no-op for it (takedown
    * semantics; an all-absent delete skips the rewrite entirely).
    * Deleting EVERY document refuses loudly BEFORE anything publishes
    * (an empty index cannot score — drop it instead).
    *
    * Atomicity: postings, dl and meta generations publish in ONE
    * manifest flip — no reader can ever score new postings under old
    * stats (the silent window the old three-swap sequence had), and a
    * reader planned before the flip scores the old index completely.
    *
    * Changed-document re-ingest composes: delete(ids) then
    * [[TextAnalysis.appendToBm25Index]] (or the guarded form) with
    * the new text ≡ a rebuild with the changed docs (spec-pinned).
    *
    * Cost: one postings-sized anti-join + rewrite (postings are
    * term-clustered, a doc's rows touch ~every file — the rewrite is
    * unavoidable for ANY doc-keyed delete in a term-keyed layout) and
    * one dl-sized rewrite; the CORPUS is never re-tokenized, which is
    * what distinguishes this from the rebuild. The rewrite re-clusters
    * on term, so a delete doubles as a compaction. */
  def deleteFromBm25Index(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    import spark.implicits._
    IndexLayout.withIndexLock(spark, path, "delete-bm25") {
      val snap = IndexLayout.snapshot(spark, path)
      val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
      // sized on the REAL count: over-budget takedown sets shuffle
      // instead of failing on the broadcast ceiling
      val del = Similarity.sizedIdSide(
        ids.select(col(idCol).as("__doc")).distinct())
      val hit = IndexLayout.readComponent(spark, snap.dir("dl"))
        .join(del, Seq("__doc"), "left_semi").count()
      if (hit == 0) return // every id absent — takedown no-op
      val pRel = snap.nextGenRel("postings")
      val dRel = snap.nextGenRel("dl")
      val mRel = snap.nextGenRel("meta")
      try {
        IndexLayout.readComponent(spark, snap.dir("postings"))
          .join(del, Seq("__doc"), "left_anti")
          .repartition(col("term")).sortWithinPartitions("term", "__doc")
          .write.mode("overwrite").parquet(s"$path/$pRel")
        IndexLayout.readComponent(spark, snap.dir("dl"))
          .join(del, Seq("__doc"), "left_anti")
          .repartition(col("__doc")).sortWithinPartitions("__doc")
          .write.mode("overwrite").parquet(s"$path/$dRel")
        // refuse BEFORE the flip: a delete that would empty the index
        // must leave it untouched (nothing is published yet)
        val st = spark.read.parquet(s"$path/$dRel")
          .agg(sum(col("dl")).as("total_len"), count(lit(1)).as("n_docs"))
          .collect()(0)
        require(st.getLong(1) > 0,
          s"deleteFromBm25Index: deleting these ids empties the index at " +
            s"$path — an empty index cannot score; drop it instead")
        Seq((st.getLong(1), st.getLong(0),
            meta.getAs[Double]("k1"), meta.getAs[Double]("b"),
            meta.getAs[String]("tokenization")))
          .toDF("n_docs", "total_len", "k1", "b", "tokenization")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/$mRel")
        IndexLayout.commit(spark, snap,
          Map("postings" -> pRel, "dl" -> dRel, "meta" -> mRel))
      } catch {
        case t: Throwable => // unpublished generations are garbage
          for (r <- Seq(pRel, dRel, mRel)) deleteDir(spark, s"$path/$r")
          throw t
      }
    }
  }

  /** DELETE vectors from a persisted IVF index (float/SQ8/PQ — the
    * shared `cells` layout) by TOMBSTONE: the surviving tombstone set
    * (previous ∪ the deleted ids actually present) is written as a new
    * `tombstones` generation and published with one manifest flip;
    * every probe anti-joins it (bounded broadcast — ids deleted since
    * the last compaction), so after the flip probes score exactly a
    * build on the remaining corpus under the SAME
    * centroids/bounds/codebook BIT-FOR-BIT (spec-pinned — cell
    * assignment and codes are per-vector functions, so removing rows
    * removes exactly those vectors' contributions).
    * [[compactIvfIndex]] materializes the tombstones physically and
    * clears them. Meta/centroids/codebook are untouched (delete never
    * re-fits — that is the rebuild's job on its own cadence).
    *
    * Idempotent: deleting an absent id is a no-op (nothing publishes),
    * and a crashed-then-retried delete converges — the tombstone union
    * is a set union. Deleting EVERY vector refuses loudly (an empty
    * index cannot answer — drop it instead).
    *
    * Cost: ONE column-pruned pass over the index's `n_id` column (the
    * presence semi-join that keeps tombstones bounded by live ids) +
    * a tombstone-sized write. No cell partition is read or rewritten —
    * cheaper than the eager touched-cell rewrite it replaces, and the
    * flip is atomic for readers on any store. Probes pay one broadcast
    * anti-join until the next compaction. */
  def deleteFromIvfIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    IndexLayout.withIndexLock(spark, path, "delete-ivf") {
      val snap = IndexLayout.snapshot(spark, path)
      // the delete set is sized on its REAL count: takedown-sized sets
      // broadcast, a crawl-refresh-scale set takes the shuffle path
      // (same results) instead of dying on the broadcast ceiling
      val del = Similarity.sizedIdSide(
        ids.select(col(idCol).cast("long").as("n_id")).distinct())
      val index = IndexLayout.readComponent(spark, snap.dir("cells"))
      val present = index.select(col("n_id"))
        .join(del, Seq("n_id"), "left_semi").distinct()
      val existing =
        if (snap.names("tombstones")) IndexLayout.readComponent(spark, snap.dir("tombstones"))
        else present.limit(0)
      val newTomb = Materialize(existing.union(present).distinct())
      val nExisting = existing.count()
      val nNew = newTomb.count()
      if (nNew == nExisting) return // every id absent/already dead — no-op
      // ONE column-pruned pass for both remaining guards: the DISTINCT
      // id count (IVF appends never dedup n_ids, so the emptiness
      // refusal must compare distinct-to-distinct — a duplicated index
      // could otherwise publish all-dead and every probe would return
      // empty) and the physical row count for the compaction warning.
      val st = index.agg(countDistinct(col("n_id")).as("ids"),
        count(lit(1)).as("rows")).collect()(0)
      val distinctIds = st.getLong(0)
      require(nNew < distinctIds,
        s"deleteFromIvfIndex: deleting these ids empties the index at " +
          s"$path — an empty index cannot answer; drop it instead")
      val tRel = snap.nextGenRel("tombstones")
      newTomb.coalesce(8).write.mode("overwrite").parquet(s"$path/$tRel")
      IndexLayout.commit(spark, snap, Map("tombstones" -> tRel))
      // tombstones ride every probe as a size-guarded anti-join —
      // cheap while small, but unbounded growth between compactions
      // turns into real probe-side work. Warn loudly past 10% dead so
      // operations schedules the materializing compaction before
      // probes feel it.
      if (nNew * 10 >= distinctIds)
        org.apache.log4j.Logger.getLogger(getClass).warn(
          s"deleteFromIvfIndex($path): $nNew of $distinctIds stored vectors " +
            "are now tombstoned (>10%) — every probe anti-joins that set; " +
            "run IndexMaintenance.compactIvfIndex to materialize the deletes")
    }
  }

  /** DELETE reference documents from a persisted MinHash index
    * ([[Dedup.writeMinhashIndex]] layout) — the takedown path for the
    * third index family: after `deleteFromMinhashIndex(ids)`, probes
    * can never surface a deleted document as a near-dup witness. The
    * deleted ids leave BOTH sides of the layout: `shingles` by
    * anti-join (the verify stage can't read their shingle sets) and
    * `bands` by exploding each bucket's id list, anti-joining, and
    * regrouping (emptied buckets disappear; surviving lists are
    * subsets of capped lists, so the build-time `maxBucketSize` bound
    * still holds). Meta (the banding pins) is untouched. Both
    * rewrites publish in ONE manifest flip — a probe planned before
    * the flip reads consistent old bands+shingles, one planned after
    * reads the new pair.
    *
    * Equivalence, with one honest caveat: probe(delete ∘ build(ref))
    * ≡ probe(build(ref ∖ ids)) as a row SET (spec-pinned) — EXCEPT
    * for buckets the BUILD's skew cap dropped entirely: a capped-away
    * bucket stays gone after a delete even if the remainder would now
    * fit under the cap (resurrecting it would need the dropped ids,
    * which the index no longer holds). That is a recall-only
    * difference in exactly the degenerate-bucket regime the cap
    * already documents as dropped; rebuild on the remainder to
    * recover it. Idempotent: absent ids are no-ops. Deleting every
    * reference document refuses loudly (an empty index cannot load —
    * drop it instead).
    *
    * Cost: one shingles-sized anti-join + one bands-sized
    * explode/regroup (the index, never the reference corpus — nothing
    * re-shingles). */
  def deleteFromMinhashIndex(ids: DataFrame, idCol: String,
                             path: String): Unit = {
    val spark = ids.sparkSession
    IndexLayout.withIndexLock(spark, path, "delete-minhash") {
      val snap = IndexLayout.snapshot(spark, path)
      val del = Similarity.sizedIdSide(
        ids.select(col(idCol).cast("long").as("id")).distinct())
      val sRel = snap.nextGenRel("shingles")
      val bRel = snap.nextGenRel("bands")
      val brRel = snap.nextGenRel("bandrows")
      val pendingFiles = dataFileCount(spark, snap.dir("bandrows"))
      try {
        IndexLayout.readComponent(spark, snap.dir("shingles"))
          .join(del, Seq("id"), "left_anti")
          .repartition(col("id"))
          .write.mode("overwrite").parquet(s"$path/$sRel")
        // refuse BEFORE the flip — an emptied index cannot load
        require(spark.read.parquet(s"$path/$sRel").limit(1).count() > 0,
          s"deleteFromMinhashIndex: deleting these ids empties the index at " +
            s"$path — drop it instead")
        IndexLayout.readComponent(spark, snap.dir("bands"))
          .select(col("bucket"), explode(col("ids")).as("id"))
          .join(del, Seq("id"), "left_anti")
          .groupBy(col("bucket")).agg(collect_list(col("id")).as("ids"))
          .write.mode("overwrite").parquet(s"$path/$bRel")
        val updates = scala.collection.mutable.Map(
          "shingles" -> sRel, "bands" -> bRel)
        if (pendingFiles > 0) {
          // pending append rows carry ids too — same anti-join, so a
          // deleted id can never resurface via an uncompacted append
          IndexLayout.readComponent(spark, snap.dir("bandrows"))
            .join(del, Seq("id"), "left_anti")
            .write.mode("overwrite").parquet(s"$path/$brRel")
          updates += "bandrows" -> brRel
        }
        IndexLayout.commit(spark, snap, updates.toMap)
      } catch {
        case t: Throwable =>
          for (r <- Seq(sRel, bRel, brRel)) deleteDir(spark, s"$path/$r")
          throw t
      }
    }
  }

  // ---- guarded (resumable, exactly-once) batch append -------------------

  /** The marker-fenced BATCH append protocol — the
    * [[graft.streaming.IdempotentSink]] discipline for batch ingest
    * jobs, closing the crash window the plain appends document (a
    * retry after a crash mid-append double-counts the increment).
    * Stronger than the streaming marker (which retains a residual
    * window): every phase here is individually resumable, so a retry
    * with the same `appendId` converges to exactly-once from ANY
    * crash point. Holds the index lease for its whole run (owner =
    * the appendId, so a retry reclaims its own crashed predecessor's
    * lease automatically — a DIFFERENT operation refuses).
    *
    * Protocol, under `<path>/_appends/<appendId>/` (underscore-
    * prefixed — readers of the index never see it):
    *
    *   1. STAGE — `stage(stageDir)` writes the increment's files
    *      under the staging dir (and runs the append's validations:
    *      overlap, bounds, tokenization). Fenced by a `_STAGED`
    *      marker written after; a crash mid-stage restages from
    *      scratch (nothing has touched the live index yet).
    *   2. MOVE — each staged data file RENAMES into the live layout
    *      (its first path segment resolved through the CURRENT
    *      manifest — so a retry that raced a lock-break + compaction
    *      lands remaining files in the live generation) at its
    *      relative path, name-prefixed with the appendId. Renames are
    *      atomic per file and the names are deterministic (fixed once
    *      `_STAGED` exists), so a crashed move resumes by moving the
    *      files still in staging — an already-moved file cannot move
    *      twice.
    *   3. FINALIZE — `finalize()` runs IDEMPOTENT post-work (e.g.
    *      recomputing BM25 meta stats from the live dl — exact
    *      integer sums that converge on any retry).
    *   4. COMMIT — the `_COMMITTED` marker; any later call with this
    *      appendId is a no-op (returns false).
    *
    * Caller contract: one appendId names ONE logical increment,
    * forever (replays must present the same rows — the foreachBatch
    * determinism rule, batch-shaped); concurrent appends use distinct
    * ids. Returns true iff this call performed (or completed) the
    * append. */
  private[graft] def runGuardedAppend(
      spark: SparkSession, path: String, appendId: String)(
      stage: String => Unit)(finalize: () => Unit): Boolean = {
    require(appendId.nonEmpty && appendId.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"appendId '$appendId' must be a [A-Za-z0-9._-]+ token — it becomes " +
        "a marker directory and a file-name prefix")
    val guardDir = s"$path/_appends/$appendId"
    val (fs, _) = hfs(spark, guardDir)
    if (fs.exists(new Path(s"$guardDir/_COMMITTED"))) return false
    IndexLayout.withIndexLock(spark, path, s"guarded-append",
        owner = s"append:$appendId") {
      val stageDir = s"$guardDir/stage"
      val stagedFlag = new Path(s"$guardDir/_STAGED")
      if (!fs.exists(stagedFlag)) {
        deleteDir(spark, stageDir) // partial staging from a crash mid-stage
        stage(stageDir)
        fs.create(stagedFlag, true).close()
      }
      val snap = IndexLayout.snapshot(spark, path)
      for (rel <- dataFiles(spark, stageDir)) {
        val src = new Path(s"$stageDir/$rel")
        val slash = rel.indexOf('/')
        // resolve the component (first segment) through the manifest
        val resolvedRel =
          if (slash < 0) rel else s"${snap.rel(rel.substring(0, slash))}${rel.substring(slash)}"
        val lastSlash = resolvedRel.lastIndexOf('/')
        val targetRel =
          if (lastSlash < 0) s"${appendId}_$resolvedRel"
          else s"${resolvedRel.substring(0, lastSlash)}/${appendId}_${resolvedRel.substring(lastSlash + 1)}"
        val target = new Path(s"$path/$targetRel")
        if (fs.exists(target))
          // rename is atomic: moved means gone from staging. Both
          // existing means the id was reused for different data —
          // refuse rather than guess
          throw new IllegalStateException(
            s"guarded append '$appendId' at $path: $target already exists " +
              s"while $src is still staged — the appendId was reused for a " +
              "different increment; appendIds name one logical increment")
        fs.mkdirs(target.getParent)
        require(fs.rename(src, target),
          s"guarded append '$appendId': could not move $src -> $target")
      }
      // manifest FENCE: the moves mutated live generation directories
      // resolved from `snap` — bump the version from that same snapshot
      // so a maintenance op that raced past the lease (possible only on
      // filesystems without an atomic lock primitive) collides loudly
      // here. Remediation after such a collision: the moved files may
      // sit in a superseded generation — delete `_appends/<appendId>`
      // (restages from scratch) and rerun once the racing op finishes.
      try IndexLayout.commit(spark, snap, Map.empty)
      catch {
        case e: IllegalStateException =>
          throw new IllegalStateException(
            s"guarded append '$appendId' at $path: a concurrent mutation " +
              "committed between this append's snapshot and its fence — the " +
              s"moved increment files may sit in a superseded generation. " +
              s"Delete $guardDir (the append restages from scratch) and " +
              "rerun after the racing operation finishes.", e)
      }
      finalize()
      fs.create(new Path(s"$guardDir/_COMMITTED"), true).close()
      true
    }
  }
}

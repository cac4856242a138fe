package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import IndexLayout.{hfs, Snapshot}

/** Lifecycle operations for the persisted index families (BM25, IVF
  * float/SQ8/PQ, MinHash) beyond build + append: COMPACTION (rewrite
  * the accumulated small files, bit-identical probes), DELETE (GDPR
  * takedowns / crawl refreshes — remove documents or vectors so probes
  * equal a build on the remaining corpus), the debt-driven
  * MAINTENANCE policy that schedules compaction, and the
  * GUARDED-APPEND protocol (a resumable, marker-fenced batch append a
  * crashed-and-retried ingest job cannot double-count).
  *
  * ONE operation per verb — [[compactIndex]], [[maintainIndex]],
  * [[deleteFromIndex]] — for every family: the family is read from
  * the index itself (a `cells` component is IVF, `postings` BM25,
  * `shingles` MinHash; anything else refuses before any lease is
  * taken or byte written), and each family is one private declarative
  * [[Family]] spec: the components a rewrite re-clusters and their
  * cluster keys, the pending component its fold absorbs, its debt
  * metric and its delete. Every compaction and delete runs through
  * one body ([[transact]]).
  *
  * Why these exist: every append — batch
  * ([[TextAnalysis.appendToBm25Index]],
  * [[Similarity.appendToIvfIndex]], [[Dedup.appendToMinhashIndex]])
  * or streaming ([[graft.streaming.StreamingIvfAppend]],
  * [[graft.streaming.StreamingIndexIngest]]) — lands NEW files into
  * the live layout. At seconds-level streaming triggers that is
  * small-files debt (a probe lists and opens every file of its pruned
  * partitions), and for BM25 it also erodes the term-clustered
  * row-group pruning [[TextAnalysis.writeBm25Index]] establishes. A
  * full rebuild RE-FITS centroids/bounds/stats, so probe results
  * change across the maintenance window. Compaction here rewrites
  * bytes only: same live rows, same meta, same centroids, same
  * codebook — probe ≡ pre-compaction bit-for-bit (spec-pinned).
  *
  * Durability model ([[IndexLayout]]): every maintenance operation
  * writes fresh GENERATION directories and publishes them with ONE
  * atomic manifest flip — readers planning before the flip scan their
  * whole old generation set consistently (postings+dl+meta, or
  * cells+tombstones, never mixed), readers planning after see the
  * whole new one, on any filesystem including object stores (the flip
  * is one small-file rename/PUT). A failed operation deletes the
  * generations it staged; superseded generations stay on disk until
  * [[IndexLayout.vacuumIndex]]. Every mutation here holds the index's
  * single-writer lease ([[IndexLayout.withIndexLock]]).
  *
  * IVF deletes are TOMBSTONES, not eager rewrites: a delete writes the
  * deleted id set as a new `tombstones` generation (bytes ∝ the ids
  * deleted since the last compaction — cheaper than touching any cell
  * partition) and every probe anti-joins it (bounded broadcast);
  * compaction MATERIALIZES pending tombstones (rewrites the cells
  * without the dead rows and clears the component) — the
  * Lucene-liveDocs / iceberg-delete-file split of cheap logical delete
  * from scheduled physical rewrite. BM25 and MinHash deletes rewrite
  * eagerly (their layouts are doc-keyed or term-keyed such that a
  * doc's rows span ~every file anyway): a delete is a compaction of
  * the rows that survive, published with the same atomic flip.
  */
object IndexMaintenance {

  /** files rewritten (before → after) by a compaction — `after` is
    * bounded by the partition/cluster count, independent of how many
    * appends accumulated. */
  final case class CompactStats(filesBefore: Long, filesAfter: Long)

  /** When [[maintainIndex]] compacts: at or past EITHER threshold, for
    * every family.
    *
    * `maxPendingFraction` bounds the probe-side debt of rows appended
    * or deleted but not yet folded: IVF tombstoned ids ÷ distinct
    * stored ids (the delete warns at 10%, so the default materializes
    * exactly where the warning points); MinHash pending `bandrows`
    * bytes ÷ folded `bands` bytes (every probe unions the pending rows
    * into its bounded regroup). BM25 has no pending component — its
    * deletes rewrite at once.
    *
    * `maxFileBloat` bounds the small-file debt appends accumulate:
    * data files ÷ the files a compaction would write — one per `cell=`
    * dir for IVF (a probe opens every file of its pruned cells, so
    * this is files-per-cell, the probe's open-cost multiplier), one
    * per `files.maxPartitionBytes` of each component for BM25 and
    * MinHash. The default fires once ~4 appends of debt accumulated. */
  final case class MaintenancePolicy(maxPendingFraction: Double = 0.10,
                                     maxFileBloat: Double = 4.0)

  /** What one [[maintainIndex]] call measured and did: the index
    * `family` (`ivf`, `bm25` or `minhash`), the two debt ratios it
    * compared against the policy, and the compaction stats iff it
    * fired. IVF's `pendingFraction` is an UPPER bound on the live
    * fraction when it comes from the distinct-id memo (the memo only
    * ever proves a call not due; a firing decision is always taken on
    * the exact value). */
  final case class Maintained(family: String, pendingFraction: Double, fileBloat: Double,
                              compacted: Option[CompactStats])

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
    * components' REAL bytes (one output file per
    * `spark.sql.files.maxPartitionBytes`, the same knob scans split
    * on): a small index folds to ONE file instead of one per default
    * shuffle partition (32 near-empty files — worse than the debt
    * being folded), and a 100 TB component still writes
    * scan-sized files. Listing cost only — no data pass. */
  private def compactedPartitions(spark: SparkSession, dirs: Seq[String]): Int = {
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

  // ---- the family specs ------------------------------------------------

  /** A component compaction and delete rewrite: rows hash-partition on
    * `key.head` and sort on `key` into byte-sized files — or, when
    * `partitioned`, land one file per `key.head=` directory. `absorbs`
    * names the pending component whose rows fold into this one (its
    * files and bytes count toward this component's debt). */
  private final case class Component(name: String, key: Seq[String],
                                     partitioned: Boolean = false, absorbs: Option[String] = None) {
    def dirs(snap: Snapshot): Seq[String] = (name +: absorbs.toSeq).map(snap.dir)
  }

  /** One index family, declared once: the `marker` component that names
    * it, the `components` a rewrite re-clusters (the head is keyed by
    * the ids alone — a delete's presence check and emptiness refusal
    * read it), and the id column `idKey` a delete matches. The
    * defaults are the shape BM25 and MinHash share: pending debt is the
    * absorbed component's bytes ÷ its absorber's, and a delete rewrites
    * every component without the deleted ids. */
  private sealed abstract class Family(val name: String, val marker: String,
                                       val components: Seq[Component], val idKey: String) {

    /** The pending debt [[maintainIndex]] compares against
      * `threshold`. */
    def pendingFraction(spark: SparkSession, snap: Snapshot, threshold: Double): Double =
      components.find(_.absorbs.nonEmpty).fold(0.0) { c =>
        val pending = componentBytes(spark, snap.dir(c.absorbs.get))
        if (pending == 0L) 0.0
        else pending.toDouble / math.max(componentBytes(spark, snap.dir(c.name)), 1L)
      }

    /** The rows a rewrite writes for `c`: its live rows with pending
      * debt folded in, minus the ids of `del` when deleting. */
    def live(tx: Txn, c: Component, del: Option[DataFrame]): DataFrame = {
      val rows = IndexLayout.readComponent(tx.spark, tx.snap.dir(c.name))
      del.fold(rows)(rows.join(_, Seq(idKey), "left_anti"))
    }

    /** Retire the pending rows a rewrite folded: re-point each absorbed
      * component that holds data at a fresh, not-yet-created
      * generation — readers resolve zero pending rows, the folded dir
      * becomes vacuum-able, and the next append creates the new dir. */
    def clearPending(tx: Txn): Unit =
      for (c <- components; p <- c.absorbs
           if dataFileCount(tx.spark, tx.snap.dir(p)) > 0) tx.repoint(p)

    /** Remove `del`'s ids (absent ids are no-ops; nothing publishes
      * when none is present): every component is rewritten without
      * them — a delete doubles as a compaction — and a delete that
      * would empty the index refuses before anything publishes. */
    def delete(tx: Txn, del: DataFrame): Unit = {
      val spark = tx.spark
      val hit = IndexLayout.readComponent(spark, tx.snap.dir(components.head.name))
        .join(del, Seq(idKey), "left_semi").limit(1).count() > 0
      if (hit) {
        val dirs = rewrite(this, tx, Some(del))
        refuseEmpty(tx, spark.read.parquet(dirs.head).limit(1).count() == 0)
        afterDelete(tx, dirs)
      }
    }

    /** Derived state a delete recomputes from its rewritten
      * components (`dirs`, in `components` order). */
    def afterDelete(tx: Txn, dirs: Seq[String]): Unit = ()
  }

  private def refuseEmpty(tx: Txn, empty: Boolean): Unit =
    require(!empty, s"deleteFromIndex: deleting these ids empties the index " +
      s"at ${tx.snap.path} — an empty index cannot answer; drop it instead")

  /** IVF (float/SQ8/PQ — the `cells` layout is shared): `cells`
    * partitioned by `cell`, so a compaction writes ONE file per cell
    * with partition pruning on probes unchanged (same `cell=` dir
    * names inside the new generation). The fold anti-joins the pending
    * `tombstones` ([[Similarity.readIvfCellsLive]]) and clears them.
    * Rows are copied verbatim and centroids, bounds, codebook and meta
    * are never re-fit, so any probe is bit-identical across a
    * compaction (spec-pinned) — unlike a rebuild, which re-fits.
    *
    * Delete is a TOMBSTONE write: the surviving tombstone set
    * (previous ∪ the deleted ids actually present) is written as a new
    * `tombstones` generation; after the flip probes score exactly a
    * build on the remaining corpus under the SAME
    * centroids/bounds/codebook BIT-FOR-BIT (spec-pinned — cell
    * assignment and codes are per-vector functions). Idempotent: an
    * absent or already-dead id is a no-op (nothing publishes), and a
    * crashed-then-retried delete converges — the tombstone union is a
    * set union. Deleting EVERY vector refuses (an empty index cannot
    * answer — drop it instead). Cost: ONE column-pruned pass over
    * `n_id` + a tombstone-sized write; probes pay one broadcast
    * anti-join until the next compaction. */
  private object Ivf extends Family("ivf", "cells",
      Seq(Component("cells", Seq("cell"), partitioned = true)), "n_id") {

    override def live(tx: Txn, c: Component, del: Option[DataFrame]): DataFrame =
      Similarity.readIvfCellsLive(tx.spark, tx.snap)

    override def clearPending(tx: Txn): Unit = tx.remove("tombstones")

    /** Tombstoned ids ÷ distinct stored ids. The exact denominator is
      * a full cells-component pass — too expensive on every call at a
      * streaming-append cadence when nothing about the tombstones
      * changed. Between measurements the component can only GROW under
      * an unchanged tombstone set (deletes write a new tombstones
      * generation → different memo key; compaction clears it), so the
      * memoized count is a LOWER bound on the live denominator and
      * tombstones ÷ memo an UPPER bound on the live fraction: below
      * the threshold it proves not-due with zero Spark work; at or
      * above it the exact pass re-runs and refreshes the memo. */
    override def pendingFraction(spark: SparkSession, snap: Snapshot, threshold: Double): Double = {
      if (!snap.names("tombstones")) return 0.0
      val tombDir = snap.dir("tombstones")
      val nTomb = spark.read.parquet(tombDir).count()
      if (nTomb == 0L) return 0.0
      val key = s"$tombDir@${componentBytes(spark, tombDir)}"
      val bound = Option(distinctIds.get(snap.path)) match {
        case Some((k, cached)) if k == key => nTomb.toDouble / cached
        case _ => Double.MaxValue
      }
      if (bound < threshold) bound
      else {
        val ids = spark.read.parquet(snap.dir("cells"))
          .agg(countDistinct(col("n_id"))).collect()(0).getLong(0)
        distinctIds.put(snap.path, (key, math.max(ids, 1L)))
        if (ids == 0L) 1.0 else nTomb.toDouble / ids
      }
    }

    /** The memo of the last exact distinct-id pass: path → (tombstones
      * generation key, distinct stored ids). JVM-local — a fresh
      * process just re-measures once. */
    private val distinctIds =
      new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

    override def delete(tx: Txn, del: DataFrame): Unit = {
      val spark = tx.spark
      val index = IndexLayout.readComponent(spark, tx.snap.dir("cells"))
      val present = index.select(col("n_id"))
        .join(del, Seq("n_id"), "left_semi").distinct()
      val existing =
        if (tx.snap.names("tombstones"))
          IndexLayout.readComponent(spark, tx.snap.dir("tombstones"))
        else present.limit(0)
      val newTomb = Materialize(existing.union(present).distinct())
      val nNew = newTomb.count()
      if (nNew == existing.count()) return // every id absent/already dead
      // DISTINCT ids: IVF appends never dedup n_ids, so the emptiness
      // refusal compares distinct-to-distinct — a duplicated index could
      // otherwise publish all-dead and every probe would return empty
      val distinct = index.agg(countDistinct(col("n_id"))).collect()(0).getLong(0)
      refuseEmpty(tx, nNew >= distinct)
      tx.stage("tombstones")(newTomb.coalesce(8).write.parquet(_))
      // tombstones ride every probe as a size-guarded anti-join — cheap
      // while small, real probe-side work past 10% dead
      if (nNew * 10 >= distinct)
        org.apache.log4j.Logger.getLogger(IndexMaintenance.getClass).warn(
          s"deleteFromIndex(${tx.snap.path}): $nNew of $distinct stored vectors " +
            "are now tombstoned (>10%) — every probe anti-joins that set; run " +
            "IndexMaintenance.compactIndex (or maintainIndex) to materialize them")
    }
  }

  /** BM25 ([[TextAnalysis.writeBm25Index]] layout): `postings`
    * clustered on (term, __doc) — restoring the row-group min/max
    * pruning appends erode — and `dl` on `__doc`, both into byte-sized
    * files. No pending component. `meta` is untouched by a compaction
    * (corpus stats, k1/b and the tokenization pin stay the merged
    * index's), so every probe scores bit-identically across it
    * (spec-pinned); nothing re-tokenizes.
    *
    * Delete anti-joins `__doc` out of postings and dl and RECOMPUTES
    * the corpus stats from the surviving dl as exact integer sums, so
    * probes equal `writeBm25Index(corpus ∖ ids)` BIT-FOR-BIT
    * (spec-pinned). Recompute, not decrement: a decrement reads the
    * deleted rows, so a retry after a crash would find nothing to
    * decrement and leave meta stale — recompute converges on any
    * retry, making delete idempotent end to end. Postings, dl and meta
    * publish in ONE flip: no reader ever scores new postings under old
    * stats. Changed-document re-ingest is delete then
    * [[TextAnalysis.appendToBm25Index]] ≡ a rebuild with the changed
    * docs (spec-pinned). */
  private object Bm25 extends Family("bm25", "postings",
      Seq(Component("dl", Seq("__doc")),
        Component("postings", Seq("term", "__doc"))), "__doc") {

    override def afterDelete(tx: Txn, dirs: Seq[String]): Unit = {
      val meta = IndexLayout.collectSmallComponent(tx.spark, tx.snap.dir("meta"))(0)
      val next = TextAnalysis.bm25MetaFor(tx.spark.read.parquet(dirs.head), meta)
      tx.stage("meta")(next.coalesce(1).write.parquet(_))
    }
  }

  /** MinHash ([[Dedup.writeMinhashIndex]] layout): `shingles`
    * clustered on `id` and `bands` on `bucket`, byte-sized. Pending
    * debt is `bandrows`, the flat per-append rows
    * [[Dedup.appendToMinhashIndex]] lands; the fold is explode(bands)
    * ∪ pending → distinct → regroup under the meta cap (restoring the
    * single-cap bucket semantics the per-component probe union
    * approximates between compactions). With no pending rows `bands`
    * is copied verbatim and probes are row-identical across a
    * compaction; with pending rows they equal a rebuild-on-union's
    * (spec-pinned, modulo the documented degenerate-bucket cap
    * caveats). Meta (the banding pins) is untouched; nothing
    * re-shingles.
    *
    * Delete anti-joins `id` out of shingles and the exploded bands
    * (and the pending rows it folds), so a deleted document can never
    * surface as a near-dup witness: probe(delete ∘ build(ref)) ≡
    * probe(build(ref ∖ ids)) as a row SET (spec-pinned) — EXCEPT for
    * buckets the BUILD's skew cap dropped entirely, which stay gone
    * (resurrecting them needs ids the index no longer holds; a
    * recall-only difference confined to the regime the cap documents
    * as dropped — rebuild to recover it). Absent ids are no-ops. */
  private object MinHash extends Family("minhash", "shingles",
      Seq(Component("shingles", Seq("id")),
        Component("bands", Seq("bucket"), absorbs = Some("bandrows"))), "id") {

    override def live(tx: Txn, c: Component, del: Option[DataFrame]): DataFrame = {
      val (spark, snap) = (tx.spark, tx.snap)
      lazy val pending = dataFileCount(spark, snap.dir("bandrows")) > 0
      if (c.name != "bands" || (!pending && del.isEmpty)) return super.live(tx, c, del)
      val cap = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
        .getAs[Int]("maxBucketSize")
      val stored = IndexLayout.readComponent(spark, snap.dir("bands"))
        .select(col("bucket"), explode(col("ids")).as("id"))
      val rows = if (!pending) stored else stored.union(
        IndexLayout.readComponent(spark, snap.dir("bandrows")).select("bucket", "id"))
      del.fold(rows)(rows.join(_, Seq("id"), "left_anti"))
        .distinct()
        .groupBy(col("bucket"))
        .agg(graft.functions.BoundedCollect.bounded_long_list(col("id"), cap).as("ids"))
        .filter(col("ids").isNotNull)
    }
  }

  private val families: Seq[Family] = Seq(Ivf, Bm25, MinHash)

  /** The family of the index at `path`, read from the index itself:
    * the first family whose marker component exists. Anything else
    * refuses — before any lease is taken or anything is written. */
  private def familyOf(spark: SparkSession, path: String): Family = {
    val snap = IndexLayout.snapshot(spark, path)
    families.find { f => val (fs, p) = hfs(spark, snap.dir(f.marker)); fs.exists(p) }
      .getOrElse(throw new IllegalArgumentException(s"no persisted index at " +
        s"$path: expected a cells (IVF), postings (BM25) or shingles (MinHash) component"))
  }

  // ---- the one mutation body ----------------------------------------

  /** One mutation's unpublished generations: [[stage]] writes a
    * component into a fresh generation dir, [[repoint]] and [[remove]]
    * re-map one without writing. */
  private final class Txn(val spark: SparkSession, val snap: Snapshot) {
    private val updates = scala.collection.mutable.Map.empty[String, String]
    private val removals = scala.collection.mutable.Set.empty[String]

    def stage(component: String)(write: String => Unit): String = {
      val rel = snap.nextGenRel(component)
      updates(component) = rel // recorded first: a failed write is cleaned up too
      write(s"${snap.path}/$rel")
      s"${snap.path}/$rel"
    }
    def repoint(component: String): Unit = updates(component) = snap.nextGenRel(component)
    def remove(component: String): Unit = removals += component

    def publish(): Unit =
      if (updates.nonEmpty || removals.nonEmpty)
        IndexLayout.commit(spark, snap, updates.toMap, removals.toSet)
    def abandon(): Unit = updates.values.foreach(r => deleteDir(spark, s"${snap.path}/$r"))
  }

  /** THE body every compaction and delete runs through: take the lease
    * and one snapshot, let `body` stage fresh generations, publish them
    * with ONE [[IndexLayout.commit]] — or, if anything fails (the
    * commit's fence included), delete every generation it staged. */
  private def transact[T](spark: SparkSession, path: String, op: String)(body: Txn => T): T =
    IndexLayout.withIndexLock(spark, path, op) {
      val tx = new Txn(spark, IndexLayout.snapshot(spark, path))
      try { val out = body(tx); tx.publish(); out }
      catch { case t: Throwable => tx.abandon(); throw t }
    }

  /** Rewrite every component of `f` from `tx`'s snapshot — pending
    * debt folded, `del`'s ids dropped — and retire the folded pending
    * rows. Returns the new generation dirs, in `components` order. */
  private def rewrite(f: Family, tx: Txn, del: Option[DataFrame]): Seq[String] = {
    val dirs = f.components.map { c =>
      val rows = f.live(tx, c, del)
      tx.stage(c.name) { dir =>
        if (c.partitioned)
          rows.repartition(col(c.key.head)).write.partitionBy(c.key.head).parquet(dir)
        else
          rows.repartition(compactedPartitions(tx.spark, c.dirs(tx.snap)), col(c.key.head))
            .sortWithinPartitions(c.key.map(col): _*).write.parquet(dir)
      }
    }
    f.clearPending(tx)
    dirs
  }

  private def filesOf(spark: SparkSession, f: Family, snap: Snapshot): Long =
    f.components.flatMap(_.dirs(snap)).map(dataFileCount(spark, _)).sum

  /** The files a compaction of `f` would write: one per partition dir
    * of a partitioned component, byte-sized otherwise. */
  private def compactedFilesOf(spark: SparkSession, f: Family, snap: Snapshot): Long =
    f.components.map { c =>
      if (!c.partitioned) compactedPartitions(spark, c.dirs(snap)).toLong
      else {
        val (fs, p) = hfs(spark, snap.dir(c.name))
        fs.listStatus(p).count(st =>
          st.isDirectory && st.getPath.getName.startsWith(s"${c.key.head}=")).max(1).toLong
      }
    }.sum

  // ---- the three operations ------------------------------------------

  /** COMPACT the persisted index at `path`, whatever its family: rewrite
    * its live rows — pending debt folded (IVF tombstones materialized,
    * MinHash band rows regrouped) — into the build-shaped layout
    * declared by its [[Family]] spec, WITHOUT re-fitting anything, and
    * publish with one manifest flip (in-flight probes keep scoring the
    * old generation). Probes are bit-identical before and after (IVF,
    * BM25; MinHash row-identical, or equal to a rebuild on the union
    * when appends were pending). This is the maintenance call the
    * streamed-append story needs: appends and deletes stay cheap, and
    * the accumulated debt folds back on whatever cadence operations
    * chooses ([[maintainIndex]] chooses it from measured debt). */
  def compactIndex(spark: SparkSession, path: String): CompactStats = {
    val f = familyOf(spark, path)
    transact(spark, path, s"compact-${f.name}") { tx =>
      val before = filesOf(spark, f, tx.snap)
      require(before > 0, s"compactIndex: no index data under $path")
      val after = rewrite(f, tx, None).map(dataFileCount(spark, _)).sum
      org.apache.log4j.Logger.getLogger(getClass)
        .info(s"compactIndex($path, ${f.name}): $before files -> $after")
      CompactStats(before, after)
    }
  }

  /** Self-tending lifecycle entry — measure the index's pending and
    * small-file debt ([[MaintenancePolicy]]) and run [[compactIndex]]
    * exactly when `policy` says so, making append/delete → probe
    * stacks self-scheduling instead of relying on an operator reading
    * log warnings. Call it on the ingest cadence: below the thresholds
    * it costs filesystem listings (plus, for a tombstoned IVF index,
    * one tombstone count and at most one distinct-id pass) and
    * compacts nothing. Probes are preserved across the compaction
    * ([[compactIndex]]'s contract), so the policy can fire at any time
    * without a correctness window.
    * @return the measured debt and, iff this call compacted, its stats */
  def maintainIndex(spark: SparkSession, path: String,
                    policy: MaintenancePolicy = MaintenancePolicy()): Maintained = {
    val f = familyOf(spark, path)
    val snap = IndexLayout.snapshot(spark, path)
    val files = filesOf(spark, f, snap)
    require(files > 0, s"maintainIndex: no index data under $path")
    val bloat = files.toDouble / compactedFilesOf(spark, f, snap)
    val pending = f.pendingFraction(spark, snap, policy.maxPendingFraction)
    val due = pending >= policy.maxPendingFraction || bloat >= policy.maxFileBloat
    Maintained(f.name, pending, bloat, if (due) Some(compactIndex(spark, path)) else None)
  }

  /** DELETE the ids in column `idCol` of `ids` from the persisted index
    * at `path`, whatever its family — the takedown / crawl-refresh
    * path: afterwards probes equal a build on the remaining corpus
    * under the same pins (IVF, BM25 bit-for-bit; MinHash as a row set
    * — see each [[Family]] spec for its delete and its caveats).
    * Idempotent: absent ids are no-ops and a retried delete converges.
    * Deleting every document or vector refuses loudly BEFORE anything
    * publishes (an empty index cannot answer — drop it instead). The
    * delete set is sized on its REAL count: takedown-sized sets
    * broadcast, a crawl-refresh-scale set takes the shuffle path (same
    * results) instead of dying on the broadcast ceiling. */
  def deleteFromIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    val f = familyOf(spark, path)
    transact(spark, path, s"delete-${f.name}") { tx =>
      val key = IndexLayout.readComponent(spark, tx.snap.dir(f.components.head.name))
        .schema(f.idKey).dataType
      f.delete(tx, Similarity.sizedIdSide(
        ids.select(col(idCol).cast(key).as(f.idKey)).distinct()))
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

package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import graft.BoundedCache

/** Generation-pointer (manifest) layout + single-writer lease for the
  * persisted index family (BM25, IVF float/SQ8/PQ, MinHash) — the
  * reader-atomicity layer under [[IndexMaintenance]].
  *
  * The problem this solves: maintenance used to swap component
  * directories in place (rename live aside, rename staged in). That is
  * two renames — a reader PLANNING in the window fails on a missing
  * directory; worse, a multi-component mutation (BM25 delete rewrites
  * postings, dl AND meta) has windows where a reader resolves a MIX of
  * old and new components and scores silently wrong (stale avgdl over
  * deleted postings). And on object stores rename is copy+delete, so
  * the "atomic" swap isn't.
  *
  * The manifest layout (the standard iceberg-style move):
  *
  *   - Component rewrites land in fresh GENERATION directories
  *     (`postings_g7/`, `cells_g12/`, ...) next to the live ones —
  *     never touching bytes a current reader can resolve.
  *   - One small manifest file under `<path>/_manifest/` names the
  *     live directory of every rewritten component. Manifests are
  *     versioned (`v00000007`); the LIVE manifest is the highest
  *     version; publishing a new one is a single tmp-write + rename —
  *     atomic on HDFS-likes and a single object PUT on object stores.
  *   - Readers resolve ALL components from ONE manifest read at plan
  *     time ([[snapshot]]), so postings+dl+meta (or cells+tombstones)
  *     always come from one consistent generation set — never mixed.
  *   - Components a manifest does not name resolve to their BARE path
  *     (`<path>/postings`) — a legacy index (built before any
  *     maintenance ran) needs no migration: its first maintenance op
  *     writes the first manifest.
  *   - Superseded generations are RETAINED (a reader that planned
  *     before a flip still scans its whole old generation
  *     consistently) until [[vacuumIndex]] drops generations
  *     unreferenced by the newest `keepVersions` manifests.
  *
  * Mutation discipline: every mutating index operation (append,
  * guarded append, compact, delete) takes the advisory per-index
  * LEASE ([[withIndexLock]]) — one `_lock` file created exclusively
  * under the index root, so a compaction racing an append (or two
  * concurrent deletes) refuses loudly instead of interleaving.
  * Readers never lock. A crashed holder leaves the lock in place:
  * the next op refuses, naming the holder and the remedy
  * ([[breakIndexLock]]) — liveness detection is the operator's call,
  * not a heuristic here. A guarded append retrying with its own
  * `appendId` reclaims its own crashed lease automatically (same
  * owner token), keeping the retry-converges contract.
  */
object IndexLayout {

  private[graft] val ManifestDir = "_manifest"
  private[graft] val LockFile = "_lock"

  /** One consistent resolution of an index's components: the live
    * manifest's mapping (component → relative dir), empty for a legacy
    * bare-layout index. Resolve every component of one logical read
    * through ONE snapshot — that is the consistency unit. */
  final case class Snapshot(path: String, version: Long,
                            mapping: Map[String, String]) {
    /** Live absolute dir of `component` (bare path when unmapped). */
    def dir(component: String): String = s"$path/${rel(component)}"
    def rel(component: String): String = mapping.getOrElse(component, component)
    /** True iff the manifest names this component explicitly — used
      * for components that only exist via maintenance (tombstones). */
    def names(component: String): Boolean = mapping.contains(component)
    /** Relative dir for the NEXT generation of `component`. The name
      * carries a per-call random token so two mutations racing from
      * the SAME snapshot (possible only past a lost lease) stage into
      * DISJOINT directories: the commit version-collision check makes
      * exactly one win, and the winner's manifest names bytes only it
      * wrote — the loser's dirs are orphans [[vacuumIndex]] reclaims
      * (prefix-matched on `<component>_g`). */
    def nextGenRel(component: String): String =
      f"${component}_g${version + 1}%05d-${java.util.UUID.randomUUID().toString.take(8)}"
  }

  private def hfs(spark: SparkSession, p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  private def manifestVersion(name: String): Option[Long] =
    if (name.length == 9 && name.startsWith("v") &&
        name.drop(1).forall(_.isDigit)) Some(name.drop(1).toLong)
    else None

  /** Read the live manifest (highest version) — one small-file read at
    * plan time; `version = 0`, empty mapping for a legacy index. */
  def snapshot(spark: SparkSession, path: String): Snapshot = {
    val (fs, mdir) = hfs(spark, s"$path/$ManifestDir")
    if (!fs.exists(mdir)) return Snapshot(path, 0L, Map.empty)
    val versions = fs.listStatus(mdir)
      .flatMap(st => manifestVersion(st.getPath.getName))
    if (versions.isEmpty) return Snapshot(path, 0L, Map.empty)
    val v = versions.max
    val in = fs.open(new Path(mdir, f"v$v%08d"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    val mapping = text.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      require(i > 0, s"corrupt manifest line '$line' in $mdir/v$v")
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap
    Snapshot(path, v, mapping)
  }

  /** Publish manifest version `snap.version + 1` = `snap.mapping ++
    * updates -- removals` — THE atomic flip: stage the file, one
    * rename into `_manifest/`. Refuses if that version already exists
    * (a concurrent mutation ran without the lease). An EMPTY resulting
    * mapping is legal and resets every component to its bare path
    * (what index rebuilds publish — see [[resetToBare]]). */
  def commit(spark: SparkSession, snap: Snapshot,
             updates: Map[String, String],
             removals: Set[String] = Set.empty): Snapshot = {
    val mapping = snap.mapping ++ updates -- removals
    val (fs, mdir) = hfs(spark, s"${snap.path}/$ManifestDir")
    fs.mkdirs(mdir)
    val v = snap.version + 1
    val tmp = new Path(mdir, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(mapping.toSeq.sorted.map { case (k, d) => s"$k=$d\n" }
      .mkString.getBytes("UTF-8"))
    finally out.close()
    val target = new Path(mdir, f"v$v%08d")
    if (fs.exists(target) || !fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"IndexLayout.commit: manifest v$v at ${snap.path} already exists — " +
          "a concurrent mutation committed since this snapshot was taken; " +
          "index mutations must serialize under withIndexLock")
    }
    Snapshot(snap.path, v, mapping)
  }

  /** Read an index COMPONENT dir with its schema resolved once per
    * path — the probe-path fast read.
    *
    * `spark.read.parquet(dir)` infers the schema EAGERLY per call,
    * which runs a footer-reading Spark job (measured ~40-120 ms of
    * driver+job time at any data size, tools/DriverCost) — per
    * component, per probe, per rep. A component's SCHEMA is a layout
    * invariant: every writer of a given component (build, append,
    * compact) writes the identical column set and types, and rewrites
    * land in fresh generation directories. So the schema is cached per
    * absolute dir and only the FILE LISTING is re-resolved on every
    * read — appended files are always visible, and a generation flip
    * changes the dir (new cache key), never the bytes under an old
    * one. Rows are never cached; every action re-scans the parquet.
    *
    * The cache entry is keyed by the dir's FILE SIGNATURE
    * (name+length+mtime of every data file — one filesystem listing,
    * ~100× cheaper than the inference job): a rewrite-in-place that
    * changes the schema (an index REBUILD under the same bare path, a
    * corrupt-meta test fixture) re-infers instead of crashing the
    * scan with a stale type, while appends (new files, same schema by
    * the layout invariant) just refresh the signature. */
  private val componentSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, org.apache.spark.sql.types.StructType)]()

  private[graft] def readComponent(
      spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val sig = componentSignature(spark, dir)
    val cached = componentSchemaCache.get(dir)
    val sch =
      if (cached != null && cached._1 == sig) cached._2
      else {
        val s = spark.read.parquet(dir).schema
        BoundedCache.put(componentSchemaCache, dir, (sig, s))
        s
      }
    spark.read.schema(sch).parquet(dir)
  }

  /** Collected rows of a SMALL index component (meta, codebook,
    * centroids — driver-held index state, bounded by construction),
    * cached per directory under a FILE-SIGNATURE key: one filesystem
    * listing (name, length, mtime of every data file) decides whether
    * the cached rows are current, so an in-place rebuild or append is
    * picked up on the next read while an unchanged component skips
    * the read-collect Spark job (~40-70 ms of fixed cost per probe
    * per component at any data size). This is INDEX METADATA held in
    * driver memory — what any serving system keeps resident; query
    * DATA always re-scans parquet. */
  private val smallComponentCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, Array[org.apache.spark.sql.Row])]()

  private def componentSignature(spark: SparkSession, dir: String): String = {
    val (fs, p) = hfs(spark, dir)
    if (!fs.exists(p)) return "<absent>"
    fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString(";")
  }

  /** [[componentSignature]] strengthened with a CRC of each data
    * file's first 4 KiB — closes the same-mtime-tick rewrite edge
    * (filesystem mtime granularity can be 1 ms or coarser: a rewrite
    * within one tick with identical file names and lengths would
    * otherwise serve stale cached rows). Only the ROW cache pays the
    * pread — its components are bounded tiny files (meta, codebook,
    * centroids) and the read replaces a full Spark collect job.
    * Residual (documented): a same-tick rewrite identical in name,
    * length AND first 4 KiB per file — parquet writes put data pages
    * in the first block, so a content change there is detected. */
  private[graft] def smallComponentSignature(fs: FileSystem, p: Path): String = {
    if (!fs.exists(p)) return "<absent>"
    fs.listStatus(p).filterNot(_.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
      .map { st =>
        val crc = new java.util.zip.CRC32()
        val in = fs.open(st.getPath)
        try {
          // one read may return fewer bytes than asked (HDFS, object
          // stores): IOUtils.read fills the window until it is full or
          // EOF, so the signature never depends on how reads chunk
          val buf = new Array[Byte](4096)
          val n = org.apache.commons.io.IOUtils.read(in, buf)
          crc.update(buf, 0, n)
        } finally in.close()
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}:${crc.getValue}"
      }
      .mkString(";")
  }

  private[graft] def collectSmallComponent(
      spark: SparkSession, dir: String): Array[org.apache.spark.sql.Row] = {
    val (fs, p) = hfs(spark, dir)
    val sig = smallComponentSignature(fs, p)
    val cached = smallComponentCache.get(dir)
    if (cached != null && cached._1 == sig) return cached._2
    val rows = readComponent(spark, dir).collect()
    BoundedCache.put(smallComponentCache, dir, (sig, rows))
    rows
  }

  /** After a full REBUILD wrote the bare component dirs of an index
    * that previously had manifest generations: publish an empty
    * mapping so readers resolve the fresh bare layout (and stale
    * generation dirs become vacuum-able). No-op for a legacy index. */
  private[graft] def resetToBare(spark: SparkSession, path: String): Unit = {
    val snap = snapshot(spark, path)
    if (snap.version > 0 && snap.mapping.nonEmpty)
      commit(spark, snap, Map.empty, snap.mapping.keySet)
  }

  /** Files and generations kept/dropped by a vacuum. */
  final case class VacuumStats(droppedDirs: Seq[String],
                               droppedManifests: Long)

  /** Drop generation directories unreferenced by the newest
    * `keepVersions` generation SETS (and the superseded manifests
    * themselves). A generation set is a maximal run of manifests with
    * the same mapping — fence manifests (appends and this vacuum's own
    * leading fence publish the unchanged mapping as a version bump)
    * ride with the set they duplicate instead of consuming a retention
    * slot. `keepVersions >= 2` keeps the previous generation set alive
    * for readers that planned just before the latest flip — run vacuum
    * on a cadence longer than your longest query. Bare component dirs
    * are dropped only when every retained manifest maps that component
    * elsewhere.
    *
    * Vacuum is FENCED like every other mutation, but leading, not
    * closing — the destruction must come after the fence, not before:
    * it first commits the unchanged mapping as a version bump from its
    * snapshot. A mutation that committed since the snapshot makes the
    * fence collide → vacuum refuses having deleted NOTHING; a mutation
    * that raced past a lost lease from the same snapshot (the
    * clobbering-rename residual window) now collides at ITS commit —
    * its staged dirs are orphans, which this vacuum may legitimately
    * reclaim mid-write. Post-fence mutations stage generations newer
    * than the fence version, and vacuum only deletes generation dirs
    * whose parsed version is at most the fence — so bytes a live or
    * future committer can still publish are never touched. */
  def vacuumIndex(spark: SparkSession, path: String,
                  keepVersions: Int = 2): VacuumStats =
    withIndexLock(spark, path, "vacuum") {
      require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
      val (fs, mdir) = hfs(spark, s"$path/$ManifestDir")
      if (!fs.exists(mdir)) return VacuumStats(Nil, 0L)
      if (fs.listStatus(mdir)
            .flatMap(st => manifestVersion(st.getPath.getName)).isEmpty)
        return VacuumStats(Nil, 0L)
      val fence = commit(spark, snapshot(spark, path), Map.empty)
      val versions = fs.listStatus(mdir)
        .flatMap(st => manifestVersion(st.getPath.getName)).sorted
      // every mapping any manifest EVER published names the universe
      // of components; the retained manifests name what must live.
      // Version 0 is the IMPLICIT pre-manifest bare layout — it counts
      // toward keepVersions like any other generation set, so a reader
      // that planned against the bare dirs just before the first flip
      // keeps its files for one retention cycle too.
      val allMappings: Map[Long, Map[String, String]] =
        versions.map { v =>
          val in = fs.open(new Path(mdir, f"v$v%08d"))
          val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                     finally in.close()
          v -> text.linesIterator.filter(_.nonEmpty).map { line =>
            val i = line.indexOf('=')
            line.substring(0, i) -> line.substring(i + 1)
          }.toMap
        }.toMap + (0L -> Map.empty[String, String])
      // newest-first, admit manifests until keepVersions DISTINCT
      // consecutive mappings (generation sets) are in hand
      val retained: Seq[Long] = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        var sets = 0
        var last: Option[Map[String, String]] = None
        val it = (0L +: versions.toSeq).reverseIterator
        var done = false
        while (it.hasNext && !done) {
          val v = it.next()
          val m = allMappings(v)
          val isNewSet = !last.contains(m)
          if (isNewSet && sets == keepVersions) done = true
          else {
            if (isNewSet) sets += 1
            last = Some(m)
            buf += v
          }
        }
        buf.toSeq
      }
      val components = allMappings.values.flatMap(_.keySet).toSet
      val live: Set[String] = retained.flatMap { v =>
        val m = allMappings(v)
        // unmapped components of a retained manifest resolve bare
        components.map(c => m.getOrElse(c, c))
      }.toSet
      val everReferenced: Set[String] =
        allMappings.values.flatMap(_.values).toSet ++ components
      // a generation dir's staged-at version; bare dirs parse as 0
      def genVersion(n: String): Long = {
        val i = n.lastIndexOf("_g")
        if (i < 0) 0L
        else {
          val digits = n.drop(i + 2).takeWhile(_.isDigit)
          if (digits.isEmpty) 0L else digits.toLong
        }
      }
      val dropped = fs.listStatus(new Path(path)).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith("."))
        .filter(n => everReferenced.contains(n) ||
          components.exists(c => n.startsWith(c + "_g")))
        .filter(genVersion(_) <= fence.version)
        .filterNot(live.contains)
      dropped.foreach(n => fs.delete(new Path(s"$path/$n"), true))
      val staleManifests = versions.filterNot(retained.contains)
      staleManifests.foreach(v => fs.delete(new Path(mdir, f"v$v%08d"), false))
      VacuumStats(dropped.sorted, staleManifests.size.toLong)
    }

  /** Run `body` holding the index's advisory single-writer lease: an
    * exclusive `_lock` file under the root, released on exit. A held
    * lock whose owner token DIFFERS refuses loudly (concurrent
    * mutation — the caller must wait, or a crashed holder must be
    * cleared with [[breakIndexLock]]); a held lock with the SAME owner
    * is this job's own crashed predecessor and is reclaimed (the
    * guarded-append retry path). Reentrant within a thread.
    *
    * Acquisition is create-RENAME, not exclusive-create: exclusive
    * create is exists-then-create (check-then-act) on
    * RawLocalFileSystem and object stores, so two racers could both
    * "win" it. Here each acquirer writes a uniquely-named tmp file
    * carrying a per-attempt NONCE, renames it onto `_lock`, and
    * RE-READS the lock to confirm its own nonce survived — on
    * filesystems whose rename refuses an existing destination (HDFS)
    * exactly one rename succeeds; on clobbering-rename filesystems the
    * re-read demotes a lost race to a refusal. The same-owner reclaim
    * re-races this acquisition (never a blind delete + create), so two
    * concurrent retries of one appendId cannot both reclaim. The
    * residual window (clobber lands after the winner's re-read) is
    * closed by the manifest fence: every mutation — including appends,
    * which bump the manifest version even when no component re-points
    * — ends in a [[commit]] whose version-collision check turns any
    * surviving interleave into a loud refusal, never silent loss. */
  def withIndexLock[T](spark: SparkSession, path: String, op: String,
                       owner: String = java.util.UUID.randomUUID().toString)(
                       body: => T): T = {
    val (fs, lock) = hfs(spark, s"$path/$LockFile")
    if (held.get().contains(path)) return body // reentrant
    def readLock(): String =
      try {
        val in = fs.open(lock)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch { case _: java.io.IOException => "" }
    def tryAcquire(): Boolean = {
      val nonce = java.util.UUID.randomUUID().toString
      val payload = s"op=$op\nowner=$owner\nnonce=$nonce\n" +
        s"acquiredMs=${System.currentTimeMillis}\n"
      val tmp = new Path(new Path(path), s".lock-tmp-$nonce")
      val out = fs.create(tmp, true)
      try out.write(payload.getBytes("UTF-8")) finally out.close()
      val renamed =
        try !fs.exists(lock) && fs.rename(tmp, lock)
        catch { case _: java.io.IOException => false }
      if (!renamed) { fs.delete(tmp, false); false }
      // confirm ownership: only the acquirer whose nonce is IN the
      // lock file holds the lease (a clobbering rename that landed
      // before this read demotes us to a loser)
      else readLock().linesIterator.contains(s"nonce=$nonce")
    }
    if (!tryAcquire()) {
      val existing = readLock()
      val sameOwner = existing.linesIterator
        .exists(_ == s"owner=$owner")
      if (sameOwner) {
        // same owner token: either our own CRASHED predecessor (the
        // guarded-append retry path — reclaim) or a LIVE holder of the
        // same logical job (two concurrent retries of one appendId —
        // a caller-contract violation). A live holder in THIS JVM is
        // detectable exactly — refuse instead of yanking its lease;
        // cross-process liveness is the operator's call, and any
        // damage a cross-process double-reclaim could do is caught by
        // the manifest fence. The reclaim itself RE-RACES the
        // acquisition (never blind delete-then-assume), so of two
        // retries reclaiming concurrently only the surviving nonce
        // proceeds.
        if (livePids.containsKey(path))
          throw new IllegalStateException(
            s"index at $path is write-locked by a LIVE operation of the " +
              s"same owner '$owner' in this process — two concurrent " +
              "retries of one logical increment; one appendId names one " +
              "increment and retries must not overlap")
        fs.delete(lock, false)
        if (!tryAcquire())
          throw new IllegalStateException(
            s"index at $path: lost the lease-reclaim race for owner " +
              s"'$owner' — another retry of the same operation (or a new " +
              "mutation) acquired first; rerun once it finishes (mutations " +
              "here converge on retry)")
      } else
        throw new IllegalStateException(
          s"index at $path is write-locked by another operation " +
            s"[${existing.linesIterator.mkString("; ")}] — index mutations " +
            "serialize (append/compact/delete must not interleave). If the " +
            "holder crashed, clear it with IndexLayout.breakIndexLock(path) " +
            "and rerun; every mutation here converges on retry.")
    }
    held.set(held.get() + path)
    livePids.put(path, owner)
    try body
    finally {
      held.set(held.get() - path)
      livePids.remove(path)
      fs.delete(lock, false)
    }
  }

  private val held = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Leases held LIVE by this JVM (path → owner) — lets the
    * same-owner reclaim distinguish a crashed predecessor from a
    * concurrently-running retry in the same process. */
  private val livePids =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Clear a crashed mutation's lease. Only call after confirming the
    * holder is dead — breaking a LIVE holder's lease re-opens the
    * interleaving hazard the lease exists to close. */
  def breakIndexLock(spark: SparkSession, path: String): Boolean = {
    val (fs, lock) = hfs(spark, s"$path/$LockFile")
    fs.delete(lock, false)
  }
}

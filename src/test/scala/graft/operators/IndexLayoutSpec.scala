package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The generation-pointer (manifest) layer under index maintenance:
  * readers resolve every component of one probe from ONE manifest
  * snapshot; maintenance publishes whole generation sets with ONE
  * atomic flip; superseded generations survive until vacuum; and the
  * per-index single-writer lease serializes mutations. */
class IndexLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def docs = graft.Tables.documents(spark, sf())
    .select("doc_id", "text")
  private def embs = graft.Tables.embeddings(spark, sf())
    .select("vec_id", "embedding")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("BM25: a reader planned BEFORE a delete keeps scoring the OLD generation consistently; a fresh plan sees the new one") {
    val dir = tmp("layoutbm25")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", dir)
    // the "in-flight reader": postings+dl+meta resolved NOW, pre-delete
    val oldState = TextAnalysis.loadBm25Index(spark, dir)
    def oldProbe() = rows(TextAnalysis.scoreWithBm25State(
      oldState, Seq("spark", "window", "agg"), k = 20))
    val preDelete = oldProbe()
    IndexMaintenance.deleteFromBm25Index(
      docs.filter($"doc_id" % 4 === 0).select("doc_id"), "doc_id", dir)
    // the old reader's whole generation set survived the flip: it
    // scores EXACTLY the pre-delete index — old postings under old
    // stats, never new postings under old stats or any other mix
    assert(oldProbe() == preDelete)
    // a reader planning after the flip sees the delete
    val want = tmp("layoutbm25want")
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 4 =!= 0),
      "doc_id", "text", want)
    def freshProbe(d: String) = rows(TextAnalysis.scoreWithBm25Index(
      spark, d, Seq("spark", "window", "agg"), k = 20))
    assert(freshProbe(dir) == freshProbe(want))
    assert(freshProbe(dir) != preDelete) // the delete actually bit
    rm(dir); rm(want)
  }

  test("IVF: a probe planned before a delete still scans its old (tombstone-free) view; vacuum keeps the previous generation for one cycle") {
    val all = embs
    val q = Similarity.prepareQueries(all.filter($"vec_id" < 5),
      "vec_id", "embedding")
    val dir = tmp("layoutivf")
    Similarity.writeIvfIndexSq8(all, "vec_id", "embedding", dir, cells = 16)
    val preDelete = rows(
      Similarity.queryIvfIndexSq8(spark, dir, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank"))
    // plan (but do not execute) probes against the pre-delete snapshot;
    // plannedStale stays unexecuted until after the vacuum (an executed
    // plan legitimately reuses its own shuffle output)
    val plannedBefore = Similarity
      .queryIvfIndexSq8(spark, dir, q, k = 10, nprobe = 4)
      .orderBy("q_id", "rank")
    val plannedStale = Similarity
      .queryIvfIndexSq8(spark, dir, q, k = 10, nprobe = 4)
      .orderBy("q_id", "rank")
    IndexMaintenance.deleteFromIvfIndex(
      all.filter($"vec_id" % 5 === 2).select("vec_id"), "vec_id", dir)
    assert(rows(plannedBefore) == preDelete)
    // compaction flips cells to a new generation; the old bare cells
    // dir must survive (implicit version-0 generation) under the
    // default retention so the planned-before reader still executes
    IndexMaintenance.compactIvfIndex(spark, dir)
    val st2 = IndexLayout.vacuumIndex(spark, dir) // keepVersions = 2
    assert(new java.io.File(s"$dir/cells").isDirectory,
      s"default vacuum must retain the previous generation, dropped ${st2.droppedDirs}")
    assert(rows(plannedBefore) == preDelete)
    // aggressive vacuum (keep only the live generation) drops it: the
    // stale reader now fails on missing files (or, if its listing
    // cache refreshed, scans nothing) — it can never be handed the
    // pre-delete answer as if it were live
    val st1 = IndexLayout.vacuumIndex(spark, dir, keepVersions = 1)
    assert(st1.droppedDirs.contains("cells"), st1.toString)
    spark.catalog.refreshByPath(s"$dir/cells")
    val staleOutcome =
      try Some(rows(plannedStale)) catch { case _: Exception => None }
    assert(staleOutcome.forall(_ != preDelete),
      "a vacuumed-away reader silently served the stale generation")
    // fresh plans keep working and still reflect the delete
    val want = tmp("layoutivfwant")
    val prepared = Similarity.prepareQueries(all, "vec_id", "embedding")
      .select($"q_id".as("n_id"), $"q_v".as("n_v"))
    Similarity.writeIvfIndexSq8(all.filter($"vec_id" % 5 =!= 2),
      "vec_id", "embedding", want, cells = 16,
      centroids0 = Some(prepared.orderBy($"n_id").limit(16)
        .select($"n_id".as("c_id"), $"n_v".as("c_v"))),
      bounds0 = Some(Quantization.fitBounds(prepared, "n_v")))
    assert(
      rows(Similarity.queryIvfIndexSq8(spark, dir, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")) ==
      rows(Similarity.queryIvfIndexSq8(spark, want, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")))
    rm(dir); rm(want)
  }

  test("rebuild over a managed index resets the manifest to the bare layout") {
    val dir = tmp("layoutreset")
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", dir)
    IndexMaintenance.deleteFromBm25Index(
      docs.filter($"doc_id" % 4 === 1).select("doc_id"), "doc_id", dir)
    assert(IndexLayout.snapshot(spark, dir).mapping.nonEmpty)
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", dir) // full rebuild
    val snap = IndexLayout.snapshot(spark, dir)
    assert(snap.mapping.isEmpty && snap.version > 0)
    val want = tmp("layoutresetwant")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", want)
    assert(rows(TextAnalysis.scoreWithBm25Index(spark, dir,
        Seq("spark", "window", "agg"), k = 20)) ==
      rows(TextAnalysis.scoreWithBm25Index(spark, want,
        Seq("spark", "window", "agg"), k = 20)))
    rm(dir); rm(want)
  }

  test("lease: concurrent mutations refuse loudly; breakIndexLock recovers; a guarded append reclaims its own crashed lease") {
    val dir = tmp("layoutlock")
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 4 =!= 0),
      "doc_id", "text", dir)
    // another operation holds the lease -> a delete must refuse
    IndexLayout.withIndexLock(spark, dir, "compact-bm25") {
      val other = new Thread {
        var error: Throwable = _
        override def run(): Unit =
          try IndexMaintenance.deleteFromBm25Index(
            docs.filter($"doc_id" % 8 === 1).select("doc_id"), "doc_id", dir)
          catch { case t: Throwable => error = t }
      }
      other.start(); other.join()
      assert(other.error != null &&
        other.error.getMessage.contains("write-locked"),
        String.valueOf(other.error))
      assert(other.error.getMessage.contains("breakIndexLock"))
    }
    // lease released on exit: the same mutation now runs
    IndexMaintenance.deleteFromBm25Index(
      docs.filter($"doc_id" % 8 === 1).select("doc_id"), "doc_id", dir)
    // a crashed holder's lock blocks until broken
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    val out = fs.create(lock, false)
    out.write("op=compact-bm25\nowner=dead-job\nacquiredMs=0\n".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException] {
      IndexMaintenance.compactBm25Index(spark, dir)
    }
    assert(e.getMessage.contains("dead-job"), e.getMessage)
    assert(IndexLayout.breakIndexLock(spark, dir))
    IndexMaintenance.compactBm25Index(spark, dir)
    // a guarded append whose predecessor crashed holding ITS OWN lease
    // (owner = append:<id>) reclaims it instead of refusing — the
    // retry-converges contract
    val out2 = fs.create(lock, false)
    out2.write("op=guarded-append\nowner=append:inc-9\nacquiredMs=0\n"
      .getBytes("UTF-8"))
    out2.close()
    assert(TextAnalysis.appendToBm25IndexGuarded(
      docs.filter($"doc_id" % 4 === 0), "doc_id", "text", dir, "inc-9"))
    assert(!fs.exists(lock)) // released after the append committed
    rm(dir)
  }

  test("two committers racing from one snapshot: exactly one wins the version, the loser's generation dirs are disjoint orphans that vacuum reclaims") {
    val dir = tmp("layoutrace")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", dir)
    // make the index managed so the race happens on a real manifest
    IndexMaintenance.compactBm25Index(spark, dir)
    val snap = IndexLayout.snapshot(spark, dir)
    // the scenario the lease exists to prevent, forced deliberately:
    // two mutations resolved the SAME snapshot (exclusive-create is
    // check-then-act on object stores, so a lost lease race is
    // possible there) and each stages its own postings generation
    val relA = snap.nextGenRel("postings")
    val relB = snap.nextGenRel("postings")
    assert(relA != relB, "racing committers must stage disjoint dirs")
    spark.read.parquet(snap.dir("postings"))
      .write.parquet(s"$dir/$relA")
    spark.read.parquet(snap.dir("postings"))
      .write.parquet(s"$dir/$relB")
    val won = IndexLayout.commit(spark, snap, Map("postings" -> relA))
    val e = intercept[IllegalStateException] {
      IndexLayout.commit(spark, snap, Map("postings" -> relB))
    }
    assert(e.getMessage.contains("concurrent mutation"), e.getMessage)
    // the winner's manifest names only bytes the winner wrote
    assert(IndexLayout.snapshot(spark, dir).rel("postings") == relA)
    // probes stay healthy on the winner's generation
    assert(rows(TextAnalysis.scoreWithBm25Index(spark, dir,
      Seq("spark", "window", "agg"), k = 5)).nonEmpty)
    // the loser's orphaned generation is reclaimed by vacuum (it was
    // never referenced by any manifest — prefix-matched)
    val st = IndexLayout.vacuumIndex(spark, dir, keepVersions = 1)
    assert(st.droppedDirs.contains(relB), st.toString)
    assert(!new java.io.File(s"$dir/$relB").exists)
    assert(new java.io.File(s"$dir/$relA").isDirectory)
    assert(won.version == snap.version + 1)
    rm(dir)
  }

  test("lease reclaim: a second retry of the same owner cannot blind-reclaim a lease the first retry just re-acquired") {
    val dir = tmp("layoutreclaim")
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    // a crashed predecessor of owner append:inc-7 holds the lease
    val out = fs.create(lock, false)
    out.write("op=guarded-append\nowner=append:inc-7\nacquiredMs=0\n"
      .getBytes("UTF-8"))
    out.close()
    // retry 1 reclaims (same owner) and RUNS holding the lease; a
    // concurrent retry 2 of the SAME owner arriving now sees a lock
    // whose owner matches, tries the reclaim re-race, and must LOSE
    // (retry 1's nonce is in the lock file) instead of deleting
    // retry 1's live lease out from under it
    IndexLayout.withIndexLock(spark, dir, "guarded-append",
        owner = "append:inc-7") {
      val e = intercept[IllegalStateException] {
        val t = new Thread {
          var err: Throwable = _
          override def run(): Unit =
            try IndexLayout.withIndexLock(spark, dir, "guarded-append",
              owner = "append:inc-7") { fail("both retries held the lease") }
            catch { case x: Throwable => err = x }
        }
        t.start(); t.join()
        if (t.err != null) throw t.err
      }
      assert(e.getMessage.contains("reclaim") ||
        e.getMessage.contains("write-locked"), e.getMessage)
      // retry 1 still holds a valid lease: its lock file survives
      assert(fs.exists(lock))
    }
    assert(!fs.exists(lock)) // released cleanly
    rm(dir)
  }

  test("manifest commit from a stale snapshot refuses (the no-lease double-write guard)") {
    val dir = tmp("layoutstale")
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", dir)
    val snap = IndexLayout.snapshot(spark, dir)
    IndexLayout.commit(spark, snap, Map("x" -> "x_g00001"))
    val e = intercept[IllegalStateException] {
      IndexLayout.commit(spark, snap, Map("y" -> "y_g00001"))
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    rm(dir)
  }

  test("vacuum is fenced: it bumps the version with the mapping unchanged, and never deletes a generation staged above its fence") {
    val dir = tmp("layoutvacfence")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", dir)
    IndexMaintenance.compactBm25Index(spark, dir)
    val before = IndexLayout.snapshot(spark, dir)
    // a racer that snapshotted AFTER the fence stages generations
    // numbered above it — simulate its in-progress staging dir: the
    // vacuum must leave it alone (the racer can still publish it)
    val inflight = f"postings_g${before.version + 9}%05d-aaaaaaaa"
    new java.io.File(s"$dir/$inflight/part").getParentFile.mkdirs()
    // while an orphan at or below the fence (a LOSER of a pre-fence
    // race — its commit would collide now) is reclaimed
    val orphan = f"postings_g${before.version}%05d-bbbbbbbb"
    new java.io.File(s"$dir/$orphan/part").getParentFile.mkdirs()
    val st = IndexLayout.vacuumIndex(spark, dir, keepVersions = 1)
    val after = IndexLayout.snapshot(spark, dir)
    assert(after.version == before.version + 1, "vacuum must fence")
    assert(after.mapping == before.mapping, "the fence re-points nothing")
    assert(st.droppedDirs.contains(orphan), st.toString)
    assert(!new java.io.File(s"$dir/$orphan").exists)
    assert(new java.io.File(s"$dir/$inflight").isDirectory,
      "vacuum deleted a generation staged above its fence")
    // probes stay healthy through the fence
    assert(rows(TextAnalysis.scoreWithBm25Index(spark, dir,
      Seq("spark", "window", "agg"), k = 5)).nonEmpty)
    rm(dir)
  }

  test("fence manifests (appends, vacuums) do not consume retention slots: keepVersions counts generation SETS") {
    val dir = tmp("layoutretain")
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", dir)
    // one real flip (bare -> compacted generations)...
    IndexMaintenance.compactBm25Index(spark, dir)
    // ...then two pure fences — the manifest bump IVF/MinHash appends
    // publish (re-points nothing, exists only to collide a lost-lease
    // racer)
    IndexLayout.commit(spark, IndexLayout.snapshot(spark, dir), Map.empty)
    IndexLayout.commit(spark, IndexLayout.snapshot(spark, dir), Map.empty)
    // keepVersions=2 must retain the BARE pre-compact generation (the
    // previous generation set) even though four manifests now exist
    // (compact flip + two fences + vacuum's own fence) — counting
    // versions alone would age it out, counting generation sets keeps
    // it
    IndexLayout.vacuumIndex(spark, dir, keepVersions = 2)
    assert(new java.io.File(s"$dir/postings").isDirectory,
      "a fence manifest consumed the previous generation set's slot")
    // with keepVersions=1 the superseded bare set goes
    IndexLayout.vacuumIndex(spark, dir, keepVersions = 1)
    assert(!new java.io.File(s"$dir/postings").exists)
    assert(rows(TextAnalysis.scoreWithBm25Index(spark, dir,
      Seq("spark", "window", "agg"), k = 5)).nonEmpty)
    rm(dir)
  }

  test("collectSmallComponent detects a same-tick in-place rewrite (same file name, length AND mtime)") {
    val dir = tmp("sametick")
    val cdir = s"$dir/meta"
    Seq((1L, 111L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(cdir)
    val first = IndexLayout.collectSmallComponent(spark, cdir)
    assert(first.map(_.getLong(1)).toSeq == Seq(111L))
    // craft a same-length replacement: identical schema and row count,
    // different value (fixed-width long encoding ⇒ equal file bytes)
    val alt = s"$dir/alt"
    Seq((1L, 222L)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(alt)
    val dataFile = new java.io.File(cdir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val altFile = new java.io.File(alt).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(altFile.length == dataFile.length,
      "test premise: the rewrite must not change the file length")
    val mtime = dataFile.lastModified()
    java.nio.file.Files.copy(altFile.toPath, dataFile.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop Hadoop LocalFileSystem's checksum sidecars: the raw copy
    // above models a writer outside the Hadoop API (a mismatched
    // sidecar would already fail the read loudly — the SILENT case
    // this spec pins is name+length+mtime all unchanged)
    new java.io.File(cdir).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    assert(dataFile.setLastModified(mtime))
    // name, length and mtime are all unchanged — only the first-block
    // CRC in the signature can catch this rewrite
    val second = IndexLayout.collectSmallComponent(spark, cdir)
    assert(second.map(_.getLong(1)).toSeq == Seq(222L),
      "same-tick in-place rewrite served stale cached rows")
    rm(dir)
  }

  test("small-component signature is independent of how streams chunk their reads") {
    val dir = tmp("shortread")
    val cdir = s"$dir/meta"
    // a data file well past the 4 KiB CRC window
    (0 until 2000).map(i => (i.toLong, s"row-$i")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(cdir)
    val p = new org.apache.hadoop.fs.Path(cdir)
    val local = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(local.listStatus(p).exists(_.getLen > 4096), "test premise: a file past the window")
    val oneByte = new OneByteReadsFileSystem(local)
    val plain = IndexLayout.smallComponentSignature(local, p)
    assert(IndexLayout.smallComponentSignature(oneByte, p) == plain)
    rm(dir)
  }
}

/** Every stream it opens returns at most one byte per `read` — the
  * short reads HDFS and object-store clients are allowed to make. */
private class OneByteReadsFileSystem(fs: org.apache.hadoop.fs.FileSystem)
    extends org.apache.hadoop.fs.FilterFileSystem(fs) {
  import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path}
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = fs.open(f, bufferSize)
    new FSDataInputStream(new FSInputStream {
      override def read(): Int = in.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        in.read(b, off, math.min(len, 1))
      override def seek(pos: Long): Unit = in.seek(pos)
      override def getPos: Long = in.getPos
      override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
      override def close(): Unit = in.close()
    })
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Index lifecycle beyond build+append: COMPACTION rewrites bytes only
  * (probe ≡ pre-compaction bit-for-bit; files fold to the cluster
  * count), DELETE makes the index equal a build on the remaining
  * corpus (and composes with append into changed-doc re-ingest ≡
  * rebuild), and the GUARDED APPEND converges to exactly-once from any
  * simulated crash point. */
class IndexMaintenanceSpec extends SparkSpec {
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

  private def bm25Probe(dir: String) =
    TextAnalysis.scoreWithBm25Index(spark, dir,
      queryTerms = Seq("spark", "window", "agg"), k = 20)

  /** Live (manifest-resolved) dir of an index component. */
  private def comp(dir: String, c: String): String =
    IndexLayout.snapshot(spark, dir).dir(c)

  private def metaRow(dir: String): Seq[Any] =
    spark.read.parquet(comp(dir, "meta")).collect()(0).toSeq

  // pinned-from-the-full-corpus centroids + bounds, so delete/append
  // equivalences compare like with like (the production pin stance)
  private def pins(corpus: org.apache.spark.sql.DataFrame) = {
    val prepared = Similarity.prepareQueries(corpus, "vec_id", "embedding")
      .select($"q_id".as("n_id"), $"q_v".as("n_v"))
    (prepared.orderBy($"n_id").limit(16)
       .select($"n_id".as("c_id"), $"n_v".as("c_v")),
     Quantization.fitBounds(prepared, "n_v"))
  }

  test("compactIndex / maintainIndex / deleteFromIndex refuse a dir holding no index, or a bare meta, and leave nothing behind") {
    def listing(dir: String): Set[String] = {
      val root = java.nio.file.Paths.get(dir)
      val w = java.nio.file.Files.walk(root)
      try w.iterator().asScala.map(root.relativize(_).toString).toSet finally w.close()
    }
    val empty = tmp("noindex")
    val metaOnly = tmp("metaonly")
    Seq((1L, 2L)).toDF("n_docs", "total_len").write.parquet(s"$metaOnly/meta")
    for (dir <- Seq(empty, metaOnly)) {
      val before = listing(dir)
      intercept[IllegalArgumentException](IndexMaintenance.compactIndex(spark, dir))
      intercept[IllegalArgumentException](IndexMaintenance.maintainIndex(spark, dir))
      intercept[IllegalArgumentException](IndexMaintenance.deleteFromIndex(
        Seq(1L).toDF("doc_id"), "doc_id", dir))
      // no lease, manifest or generation was left behind
      assert(listing(dir) == before, dir)
      rm(dir)
    }
  }

  test("BM25 compaction: probe bit-identical; appended files fold to the cluster count") {
    val dir = tmp("bm25compact")
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 4 =!= 0),
      "doc_id", "text", dir)
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" % 8 === 0),
      "doc_id", "text", dir)
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" % 8 === 4),
      "doc_id", "text", dir)
    val before = rows(bm25Probe(dir))
    val metaBefore = metaRow(dir)
    val stats = IndexMaintenance.compactIndex(spark, dir)
    assert(stats.filesAfter < stats.filesBefore,
      s"compaction must shrink the file count, got $stats")
    // postings+dl each fold to ≤ shuffle.partitions files (4 in tests)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(stats.filesAfter <= 2L * parts, s"got $stats")
    assert(rows(bm25Probe(dir)) == before) // every score bit identical
    // meta untouched — compaction never re-fits
    assert(metaRow(dir) == metaBefore)
    rm(dir)
  }

  test("IVF compaction (SQ8): probe bit-identical; one file per cell; partition pruning intact") {
    val all = embs
    val (cents, bounds) = pins(all)
    val q = Similarity.prepareQueries(all.filter($"vec_id" < 5),
      "vec_id", "embedding")
    val dir = tmp("ivfcompact")
    Similarity.writeIvfIndex(all.filter($"vec_id" % 4 =!= 0),
      "vec_id", "embedding", dir, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    Similarity.appendToIvfIndex(all.filter($"vec_id" % 8 === 0),
      "vec_id", "embedding", dir)
    Similarity.appendToIvfIndex(all.filter($"vec_id" % 8 === 4),
      "vec_id", "embedding", dir)
    val before = rows(Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
      .orderBy("q_id", "rank"))
    val stats = IndexMaintenance.compactIndex(spark, dir)
    assert(stats.filesAfter < stats.filesBefore, s"got $stats")
    assert(stats.filesAfter <= 16, s"one file per cell expected, got $stats")
    val after = Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
    assert(rows(after.orderBy("q_id", "rank")) == before)
    // compaction preserved the partition-pruned probe shape
    val plan = Similarity.queryIvfIndex(spark, dir,
      q.filter($"q_id" === 0), k = 10, nprobe = 4).queryExecution.sparkPlan
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("cells")) => f
    }
    assert(scans.nonEmpty)
    val static = scans.head.partitionFilters
      .filterNot(_.toString.contains("dynamicpruning"))
    assert(static.nonEmpty)
    val parts = scans.head.relation.location.listFiles(
      static, scans.head.dataFilters).length
    assert(parts <= 4, s"expected ≤4 pruned cell partitions, scanned $parts")
    rm(dir)
  }

  test("BM25 delete: delete(ids) ∘ build(corpus) == build(corpus ∖ ids) bit-for-bit; absent id is a no-op; emptying refuses") {
    val dir = tmp("bm25del")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", dir)
    IndexMaintenance.deleteFromIndex(
      docs.filter($"doc_id" % 4 === 0).select("doc_id"), "doc_id", dir)
    val want = tmp("bm25delwant")
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 4 =!= 0),
      "doc_id", "text", want)
    assert(rows(bm25Probe(dir)) == rows(bm25Probe(want)))
    assert(metaRow(dir) == metaRow(want)) // exact integer stats
    // postings/dl contents equal too — the state IS a build on the rest
    assert(rows(spark.read.parquet(comp(dir, "postings")).orderBy("term", "__doc"))
      == rows(spark.read.parquet(comp(want, "postings")).orderBy("term", "__doc")))
    assert(rows(spark.read.parquet(comp(dir, "dl")).orderBy("__doc"))
      == rows(spark.read.parquet(comp(want, "dl")).orderBy("__doc")))
    // deleting ids not in the index: takedown semantics, a no-op
    val before = rows(bm25Probe(dir))
    IndexMaintenance.deleteFromIndex(
      Seq(999999999L, -5L).toDF("doc_id"), "doc_id", dir)
    assert(rows(bm25Probe(dir)) == before)
    // deleting everything refuses loudly and leaves the index intact
    val e = intercept[IllegalArgumentException] {
      IndexMaintenance.deleteFromIndex(
        docs.select("doc_id"), "doc_id", dir)
    }
    assert(e.getMessage.contains("empties the index"), e.getMessage)
    assert(rows(bm25Probe(dir)) == before)
    rm(dir); rm(want)
  }

  test("BM25 changed-doc re-ingest: delete + append == rebuild with the changed text") {
    val target = docs.orderBy($"doc_id").limit(1)
      .collect()(0).getLong(0)
    val changed = docs
      .withColumn("text",
        when($"doc_id" === target, concat($"text", lit(" spark spark agg")))
          .otherwise($"text"))
    val dir = tmp("bm25reingest")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", dir)
    // the bare append refuses the overlapping id — the documented gate
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.appendToBm25Index(changed.filter($"doc_id" === target),
        "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("already exist"), e.getMessage)
    // the composition the delete path unlocks
    IndexMaintenance.deleteFromIndex(
      Seq(target).toDF("doc_id"), "doc_id", dir)
    TextAnalysis.appendToBm25Index(changed.filter($"doc_id" === target),
      "doc_id", "text", dir)
    val want = tmp("bm25reingestwant")
    TextAnalysis.writeBm25Index(changed, "doc_id", "text", want)
    assert(rows(bm25Probe(dir)) == rows(bm25Probe(want)))
    assert(metaRow(dir) == metaRow(want))
    rm(dir); rm(want)
  }

  test("IVF delete (tombstones): probe == build on the remainder under the same pins; absent id no-op; compaction materializes") {
    val all = embs
    val (cents, bounds) = pins(all)
    val q = Similarity.prepareQueries(all.filter($"vec_id" < 5),
      "vec_id", "embedding")
    val dir = tmp("ivfdel")
    Similarity.writeIvfIndex(all, "vec_id", "embedding", dir, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    IndexMaintenance.deleteFromIndex(
      all.filter($"vec_id" % 5 === 2).select("vec_id"), "vec_id", dir)
    val want = tmp("ivfdelwant")
    Similarity.writeIvfIndex(all.filter($"vec_id" % 5 =!= 2),
      "vec_id", "embedding", want, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    assert(
      rows(Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")) ==
      rows(Similarity.queryIvfIndex(spark, want, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")))
    // the delete is a tombstone write, not a cell rewrite: the cells
    // component is byte-untouched, the manifest names the tombstones
    assert(IndexLayout.snapshot(spark, dir).names("tombstones"))
    // absent ids: no-op — no new manifest version, nothing published
    val vBefore = IndexLayout.snapshot(spark, dir).version
    IndexMaintenance.deleteFromIndex(
      Seq(999999999L).toDF("vec_id"), "vec_id", dir)
    assert(IndexLayout.snapshot(spark, dir).version == vBefore)
    // already-deleted ids retried (the crash-retry path): also a no-op
    IndexMaintenance.deleteFromIndex(
      all.filter($"vec_id" % 5 === 2).select("vec_id"), "vec_id", dir)
    assert(IndexLayout.snapshot(spark, dir).version == vBefore)
    // COMPACTION materializes the tombstones: physical rows == a build
    // on the remainder (same pins), tombstones cleared
    IndexMaintenance.compactIndex(spark, dir)
    val snapAfter = IndexLayout.snapshot(spark, dir)
    assert(!snapAfter.names("tombstones"))
    def cellRows(d: String) =
      spark.read.parquet(comp(d, "cells")).orderBy("n_id").collect().toSeq
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq,
          r.getAs[Number](2).longValue()))
    assert(cellRows(dir) == cellRows(want))
    assert(
      rows(Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")) ==
      rows(Similarity.queryIvfIndex(spark, want, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")))
    rm(dir); rm(want)

    // a cell whose every vector dies: probes stay sound, live view empty
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.1f, 0.9f)), (4L, Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val tdir = tmp("ivfdeltiny")
    Similarity.writeIvfIndex(tiny, "vec_id", "embedding", tdir, cells = 2,
      codec = Similarity.IvfCodec.Sq8(Quantization.fitBounds(tiny, "embedding")))
    IndexMaintenance.deleteFromIndex(
      Seq(2L, 3L).toDF("vec_id"), "vec_id", tdir) // the whole "near 1,1" cell
    val left = Similarity.readIvfCellsLive(
        spark, IndexLayout.snapshot(spark, tdir))
      .select("n_id").collect().map(_.getLong(0)).toSet
    assert(left == Set(1L, 4L))
    val tq = Similarity.prepareQueries(tiny.filter($"vec_id" === 1),
      "vec_id", "embedding")
    val probed = Similarity.queryIvfIndex(spark, tdir, tq, k = 10, nprobe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(probed == Set(4L))
    // deleting EVERYTHING refuses before anything publishes
    val ev = intercept[IllegalArgumentException] {
      IndexMaintenance.deleteFromIndex(
        Seq(1L, 4L).toDF("vec_id"), "vec_id", tdir)
    }
    assert(ev.getMessage.contains("empties the index"), ev.getMessage)
    rm(tdir)
  }

  test("IVF tombstoned re-append refuses; delete -> compact -> append == rebuild with changed vectors") {
    val all = embs
    val (cents, bounds) = pins(all)
    val q = Similarity.prepareQueries(all.filter($"vec_id" < 5),
      "vec_id", "embedding")
    // "changed" vectors borrow a neighbour's embedding — real corpus
    // values, so they stay inside the pinned per-dimension SQ8 bounds
    val neighbour = all.select(($"vec_id" - 1).as("vec_id"),
      $"embedding".as("emb2"))
    val changed = all.join(neighbour, Seq("vec_id"), "left")
      .select($"vec_id",
        when($"vec_id" % 7 === 3 && $"emb2".isNotNull, $"emb2")
          .otherwise($"embedding").as("embedding"))
    val dir = tmp("ivfreingest")
    Similarity.writeIvfIndex(all, "vec_id", "embedding", dir, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    IndexMaintenance.deleteFromIndex(
      all.filter($"vec_id" % 7 === 3).select("vec_id"), "vec_id", dir)
    // bare re-append of a tombstoned id refuses loudly — the stored
    // rows still exist physically and would shadow or swallow it
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(
        changed.filter($"vec_id" % 7 === 3), "vec_id", "embedding", dir)
    }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)
    // the documented composition: compact (materialize) then append
    IndexMaintenance.compactIndex(spark, dir)
    Similarity.appendToIvfIndex(
      changed.filter($"vec_id" % 7 === 3), "vec_id", "embedding", dir)
    val want = tmp("ivfreingestwant")
    Similarity.writeIvfIndex(changed, "vec_id", "embedding", want,
      cells = 16, centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    assert(
      rows(Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")) ==
      rows(Similarity.queryIvfIndex(spark, want, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")))
    rm(dir); rm(want)
  }

  test("minhash delete: probe == build on the remainder; deleted refs never surface; absent id no-op; emptying refuses") {
    val ref = docs.filter($"doc_id" % 2 === 1)
    val probe = docs.filter($"doc_id" % 2 === 0)
    def pairs(dir: String) =
      Dedup.probeMinhashIndex(spark, dir, probe, "doc_id", "text",
          threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = tmp("mhdel")
    Dedup.writeMinhashIndex(ref, "doc_id", "text", dir)
    // the spec corpus never trips the skew cap (the one regime where
    // delete∘build ≠ build-on-remainder, documented) — assert that,
    // so the equivalence below is the uncapped exact one
    val maxList = spark.read.parquet(comp(dir, "bands"))
      .select(max(size($"ids"))).collect()(0).getInt(0)
    assert(maxList < 1000, s"fixture unexpectedly capped ($maxList)")
    IndexMaintenance.deleteFromIndex(
      ref.filter($"doc_id" % 3 === 0).select("doc_id"), "doc_id", dir)
    val want = tmp("mhdelwant")
    Dedup.writeMinhashIndex(ref.filter($"doc_id" % 3 =!= 0),
      "doc_id", "text", want)
    val got = pairs(dir)
    assert(got == pairs(want))
    assert(!got.exists(_._2 % 3 == 0), "a deleted ref surfaced as a witness")
    // absent ids: no-op
    IndexMaintenance.deleteFromIndex(
      Seq(999999999L).toDF("doc_id"), "doc_id", dir)
    assert(pairs(dir) == got)
    // emptying refuses, index intact
    val e = intercept[IllegalArgumentException] {
      IndexMaintenance.deleteFromIndex(
        ref.select("doc_id"), "doc_id", dir)
    }
    assert(e.getMessage.contains("empties the index"), e.getMessage)
    assert(pairs(dir) == got)
    rm(dir); rm(want)
  }

  test("minhash append: probe(build + append) == probe(rebuild on union); overlap refuses; changed-doc delete+append == rebuild") {
    val ref = docs.filter($"doc_id" % 2 === 1)
    val refA = ref.filter($"doc_id" % 3 =!= 0)
    val refB = ref.filter($"doc_id" % 3 === 0)
    val probe = docs.filter($"doc_id" % 2 === 0)
    def pairs(dir: String) =
      Dedup.probeMinhashIndex(spark, dir, probe, "doc_id", "text",
          threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = tmp("mhapp")
    Dedup.writeMinhashIndex(refA, "doc_id", "text", dir)
    // append-cost pin: the stored bands generation is untouched by an
    // append — same resolved dir, same file set (the increment's band
    // rows land in the additive `bandrows` component instead)
    val bandsDirBefore = comp(dir, "bands")
    val bandsFilesBefore = IndexMaintenance.dataFiles(spark, bandsDirBefore)
    Dedup.appendToMinhashIndex(refB, "doc_id", "text", dir)
    assert(comp(dir, "bands") == bandsDirBefore)
    assert(IndexMaintenance.dataFiles(spark, bandsDirBefore) == bandsFilesBefore)
    assert(IndexMaintenance.dataFiles(spark, comp(dir, "bandrows")).nonEmpty)
    val want = tmp("mhappwant")
    Dedup.writeMinhashIndex(ref, "doc_id", "text", want)
    // the union build is uncapped here, so the equivalence is the
    // exact (uncapped-regime) one the doc pins
    val maxList = spark.read.parquet(comp(want, "bands"))
      .select(max(size($"ids"))).collect()(0).getInt(0)
    assert(maxList < 1000, s"fixture unexpectedly capped ($maxList)")
    assert(pairs(dir) == pairs(want))
    // LOGICAL bucket content (stored lists ∪ pending append rows)
    // equals the union build's (sets — dedup + grouping order aside)
    def bands(d: String): Map[Long, Set[Long]] = {
      val stored = spark.read.parquet(comp(d, "bands"))
        .select($"bucket", explode($"ids").as("id"))
      val brDir = comp(d, "bandrows")
      val all =
        if (IndexMaintenance.dataFiles(spark, brDir).nonEmpty)
          stored.unionByName(spark.read.parquet(brDir)) else stored
      all.collect().groupBy(_.getLong(0))
        .map { case (b, rs) => b -> rs.map(_.getLong(1)).toSet }
    }
    assert(bands(dir) == bands(want))
    // compaction folds the pending rows into a single bands generation
    // whose lists equal the union build's exactly (sorted, deduped)
    IndexMaintenance.compactIndex(spark, dir)
    assert(IndexMaintenance.dataFiles(spark, comp(dir, "bandrows")).isEmpty)
    def storedBands(d: String) = spark.read.parquet(comp(d, "bands"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(storedBands(dir) == storedBands(want))
    assert(pairs(dir) == pairs(want))
    // overlapping ids refuse
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(refB.limit(1), "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("already exist"), e.getMessage)
    rm(want)

    // changed-doc re-ingest: delete + append == rebuild with new text
    val target = ref.orderBy($"doc_id").limit(1).collect()(0).getLong(0)
    val changed = ref.withColumn("text",
      when($"doc_id" === target, concat($"text", lit(" zz yy xx ww")))
        .otherwise($"text"))
    IndexMaintenance.deleteFromIndex(
      Seq(target).toDF("doc_id"), "doc_id", dir)
    Dedup.appendToMinhashIndex(changed.filter($"doc_id" === target),
      "doc_id", "text", dir)
    val want2 = tmp("mhappwant2")
    Dedup.writeMinhashIndex(changed, "doc_id", "text", want2)
    assert(pairs(dir) == pairs(want2))
    rm(dir); rm(want2)
  }

  test("minhash guarded append: clean run == unguarded; replay no-op; compaction folds files with probes row-identical") {
    val ref = docs.filter($"doc_id" % 2 === 1)
    val refA = ref.filter($"doc_id" % 3 =!= 0)
    val refB = ref.filter($"doc_id" % 3 === 0)
    val probe = docs.filter($"doc_id" % 2 === 0)
    def pairs(dir: String) =
      Dedup.probeMinhashIndex(spark, dir, probe, "doc_id", "text",
          threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val a = tmp("mhgA"); val b = tmp("mhgB")
    Dedup.writeMinhashIndex(refA, "doc_id", "text", a)
    Dedup.appendToMinhashIndex(refB, "doc_id", "text", a)
    Dedup.writeMinhashIndex(refA, "doc_id", "text", b)
    assert(Dedup.appendToMinhashIndexGuarded(refB, "doc_id", "text", b, "crawl-1"))
    assert(pairs(b) == pairs(a))
    // replay: no-op — no new shingle files, no new bands generation
    val vBefore = IndexLayout.snapshot(spark, b).version
    val nShingles = IndexMaintenance.dataFileCount(spark, comp(b, "shingles"))
    assert(!Dedup.appendToMinhashIndexGuarded(refB, "doc_id", "text", b, "crawl-1"))
    assert(IndexLayout.snapshot(spark, b).version == vBefore)
    assert(IndexMaintenance.dataFileCount(spark, comp(b, "shingles")) == nShingles)
    // compaction: file count folds, probes row-identical, meta pins kept
    Dedup.appendToMinhashIndex(
      docs.filter($"doc_id" % 2 === 0 && $"doc_id" % 7 === 0)
        .withColumn("doc_id", $"doc_id" + 1000000L),
      "doc_id", "text", b) // a second increment to accumulate files
    val before = pairs(b)
    val stats = IndexMaintenance.compactIndex(spark, b)
    assert(stats.filesAfter < stats.filesBefore, s"got $stats")
    assert(pairs(b) == before)
    rm(a); rm(b)
  }

  test("guarded BM25 append: clean run == unguarded; committed id replays as a no-op") {
    val build = docs.filter($"doc_id" % 4 =!= 0)
    val inc = docs.filter($"doc_id" % 4 === 0)
    val a = tmp("bm25gA"); val b = tmp("bm25gB")
    TextAnalysis.writeBm25Index(build, "doc_id", "text", a)
    TextAnalysis.appendToBm25Index(inc, "doc_id", "text", a)
    TextAnalysis.writeBm25Index(build, "doc_id", "text", b)
    assert(TextAnalysis.appendToBm25IndexGuarded(inc, "doc_id", "text", b, "inc-1"))
    assert(rows(bm25Probe(b)) == rows(bm25Probe(a)))
    assert(metaRow(b) == metaRow(a))
    // replay: no-op, nothing moves, nothing double-counts
    val nPostings = spark.read.parquet(s"$b/postings").count()
    assert(!TextAnalysis.appendToBm25IndexGuarded(inc, "doc_id", "text", b, "inc-1"))
    spark.catalog.refreshByPath(s"$b/postings")
    assert(spark.read.parquet(s"$b/postings").count() == nPostings)
    assert(metaRow(b) == metaRow(a))
    rm(a); rm(b)
  }

  test("guarded BM25 append: a retry converges from crash-before-finalize and from crash-mid-move") {
    val build = docs.filter($"doc_id" % 4 =!= 0)
    val inc = docs.filter($"doc_id" % 4 === 0)
    val want = tmp("bm25gWant")
    TextAnalysis.writeBm25Index(build, "doc_id", "text", want)
    TextAnalysis.appendToBm25Index(inc, "doc_id", "text", want)
    val wantProbe = rows(bm25Probe(want))
    val wantMeta = metaRow(want)
    val wantPostings = spark.read.parquet(s"$want/postings").count()

    val dir = tmp("bm25gCrash")
    TextAnalysis.writeBm25Index(build, "doc_id", "text", dir)
    val staleMeta = spark.read.parquet(s"$dir/meta")
      .collect().toSeq // the pre-append stats, to restore as "stale"
    assert(TextAnalysis.appendToBm25IndexGuarded(inc, "doc_id", "text", dir, "inc-1"))

    def restoreStaleState(moveBackOneFile: Boolean): Unit = {
      // CRASH SNAPSHOT: files moved (all or all-but-one), meta still
      // stale, no _COMMITTED — exactly the window the unguarded append
      // documents (retrying IT would double-count the increment)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$dir/_appends/inc-1/_COMMITTED"), false)
      if (moveBackOneFile) {
        val moved = IndexMaintenance.dataFiles(spark, s"$dir/postings")
          .filter(_.startsWith("inc-1_")).head
        fs.mkdirs(new org.apache.hadoop.fs.Path(
          s"$dir/_appends/inc-1/stage/postings"))
        assert(fs.rename(
          new org.apache.hadoop.fs.Path(s"$dir/postings/$moved"),
          new org.apache.hadoop.fs.Path(
            s"$dir/_appends/inc-1/stage/postings/${moved.stripPrefix("inc-1_")}")))
      }
      // stale = the LIVE (manifest-resolved) meta still carrying the
      // pre-append stats: finalize never ran, so whatever generation
      // the manifest points at holds the old numbers
      val liveMeta = comp(dir, "meta")
      spark.createDataFrame(
          spark.sparkContext.parallelize(staleMeta, 1),
          spark.read.parquet(liveMeta).schema)
        .coalesce(1).write.mode("overwrite").parquet(liveMeta)
      for (p <- Seq("postings", "dl", "meta"))
        spark.catalog.refreshByPath(comp(dir, p))
    }

    // crash BEFORE finalize (meta rewrite): retry re-moves nothing,
    // recomputes the stats, commits — no double count
    restoreStaleState(moveBackOneFile = false)
    assert(metaRow(dir) != wantMeta) // the stale state is really stale
    assert(TextAnalysis.appendToBm25IndexGuarded(inc, "doc_id", "text", dir, "inc-1"))
    assert(spark.read.parquet(s"$dir/postings").count() == wantPostings)
    assert(metaRow(dir) == wantMeta)
    assert(rows(bm25Probe(dir)) == wantProbe)

    // crash MID-MOVE: one staged file not yet moved; retry moves just
    // it, recomputes, commits — still exactly-once
    restoreStaleState(moveBackOneFile = true)
    assert(TextAnalysis.appendToBm25IndexGuarded(inc, "doc_id", "text", dir, "inc-1"))
    assert(spark.read.parquet(s"$dir/postings").count() == wantPostings)
    assert(metaRow(dir) == wantMeta)
    assert(rows(bm25Probe(dir)) == wantProbe)
    rm(dir); rm(want)
  }

  test("guarded IVF appends: clean run == plain append; replay no-op; stage-time bounds refusal") {
    val all = embs
    val (cents, bounds) = pins(all)
    val q = Similarity.prepareQueries(all.filter($"vec_id" < 5),
      "vec_id", "embedding")
    val inc = all.filter($"vec_id" % 4 === 0)
    // every codec goes through the one guarded form
    for (codec <- Seq(Similarity.IvfCodec.Float, Similarity.IvfCodec.Sq8(bounds),
        Similarity.IvfCodec.Pq(
          Quantization.trainPqCodebook(all, "vec_id", "embedding", 8, 16)))) {
      val a = tmp("ivfgA"); val b = tmp("ivfgB")
      for (d <- Seq(a, b))
        Similarity.writeIvfIndex(all.filter($"vec_id" % 4 =!= 0),
          "vec_id", "embedding", d, cells = 16,
          centroids0 = Some(cents), codec = codec)
      Similarity.appendToIvfIndex(inc, "vec_id", "embedding", a)
      assert(Similarity.appendToIvfIndexGuarded(inc, "vec_id", "embedding", b, "day-1"))
      val want = rows(Similarity.queryIvfIndex(spark, a, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank"))
      assert(want.nonEmpty)
      assert(rows(Similarity.queryIvfIndex(spark, b, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")) == want, codec.productPrefix)
      val n = spark.read.parquet(s"$b/cells").count()
      assert(!Similarity.appendToIvfIndexGuarded(inc, "vec_id", "embedding", b, "day-1"))
      spark.catalog.refreshByPath(s"$b/cells")
      assert(spark.read.parquet(s"$b/cells").count() == n, codec.productPrefix)
      rm(a); rm(b)
    }

    // bounds drift refuses at STAGE time — the live index is untouched
    val base = Seq((1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val dir = tmp("ivfgdrift")
    Similarity.writeIvfIndex(base, "vec_id", "embedding", dir, cells = 2,
      codec = Similarity.IvfCodec.Sq8(Quantization.fitBounds(base, "embedding")))
    val beforeN = spark.read.parquet(s"$dir/cells").count()
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndexGuarded(
        Seq((9L, Array(0.5f, 2.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir, "bad-1")
    }
    assert(e.getMessage.contains("pinned SQ8 bounds"), e.getMessage)
    spark.catalog.refreshByPath(s"$dir/cells")
    assert(spark.read.parquet(s"$dir/cells").count() == beforeN)
    rm(dir)
  }

  test("over-budget takedown sets take the shuffle path and delete exactly (never a broadcast-ceiling failure)") {
    // the size guard itself: an id side over the broadcast budget pins
    // a shuffle join; a small one broadcasts (the plan-level contract
    // every tombstone/takedown join in this file rides on)
    val bigSide = Similarity.sizedIdSide(
      spark.range(Dedup.BroadcastSafeRows + 1).select($"id".as("n_id")))
    val bigPlan = spark.range(10).select($"id".as("n_id"))
      .join(bigSide, Seq("n_id"), "left_semi")
      .queryExecution.executedPlan.toString
    assert(!bigPlan.contains("BroadcastHashJoin"), bigPlan)
    val smallSide = Similarity.sizedIdSide(
      spark.range(10).select($"id".as("n_id")))
    val smallPlan = spark.range(10).select($"id".as("n_id"))
      .join(smallSide, Seq("n_id"), "left_semi")
      .queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastHashJoin"), smallPlan)

    // end to end: a crawl-refresh-scale delete set (present ids ∪
    // 300k absent ids — real count over the budget) completes via the
    // shuffle path with results identical to the small-set delete
    val all = embs
    val (cents, bounds) = pins(all)
    val q = Similarity.prepareQueries(all.filter($"vec_id" < 5),
      "vec_id", "embedding")
    val dir = tmp("ivfbigdel")
    Similarity.writeIvfIndex(all, "vec_id", "embedding", dir, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    val bigDel = all.filter($"vec_id" % 5 === 2).select($"vec_id")
      .unionByName(spark.range(10000000L, 10300000L).select($"id".as("vec_id")))
    IndexMaintenance.deleteFromIndex(bigDel, "vec_id", dir)
    val want = tmp("ivfbigdelwant")
    Similarity.writeIvfIndex(all.filter($"vec_id" % 5 =!= 2),
      "vec_id", "embedding", want, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    assert(
      rows(Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")) ==
      rows(Similarity.queryIvfIndex(spark, want, q, k = 10, nprobe = 4)
        .orderBy("q_id", "rank")))
    rm(dir); rm(want)
  }

  test("IVF delete with duplicated stored ids: the emptiness guard compares distinct-to-distinct and refuses an all-dead publish") {
    import org.apache.spark.sql.functions.col
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val dir = tmp("ivfdupdel")
    Similarity.writeIvfIndex(tiny, "vec_id", "embedding", dir, cells = 2,
      codec = Similarity.IvfCodec.Sq8(Quantization.fitBounds(tiny, "embedding")))
    // IVF appends never dedup ids — duplicate id 2 physically
    Similarity.appendToIvfIndex(
      Seq((2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    spark.catalog.refreshByPath(s"$dir/cells")
    assert(spark.read.parquet(s"$dir/cells").count() == 3) // 2 distinct, 3 rows
    // deleting both distinct ids would leave 1 physical row but ZERO
    // live vectors — must refuse, not publish an index whose probes
    // all return empty
    val e = intercept[IllegalArgumentException] {
      IndexMaintenance.deleteFromIndex(
        Seq(1L, 2L).toDF("vec_id"), "vec_id", dir)
    }
    assert(e.getMessage.contains("empties the index"), e.getMessage)
    // nothing was published
    assert(!IndexLayout.snapshot(spark, dir).names("tombstones"))
    rm(dir)
  }

  test("maintainIndex (IVF): the policy fires exactly at its thresholds and compaction preserves probes") {
    val all = embs
    val (cents, bounds) = pins(all)
    val q = Similarity.prepareQueries(all.filter($"vec_id" < 5),
      "vec_id", "embedding")
    val dir = tmp("ivfmaint")
    Similarity.writeIvfIndex(all, "vec_id", "embedding", dir, cells = 16,
      centroids0 = Some(cents), codec = Similarity.IvfCodec.Sq8(bounds))
    val never = IndexMaintenance.MaintenancePolicy(
      maxPendingFraction = 2.0, maxFileBloat = 1e9)
    assert(IndexMaintenance.maintainIndex(spark, dir, never).compacted.isEmpty)

    // tombstone-fraction trigger, pinned EXACTLY at the threshold:
    // fraction = dead/distinct; at == it fires, just above it doesn't
    val nIds = all.count()
    IndexMaintenance.deleteFromIndex(
      all.filter($"vec_id" % 5 === 2).select("vec_id"), "vec_id", dir)
    val nDead = spark.read.parquet(
      IndexLayout.snapshot(spark, dir).dir("tombstones")).count()
    val frac = nDead.toDouble / nIds
    val before = rows(Similarity.queryIvfIndex(spark, dir, q,
      k = 10, nprobe = 4).orderBy("q_id", "rank"))
    val quiet = IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(
        maxPendingFraction = frac + 1e-9, maxFileBloat = 1e9))
    assert(quiet.compacted.isEmpty)
    // the decision record carries the measured debt it compared
    assert(quiet.family == "ivf" && quiet.pendingFraction == frac, quiet)
    val st = IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(
        maxPendingFraction = frac, maxFileBloat = 1e9))
    assert(st.compacted.nonEmpty, "policy at the exact threshold must fire")
    assert(st.pendingFraction == frac, st)
    // compaction materialized the tombstones; probes identical
    assert(!IndexLayout.snapshot(spark, dir).names("tombstones"))
    assert(rows(Similarity.queryIvfIndex(spark, dir, q,
      k = 10, nprobe = 4).orderBy("q_id", "rank")) == before)

    // files-per-cell trigger, same exactness: threshold == the real
    // ratio fires, anything above it does not
    Similarity.appendToIvfIndex( // accumulate small files (a real
      // corpus vector re-keyed — guaranteed inside the pinned bounds)
      all.filter($"vec_id" === 7)
        .select(lit(10000001L).as("vec_id"), $"embedding"),
      "vec_id", "embedding", dir)
    val snap = IndexLayout.snapshot(spark, dir)
    val files = IndexMaintenance.dataFileCount(spark, snap.dir("cells"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val cells = fs.listStatus(new org.apache.hadoop.fs.Path(snap.dir("cells")))
      .count(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
    val ratio = files.toDouble / cells
    val quietFiles = IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(
        maxPendingFraction = 2.0, maxFileBloat = ratio + 1e-9))
    assert(quietFiles.compacted.isEmpty)
    assert(quietFiles.fileBloat == ratio && quietFiles.pendingFraction == 0.0, quietFiles)
    assert(IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(
        maxPendingFraction = 2.0, maxFileBloat = ratio)).compacted.nonEmpty)
    rm(dir)
  }

  // the policies' debt metrics recomputed from the documented
  // CONTRACT (files ÷ one-file-per-maxPartitionBytes), independent of
  // the implementation — exact-threshold pins compare against these
  private def compBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
  private def byteTarget(bytes: Long): Long = {
    val maxPB = spark.sessionState.conf.filesMaxPartitionBytes
    math.max(1L, (bytes + maxPB - 1) / maxPB)
  }

  test("maintainIndex (BM25): the file-bloat policy fires exactly at its threshold and compaction preserves probes") {
    val dir = tmp("bm25maint")
    TextAnalysis.writeBm25Index(docs.filter($"doc_id" % 4 =!= 0),
      "doc_id", "text", dir)
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" % 8 === 0),
      "doc_id", "text", dir)
    TextAnalysis.appendToBm25Index(docs.filter($"doc_id" % 8 === 4),
      "doc_id", "text", dir)
    val before = rows(bm25Probe(dir))
    assert(IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(maxFileBloat = 1e9)).compacted.isEmpty)
    // exact-threshold pin against the recomputed bloat ratio
    val files = IndexMaintenance.dataFileCount(spark, comp(dir, "postings")) +
      IndexMaintenance.dataFileCount(spark, comp(dir, "dl"))
    val ratio = files.toDouble / (byteTarget(compBytes(comp(dir, "postings"))) +
      byteTarget(compBytes(comp(dir, "dl"))))
    assert(ratio > 1.0, s"fixture accumulated no bloat ($ratio)")
    val quiet = IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(maxFileBloat = ratio + 1e-9))
    assert(quiet.compacted.isEmpty)
    assert(quiet.family == "bm25" && quiet.fileBloat == ratio &&
      quiet.pendingFraction == 0.0, quiet)
    val st = IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(maxFileBloat = ratio))
    assert(st.compacted.nonEmpty, "policy at the exact threshold must fire")
    assert(st.fileBloat == ratio, st)
    assert(st.compacted.get.filesAfter < st.compacted.get.filesBefore, s"got $st")
    assert(rows(bm25Probe(dir)) == before) // every score bit identical
    // debt folded: the same threshold is quiet now
    assert(IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(maxFileBloat = ratio)).compacted.isEmpty)
    rm(dir)
  }

  test("maintainIndex (MinHash): pending-fraction and file-bloat triggers fire exactly; probes preserved across the fold") {
    val ref = docs.filter($"doc_id" % 2 === 1)
    val refA = ref.filter($"doc_id" % 3 =!= 0)
    val refB = ref.filter($"doc_id" % 3 === 0)
    val probe = docs.filter($"doc_id" % 2 === 0)
    def pairs() =
      Dedup.probeMinhashIndex(spark, dir, probe, "doc_id", "text",
          threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    lazy val dir = tmp("mhmaint")
    Dedup.writeMinhashIndex(refA, "doc_id", "text", dir)
    assert(IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(2.0, 1e9)).compacted.isEmpty)
    Dedup.appendToMinhashIndex(refB, "doc_id", "text", dir)
    // fixture never trips the skew cap, so probes before and after
    // the fold are the same exact (uncapped) pair set
    val maxList = spark.read.parquet(comp(dir, "bands"))
      .select(max(size($"ids"))).collect()(0).getInt(0)
    assert(maxList < 1000, s"fixture unexpectedly capped ($maxList)")
    val got = pairs()
    // pending-fraction trigger pinned exactly at the recomputed debt
    val pend = compBytes(comp(dir, "bandrows")).toDouble /
      math.max(compBytes(comp(dir, "bands")), 1L)
    assert(pend > 0.0, "append left no pending bandrows")
    val quiet = IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(pend + 1e-9, 1e9))
    assert(quiet.compacted.isEmpty)
    assert(quiet.family == "minhash" && quiet.pendingFraction == pend, quiet)
    val st = IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(pend, 1e9))
    assert(st.compacted.nonEmpty, "policy at the exact pending threshold must fire")
    assert(st.pendingFraction == pend, st)
    assert(pairs() == got) // the fold changed no probe answer
    // pending debt cleared: the fraction trigger is quiet, and the
    // file-bloat trigger pins exactly against the folded layout
    assert(IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(pend, 1e9)).compacted.isEmpty)
    val files = Seq("shingles", "bands", "bandrows")
      .map(c => IndexMaintenance.dataFileCount(spark, comp(dir, c))).sum
    val bloat = files.toDouble /
      (byteTarget(compBytes(comp(dir, "shingles"))) +
        byteTarget(compBytes(comp(dir, "bands")) +
          compBytes(comp(dir, "bandrows"))))
    val quietBloat = IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(2.0, bloat + 1e-9))
    assert(quietBloat.compacted.isEmpty)
    assert(quietBloat.fileBloat == bloat && quietBloat.pendingFraction == 0.0, quietBloat)
    assert(IndexMaintenance.maintainIndex(spark, dir,
      IndexMaintenance.MaintenancePolicy(2.0, bloat)).compacted.nonEmpty)
    assert(pairs() == got)
    rm(dir)
  }
}

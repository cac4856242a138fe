package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Persisted MinHash dedup index: build-once over a reference corpus,
  * probe-many — probing must equal the inline bipartite dedup
  * (minhashPairsAgainst) on the same split, read banding parameters
  * from the index meta, and reuse the STORED reference shingles. */
class MinhashIndexSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf())
  private lazy val path = {
    val p = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_mhindex_spec_${java.util.UUID.randomUUID}").getAbsolutePath
    Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
    p
  }

  test("probe equals the inline bipartite dedup on the same split") {
    val probe = Dedup.probeMinhashIndex(spark, path,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12))).toSet
    val inline = Dedup.minhashPairsAgainst(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12))).toSet
    assert(probe.nonEmpty, "fixture should contain cross-split near-dups")
    assert(probe == inline)
  }

  test("meta pins the banding parameters") {
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    assert(meta.getAs[Int]("shingleN") == 3)
    assert(meta.getAs[Int]("numHashes") == 64)
    assert(meta.getAs[Int]("bandRows") == 2)
    assert(meta.getAs[Int]("maxBucketSize") == 1000)
  }

  test("stored shingle identities equal a fresh recompute (same hashing as the signatures)") {
    val stored = spark.read.parquet(s"$path/shingles")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val fresh = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(stored == fresh)
  }

  test("small probe broadcasts; the stored band table is not a broadcast build side") {
    val plan = Dedup.probeMinhashIndex(spark, path,
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("degenerate reference buckets are capped at build, not at probe") {
    val s2 = spark
    import s2.implicits._
    // 50 identical reference docs -> every band bucket holds all 50
    // ids; cap 10 drops them at build so the index carries no
    // degenerate bucket and probing yields no candidates from them
    val ref = (0 until 50).map(i => (i.toLong, "x y z x y z")).toDF("doc_id", "text")
    val p2 = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_mhindex_cap_${java.util.UUID.randomUUID}").getAbsolutePath
    Dedup.writeMinhashIndex(ref, "doc_id", "text", p2, maxBucketSize = 10)
    assert(spark.read.parquet(s"$p2/bands").count() == 0)
    val probe = (100 until 102).map(i => (i.toLong, "x y z x y z")).toDF("doc_id", "text")
    assert(Dedup.probeMinhashIndex(spark, p2, probe, "doc_id", "text").count() == 0)
  }

  test("in-place rebuild over an appended index carries NO stale pending band rows (bare and compacted-lifecycle variants)") {
    val oddDocs = docs.filter(col("doc_id") % 2 === 1)
    val evenDocs = docs.filter(col("doc_id") % 2 === 0)
    def rows(p: String) = Dedup.probeMinhashIndex(spark, p, evenDocs,
        "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e12))).toSet
    val fresh = rows(path) // the build-once fixture, never appended

    // bare-lifecycle variant: build on a subset, append docs NOT in
    // the eventual rebuild (bandrows lands bare holding ids the
    // rebuild never indexes — the resurrection hazard), then rebuild
    val p3 = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_mhindex_rb_${java.util.UUID.randomUUID}").getAbsolutePath
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 4 === 1),
      "doc_id", "text", p3)
    Dedup.appendToMinhashIndex(evenDocs, "doc_id", "text", p3)
    Dedup.writeMinhashIndex(oddDocs, "doc_id", "text", p3)
    val st = Dedup.loadMinhashIndex(spark, p3)
    assert(st.pendingBandRows.isEmpty ||
      st.pendingBandRows.get.limit(1).count() == 0,
      "rebuild resurrected the pre-rebuild lifecycle's pending band rows")
    assert(rows(p3) == fresh,
      "rebuilt index diverges from a fresh build on the same reference")

    // compacted-lifecycle variant: the pending rows were folded and
    // bandrows re-pointed before the rebuild — the manifest reset must
    // not resolve any pre-rebuild bytes either
    val p4 = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_mhindex_rb2_${java.util.UUID.randomUUID}").getAbsolutePath
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 4 === 1),
      "doc_id", "text", p4)
    Dedup.appendToMinhashIndex(evenDocs, "doc_id", "text", p4)
    IndexMaintenance.compactIndex(spark, p4)
    Dedup.writeMinhashIndex(oddDocs, "doc_id", "text", p4)
    val st2 = Dedup.loadMinhashIndex(spark, p4)
    assert(st2.pendingBandRows.isEmpty ||
      st2.pendingBandRows.get.limit(1).count() == 0)
    assert(rows(p4) == fresh)

    for (p <- Seq(p3, p4))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
  }
}

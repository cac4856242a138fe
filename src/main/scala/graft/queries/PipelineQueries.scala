package graft.queries

import graft.Tables
import graft.operators.{AsofJoin, BloomJoin, Dedup, Funnel, MediaFixtures, Multimodal, Pii, RangeJoin, SaltedJoin, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver queries for the large-scale pipeline operators (SURVEY §2.H)
  * over the `documents` / `embeddings` tables.
  *
  * Oracle notes: every SQL-expressible op has a DuckDB mirror built to
  * be bit-identical — int/int double divisions, sequential-fold
  * cosines, identical CASE ordering. Probabilistic-recall ops
  * (simhash buckets beyond SQL, hyperplane LSH, winnowing) are
  * rows-only here and exactness-tested in ScalaTest instead.
  */
object PipelineQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  private def embs(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  // ---- dedup ----

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(docs(s, d), "doc_id", "text").orderBy("doc_id")

  val dedupExactSql: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY 1""".stripMargin

  /** Streaming exact dedup under the correctness gate: documents
    * staged as 4 parquet files, consumed one file per AvailableNow
    * micro-batch through `StreamingDedup.dropDuplicateTexts` (append
    * mode, parquet sink), then the sink is read back. Synthetic event
    * times span one minute — far inside the 1 h watermark horizon —
    * so no state is ever evicted and the stream must emit each
    * distinct text EXACTLY once across batches; any double-emit or
    * drop breaks the rowcount/hash match vs `SELECT DISTINCT`. */
  def streamDedup(s: SparkSession, d: String): DataFrame = synchronized {
    // The streaming parquet sink creates _spark_metadata at the FIRST
    // batch commit, not at stream completion, so the whole run (staged
    // input, checkpoint, sink) is one fixture, sealed only after
    // awaitTermination() returns — a crashed or concurrent run's
    // partial output is never read as complete.
    val root = GateFixture.buildOnce("graft_streamdedup_v4", d) { staging =>
      val stage = s"$staging/stage"
      docs(s, d)
        .select(
          timestamp_millis(lit(1700000000000L) + (col("doc_id") % 60) * 1000).as("ts"),
          col("text"))
        .repartition(4)
        .write.mode("overwrite").parquet(stage)
      val schema = s.read.parquet(stage).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      graft.streaming.StreamingDedup.dropDuplicateTexts(src, "ts", "text")
        .select(col("text"))
        .writeStream.format("parquet")
        .option("path", s"$staging/out")
        .option("checkpointLocation", s"$staging/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      // the sink's _spark_metadata log records ABSOLUTE staging paths;
      // after promotion it would point at deleted files. The stream is
      // complete, so drop the log and read the dir as plain parquet.
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$staging/out/_spark_metadata"))
    }
    s.read.parquet(s"$root/out").orderBy("text")
  }

  val streamDedupSql: String =
    "SELECT DISTINCT text FROM documents ORDER BY text"

  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPairs(docs(s, d), "doc_id", "text",
      shingleN = 3, numHashes = 64, bandRows = 2, threshold = 0.8)
      .orderBy("a_id", "b_id")

  /** All-pairs shingle Jaccard ≥ 0.8 — equals LSH+verify output because
    * the r=2,b=32 miss probability at 0.8 is 0.36^32 ≈ 7e-15 (and the
    * exact-Jaccard verify removes every false positive), so over the
    * full pair space the expected miss count is ≪ 1. */
  val dedupMinhashSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, greatest(len(words)-1, 1)),
      |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) sh
      |      FROM t)
      |SELECT a_id, b_id, jaccard FROM (
      |  SELECT a.doc_id a_id, b.doc_id b_id,
      |    len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      len(list_distinct(list_concat(a.sh, b.sh))) jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.8
      |ORDER BY a_id, b_id""".stripMargin

  /** Fuzzy dedup at an exact edit budget: the Jaccard ≥ 0.8 candidates
    * verified with the banded byte Levenshtein at maxEdits = 4 — on
    * the sf0.01 fixture 24 of the 25 near-dup pairs are genuine
    * ≤4-edit revisions and pass; the (45,267) pair sits at 8 edits and
    * is REJECTED, so the gate certifies both directions of the verify. */
  def dedupEdit(s: SparkSession, d: String): DataFrame =
    Dedup.editPairs(docs(s, d), "doc_id", "text",
      maxEdits = 4, threshold = 0.8)
      .orderBy("a_id", "b_id")

  /** All-pairs `jaccard ≥ 0.8 AND levenshtein ≤ 4` — equals LSH+verify
    * for the same miss-probability reason as [[dedupMinhashSql]];
    * DuckDB's levenshtein is byte-based, exactly the operator's
    * convention (see EditDistanceWithin). The edit filter applies
    * AFTER the Jaccard cut so the quadratic DP only ever runs on the
    * ~25 surviving pairs. */
  val dedupEditSql: String =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') words FROM documents),
      |s AS (SELECT doc_id, text,
      |        list_distinct(list_transform(range(1, greatest(len(words)-1, 1)),
      |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) sh
      |      FROM t),
      |p AS (SELECT a_id, b_id, jaccard, ta, tb FROM (
      |  SELECT a.doc_id a_id, b.doc_id b_id,
      |    len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      len(list_distinct(list_concat(a.sh, b.sh))) jaccard,
      |    a.text ta, b.text tb
      |  FROM s a, s b WHERE a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.8)
      |SELECT a_id, b_id, jaccard, CAST(edits AS INT) AS edits
      |FROM (SELECT a_id, b_id, jaccard, levenshtein(ta, tb) AS edits FROM p)
      |WHERE edits <= 4
      |ORDER BY a_id, b_id""".stripMargin

  /** Cross-corpus dedup: even-doc_id docs are the "new crawl", odd
    * doc_ids the "existing training set" — near-dup pairs BETWEEN the
    * two (12 of the 25 sf0.01 near-dup pairs cross the split). */
  def dedupCross(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    Dedup.minhashPairsAgainst(
      all.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      all.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      threshold = 0.8)
      .orderBy("corpus_id", "ref_id")
  }

  /** All cross-split pairs at exact Jaccard ≥ 0.8 — equals the
    * bipartite LSH+verify output for the same miss-probability reason
    * as [[dedupMinhashSql]]. */
  val dedupCrossSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, greatest(len(words)-1, 1)),
      |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) sh
      |      FROM t)
      |SELECT corpus_id, ref_id, jaccard FROM (
      |  SELECT a.doc_id corpus_id, b.doc_id ref_id,
      |    len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      len(list_distinct(list_concat(a.sh, b.sh))) jaccard
      |  FROM s a, s b
      |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
      |WHERE jaccard >= 0.8
      |ORDER BY corpus_id, ref_id""".stripMargin

  /** Incremental dedup against a PERSISTED MinHash index (build-once,
    * probe-many — the production "dedup the new crawl" shape): odd
    * docs are indexed once (bands + stored 64-bit shingle identities +
    * pinned banding meta), even docs probe it. Same split and
    * threshold as q_dedup_cross, so the SAME string-keyed all-pairs
    * oracle applies — which also makes any shingle-hash collision a
    * loud gate failure. The index is a build-once [[GateFixture]]. */
  def dedupIndexQ(s: SparkSession, d: String): DataFrame = synchronized {
    Dedup.probeMinhashIndex(s, mhIndex(s, d),
        docs(s, d).filter(col("doc_id") % 2 === 0), "doc_id", "text",
        threshold = 0.8)
      .orderBy("corpus_id", "ref_id")
  }

  /** The odd-docs MinHash index shared by q_dedup_index and
    * q_stream_index_dedup. */
  private def mhIndex(s: SparkSession, d: String): String =
    GateFixture.buildOnce("graft_mhindex_v2", d) { dir =>
      Dedup.writeMinhashIndex(
        docs(s, d).filter(col("doc_id") % 2 === 1), "doc_id", "text", dir.getPath)
    }.getPath

  val dedupIndexSql: String = dedupCrossSql

  /** MinHash index APPEND + COMPACTION under the driver gate — the
    * increment path that completes the third index family's
    * lifecycle: the index is built on 2/3 of the reference corpus
    * (odd doc_ids with doc_id % 3 ≠ 0), the remaining third arrives
    * via the GUARDED appendToMinhashIndexGuarded (increment-sized:
    * the stored bands are never read or rewritten — the increment's
    * band rows land in the additive `bandrows` component,
    * marker-fenced), then compactMinhashIndex folds pending rows and
    * accumulated files back to the build shape (file shrink asserted
    * loudly in-gate), and IndexLayout.vacuumIndex reclaims the
    * superseded generations (file-count drop asserted in-gate) — the
    * FULL lifecycle, build → guarded append → compact → vacuum →
    * probe, under one oracle. Because the append carries exact id
    * sets, the probe equals a from-scratch build on the FULL odd
    * reference — the SAME string-keyed all-pairs oracle as
    * q_dedup_index value-checks every surviving pair and Jaccard
    * bit. */
  def dedupIndexAppend(s: SparkSession, d: String): DataFrame = synchronized {
    val root = GateFixture.buildOnce("graft_mhindexapp_v2", d) { dir =>
      val idx = dir.getPath
      val ref = docs(s, d).filter(col("doc_id") % 2 === 1)
      Dedup.writeMinhashIndex(
        ref.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", idx)
      require(Dedup.appendToMinhashIndexGuarded(
        ref.filter(col("doc_id") % 3 === 0), "doc_id", "text", idx, "crawl-1"))
      val stats = graft.operators.IndexMaintenance.compactMinhashIndex(s, idx)
      require(stats.filesAfter < stats.filesBefore,
        s"q_dedup_index_append: compaction did not shrink the index — $stats")
      // vacuum closes the lifecycle: the superseded pre-compact
      // generations (bare bands/shingles, the folded bandrows dir)
      // stop costing storage; the probe below certifies identity
      def allFiles() = graft.operators.IndexMaintenance.dataFiles(s, idx).size
      val filesBeforeVacuum = allFiles()
      val vstats = graft.operators.IndexLayout.vacuumIndex(s, idx, keepVersions = 1)
      require(vstats.droppedDirs.nonEmpty && allFiles() < filesBeforeVacuum,
        s"q_dedup_index_append: vacuum reclaimed nothing — $vstats")
    }
    Dedup.probeMinhashIndex(s, root.getPath,
        docs(s, d).filter(col("doc_id") % 2 === 0), "doc_id", "text",
        threshold = 0.8)
      .orderBy("corpus_id", "ref_id")
  }

  val dedupIndexAppendSql: String = dedupCrossSql

  /** STREAMING incremental dedup against the persisted MinHash index:
    * the even docs ("new crawl") staged as 4 parquet files, consumed
    * one file per AvailableNow micro-batch, each batch probed against
    * the odd-docs index and only no-near-dup rows appended to the
    * sink. Batch independence (the index is fixed) makes the stream
    * output equal the batch anti-join regardless of batch boundaries
    * — the oracle is the plain set-difference SQL. The whole run is
    * one [[GateFixture]], like q_stream_dedup. */
  def streamIndexDedup(s: SparkSession, d: String): DataFrame = synchronized {
    val idxBase = mhIndex(s, d)
    val root = GateFixture.buildOnce("graft_streamidx_v2", d) { staging =>
      val stage = s"$staging/stage"
      docs(s, d).filter(col("doc_id") % 2 === 0)
        .repartition(4)
        .write.mode("overwrite").parquet(stage)
      val schema = s.read.parquet(stage).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      graft.streaming.StreamingIndexDedup.run(s, src, idxBase,
        "doc_id", "text", threshold = 0.8,
        sinkPath = s"$staging/out", checkpoint = s"$staging/ckpt")
    }
    s.read.parquet(s"$root/out").orderBy("doc_id")
  }

  /** Even docs minus those with an odd-side Jaccard ≥ 0.8 near-dup —
    * the batch anti-join the stream must reproduce batch-by-batch. */
  val streamIndexDedupSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, greatest(len(words)-1, 1)),
      |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) sh
      |      FROM t),
      |dup AS (SELECT DISTINCT a.doc_id FROM s a, s b
      |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
      |    AND len(list_intersect(a.sh, b.sh))::DOUBLE /
      |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8)
      |SELECT doc_id, text, lang, source, n_chars FROM documents
      |WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM dup)
      |ORDER BY doc_id""".stripMargin

  def dedupClusters(s: SparkSession, d: String): DataFrame =
    graft.operators.Dedup.clusters(docs(s, d), "doc_id", "text", threshold = 0.8)
      .orderBy("doc_id")

  /** Connected components of the Jaccard≥0.8 graph via recursive CTE —
    * min reachable id per node, singletons keep their own id. */
  val dedupClustersSql: String =
    """WITH RECURSIVE
      |t AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, greatest(len(words)-1, 1)),
      |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) sh
      |      FROM t),
      |e AS (SELECT a_id, b_id FROM (
      |  SELECT a.doc_id a_id, b.doc_id b_id,
      |    len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      len(list_distinct(list_concat(a.sh, b.sh))) jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.8),
      |und(v, nbr) AS (SELECT a_id, b_id FROM e UNION SELECT b_id, a_id FROM e),
      |cc(v, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT und.nbr, cc.lbl FROM cc JOIN und ON cc.v = und.v)
      |SELECT v AS doc_id, min(lbl) AS cluster_id
      |FROM cc GROUP BY v ORDER BY doc_id""".stripMargin

  /** Canonical pick per near-dup cluster: longest member wins
    * (n_chars desc, doc_id asc) — the real pipelines' keep rule. The
    * mirror replays the recursive-CTE components plus a window argmax
    * over the joined scores. */
  def canonicalPickQ(s: SparkSession, d: String): DataFrame =
    Dedup.canonicalPerCluster(docs(s, d), "doc_id", "text", "n_chars",
        threshold = 0.8)
      .orderBy("cluster_id")

  val canonicalPickSql: String =
    """WITH RECURSIVE
      |t AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, greatest(len(words)-1, 1)),
      |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) sh
      |      FROM t),
      |e AS (SELECT a_id, b_id FROM (
      |  SELECT a.doc_id a_id, b.doc_id b_id,
      |    len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      len(list_distinct(list_concat(a.sh, b.sh))) jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id)
      |  WHERE jaccard >= 0.8),
      |und(v, nbr) AS (SELECT a_id, b_id FROM e UNION SELECT b_id, a_id FROM e),
      |cc(v, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT und.nbr, cc.lbl FROM cc JOIN und ON cc.v = und.v),
      |cl AS (SELECT v AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY v),
      |j AS (SELECT cl.cluster_id, d.doc_id, d.n_chars
      |      FROM cl JOIN documents d USING (doc_id)),
      |r AS (SELECT cluster_id, doc_id,
      |        row_number() OVER (PARTITION BY cluster_id
      |                           ORDER BY n_chars DESC, doc_id) rn,
      |        count(*) OVER (PARTITION BY cluster_id) n
      |      FROM j)
      |SELECT cluster_id, doc_id AS keep_id, CAST(n AS BIGINT) AS n_members
      |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** Cluster-hashed train/val split under the driver gate: every
    * near-dup component lands whole on one side (val can never hold a
    * near-duplicate of a train doc). The mirror replays the recursive
    * components, the seeded xxhash64 (SqlHash HUGEINT steps) and the
    * pmod bucketing, so membership AND the exact bucket of every doc
    * are value-checked. */
  def leakageSplitQ(s: SparkSession, d: String): DataFrame =
    Dedup.leakageSafeSplit(docs(s, d), "doc_id", "text",
        threshold = 0.8, valPct = 10, seed = 7L)
      .orderBy("doc_id")

  val leakageSplitSql: String = {
    val steps = SqlHash.xxh64LongSteps("hx", "cl", "cluster_id",
      keep = Seq("doc_id", "cluster_id"), seed = 7L, out = "h")
    val sgn = SqlHash.toSigned("h")
    s"""WITH RECURSIVE
       |t AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
       |s AS (SELECT doc_id,
       |        list_distinct(list_transform(range(1, greatest(len(words)-1, 1)),
       |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) sh
       |      FROM t),
       |e AS (SELECT a_id, b_id FROM (
       |  SELECT a.doc_id a_id, b.doc_id b_id,
       |    len(list_intersect(a.sh, b.sh))::DOUBLE /
       |      len(list_distinct(list_concat(a.sh, b.sh))) jaccard
       |  FROM s a, s b WHERE a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.8),
       |und(v, nbr) AS (SELECT a_id, b_id FROM e UNION SELECT b_id, a_id FROM e),
       |cc(v, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT und.nbr, cc.lbl FROM cc JOIN und ON cc.v = und.v),
       |cl AS (SELECT v AS doc_id, min(lbl) AS cluster_id FROM cc GROUP BY v),
       |$steps,
       |b AS (SELECT doc_id, cluster_id,
       |        ((($sgn % 100) + 100) % 100)::INT AS bucket FROM hx)
       |SELECT doc_id, cluster_id, bucket,
       |  CASE WHEN bucket < 90 THEN 'train' ELSE 'val' END AS split
       |FROM b ORDER BY doc_id""".stripMargin
  }

  /** SimHash hamming ≤ 3 pairs. The chunk-combination bucketing is
    * lossless for numChunks > maxHamming, so the engine's output must
    * EQUAL brute force — which the oracle recomputes in DuckDB from
    * scratch: per-token FNV-1a (HUGEINT mod-2^64), per-bit sign sums,
    * then all-pairs hamming via xor + bit_count. Any bucketing recall
    * loss breaks the hash match. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 3)
      .orderBy("a_id", "b_id")

  val dedupSimhashSql: String = {
    // the engine's fnv64 hashes UTF-8 BYTES — expand each token to its
    // byte values so the mirror is exact for non-ASCII text too
    val fnvTok = SqlHash.fnv1aSql(SqlHash.utf8Codes("t"))
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |             FROM documents),
       |th AS (SELECT doc_id, $fnvTok AS hu FROM tok),
       |bitsum AS (SELECT doc_id, rb.range AS b,
       |    sum(CASE WHEN (hu // (1::HUGEINT << rb.range)) % 2 = 1
       |             THEN 1 ELSE -1 END) AS s
       |  FROM th, range(64) rb GROUP BY 1, 2),
       |shu AS (SELECT doc_id,
       |    sum(CASE WHEN s > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS hu
       |  FROM bitsum GROUP BY doc_id),
       |sh AS (SELECT doc_id, ${SqlHash.toSigned("hu")} AS sh FROM shu)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY a_id, b_id""".stripMargin
  }

  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text",
      shingleN = 3, minJaccard = 0.3, maxId = 200)
      .orderBy("a_id", "b_id")

  val ngramJaccardSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') words FROM documents
      |           WHERE doc_id < 200),
      |s AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, greatest(len(words)-1, 1)),
      |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) sh
      |      FROM t)
      |SELECT a_id, b_id, jaccard FROM (
      |  SELECT a.doc_id a_id, b.doc_id b_id,
      |    len(list_intersect(a.sh, b.sh))::DOUBLE /
      |      len(list_distinct(list_concat(a.sh, b.sh))) jaccard
      |  FROM s a, s b WHERE a.doc_id < b.doc_id)
      |WHERE jaccard >= 0.3
      |ORDER BY a_id, b_id""".stripMargin

  /** Hyperplane-LSH embedding near-dups — rows-only (LSH bucketing is
    * not SQL-expressible); recall asserted on planted pairs in
    * DedupSpec/SimilaritySpec.
    *
    * The synthetic embeddings table contains NO near-duplicates (max
    * pairwise cosine ≈ 0.51 at sf0.01, 0.60 at sf0.1), so a threshold
    * query over it alone proves nothing. The driver query therefore
    * PLANTS near-dups: every vec_id < 100 gets a copy at id+1,000,000
    * with a tiny deterministic perturbation (cosine ≈ 0.9999); the
    * operator must recover exactly those (original, planted) pairs. */
  def dedupEmbed(s: SparkSession, d: String): DataFrame = {
    val base = embs(s, d).select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") < 100)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + pmod(i, lit(7)).cast("float") * lit(0.001f)).as("embedding"))
    Dedup.embeddingPairs(base.unionByName(planted), "vec_id", "embedding",
        minCosine = 0.99)
      .orderBy("a_id", "b_id")
  }

  /** Brute-force cosine ≥ 0.99 over base ∪ planted. Hash-matching the
    * LSH route against this proves ZERO recall loss at the fixed seed
    * (miss probability per planted pair ≈ 5e-10 at 8 tables × 16
    * planes). The planting arithmetic mirrors bit-for-bit: DuckDB
    * FLOAT ops stay float32 like Spark's, and its index lambda is
    * 1-based (hence `(i-1) % 7` vs Spark's 0-based `i % 7`). */
  val dedupEmbedSql: String =
    """WITH base AS (SELECT vec_id, embedding FROM embeddings),
      |planted AS (SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(embedding,
      |      (x, i) -> x + CAST((i-1) % 7 AS FLOAT) * 0.001::FLOAT) AS embedding
      |  FROM base WHERE vec_id < 100),
      |allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM allv),
      |d AS (SELECT vec_id, v,
      |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM v),
      |s AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2]))
      |      / (a.nrm * b.nrm) AS cosine
      |  FROM d a JOIN d b ON a.vec_id < b.vec_id)
      |SELECT a_id, b_id, cosine FROM s WHERE cosine >= 0.99
      |ORDER BY a_id, b_id""".stripMargin

  /** SemDeDup-style semantic dedup over base ∪ planted near-dups:
    * 16 deterministic cells (lowest-id centroids, the q_ann_ivf
    * assignment), keep = no lower-id same-cell neighbor with
    * cosine ≥ 0.99. The planted rows (ids +1e6, per-dim float shift)
    * must come back keep=false, every base row keep=true (base max
    * pairwise cosine ≈ 0.51). */
  def semdedup(s: SparkSession, d: String): DataFrame = {
    val base = embs(s, d).select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") < 100)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + pmod(i, lit(7)).cast("float") * lit(0.001f)).as("embedding"))
    Similarity.semanticDedup(base.unionByName(planted), "vec_id", "embedding",
        tau = 0.99, cells = 16)
      .orderBy("vec_id")
  }

  /** Same planting arithmetic as dedupEmbedSql, same cell-assignment
    * CTE as annIvfSql (over base ∪ planted), keep = NOT EXISTS a
    * lower-id same-cell neighbor with cosine ≥ τ — the declaratively
    * mirrored form of `Similarity.semanticDedup`'s keep policy. */
  val semdedupSql: String =
    """WITH base AS (SELECT vec_id, embedding FROM embeddings),
      |planted AS (SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(embedding,
      |      (x, i) -> x + CAST((i-1) % 7 AS FLOAT) * 0.001::FLOAT) AS embedding
      |  FROM base WHERE vec_id < 100),
      |allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |      FROM allv),
      |d AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM v),
      |cent AS (SELECT vec_id c_id, v c_v, nrm c_nrm FROM d ORDER BY vec_id LIMIT 16),
      |asg AS (SELECT vec_id, v, nrm, cell FROM (
      |  SELECT d.vec_id, d.v, d.nrm, c.c_id cell,
      |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
      |      (list_sum(list_transform(list_zip(d.v, c.c_v), p -> p[1]*p[2]))
      |        / (d.nrm * c.c_nrm)) DESC, c.c_id) r
      |  FROM d, cent c) WHERE r = 1),
      |dup AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
      |  ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2]))
      |          / (a.nrm * b.nrm) >= 0.99)
      |SELECT g.vec_id, g.cell, (dup.vec_id IS NULL) AS keep
      |FROM asg g LEFT JOIN dup ON g.vec_id = dup.vec_id
      |ORDER BY g.vec_id""".stripMargin

  /** Deterministic train/val/test split sizes over documents. The
    * oracle recomputes the engine's exact bucket function — Spark's
    * xxhash64 (XXH64 of the 8-byte long, seed-chained) mod 2^20 — in
    * DuckDB HUGEINT arithmetic, so split membership itself is
    * value-checked, not just determinism (SamplingSpec pins
    * disjointness and nesting). */
  def sampleSplit(s: SparkSession, d: String): DataFrame = {
    val parts = graft.operators.Sampling.split(docs(s, d), "doc_id", Seq(0.8, 0.1, 0.1))
    parts.zipWithIndex.map { case (p, i) =>
      p.agg(count(lit(1)).as("n")).select(lit(i).as("part"), col("n"))
    }.reduce(_ unionByName _).orderBy("part")
  }

  val sampleSplitSql: String = {
    // the engine buckets by xxhash64(lit(seed=0), doc_id): the first
    // (constant) column folds to a fixed inner hash, computed here via
    // Spark's own implementation so the oracle can never drift
    val inner = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(0L, org.apache.spark.sql.types.LongType, 42L)
    val weights = Seq(0.8, 0.1, 0.1)
    val cum = weights.map(_ / weights.sum).scanLeft(0.0)(_ + _)
    val cuts = cum.map(c => (c * (1L << 20)).toLong) // same arithmetic as Sampling.split
    val steps = SqlHash.xxh64LongSteps("hx", "documents", "doc_id",
      keep = Seq.empty, seed = inner, out = "h")
    s"""WITH $steps,
       |parts AS (SELECT CASE WHEN h % 1048576::HUGEINT < ${cuts(1)} THEN 0
       |                      WHEN h % 1048576::HUGEINT < ${cuts(2)} THEN 1
       |                      ELSE 2 END AS part FROM hx)
       |SELECT CAST(r.range AS INT) AS part, coalesce(c.n, 0) AS n
       |FROM range(3) r LEFT JOIN
       |  (SELECT part, count(*) AS n FROM parts GROUP BY part) c
       |  ON r.range = c.part
       |ORDER BY part""".stripMargin
  }

  // ---- corpus mixture ----

  /** Weighted per-language mixture — the training-data recipe step:
    * en down-sampled to 0.5, es kept whole, de at 0.25, fr dropped
    * (weight 0). Output = surviving doc_ids with their lang, so the
    * oracle checks MEMBERSHIP, not just counts. The oracle recomputes
    * each corpus's bucket hash (seed i<<32 folded through Spark's own
    * XxHash64Function, same pattern as sampleSplitSql). */
  def mixtureQ(s: SparkSession, d: String): DataFrame = {
    val byLang = Seq("en" -> 0.5, "es" -> 1.0, "de" -> 0.25).map { case (l, w) =>
      (docs(s, d).filter(col("lang") === l).select(col("doc_id"), col("lang")), w)
    }
    Sampling.mixture(byLang, "doc_id").orderBy("doc_id")
  }

  val mixtureSql: String = {
    val weights = Seq("en" -> 0.5, "es" -> 1.0, "de" -> 0.25)
    val buckets = 1L << 20
    val arms = weights.zipWithIndex.map { case ((lang, w), i) =>
      val seed = 0L ^ (i.toLong << 32)
      val inner = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(seed, org.apache.spark.sql.types.LongType, 42L)
      val cut = (w * buckets).toLong
      val steps = SqlHash.xxh64LongSteps(s"hx$i", s"d$i", "doc_id",
        keep = Seq("doc_id", "lang"), seed = inner, out = "h")
      (s"""d$i AS (SELECT doc_id, lang FROM documents WHERE lang = '$lang'),
          |$steps""".stripMargin,
        s"SELECT doc_id, lang FROM hx$i WHERE h % ${buckets}::HUGEINT < $cut")
    }
    s"""WITH ${arms.map(_._1).mkString(",\n")}
       |${arms.map(_._2).mkString("\nUNION ALL\n")}
       |ORDER BY doc_id""".stripMargin
  }

  /** Temperature rebalancing over the (skewed) lang distribution at
    * α = 0.5: en (218 docs at sf0.01) keeps sqrt(64/218) ≈ 54%, the
    * smallest lang keeps 100%. Membership-level oracle: DuckDB
    * recomputes the per-lang counts, the sqrt rate (exactly-rounded
    * IEEE ops), and the engine's bucket hash via SqlHash. */
  def temperatureQ(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureSample(
        docs(s, d).select(col("doc_id"), col("lang")),
        "doc_id", "lang", alpha = 0.5)
      .orderBy("doc_id")

  val temperatureSql: String = {
    val inner = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(0L, org.apache.spark.sql.types.LongType, 42L)
    val steps = SqlHash.xxh64LongSteps("hx", "d0", "doc_id",
      keep = Seq("doc_id", "lang"), seed = inner, out = "h")
    s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
       |cuts AS (SELECT lang,
       |    floor(sqrt((SELECT min(cnt) FROM c)::DOUBLE / cnt::DOUBLE)
       |          * 1048576.0)::BIGINT AS cut FROM c),
       |d0 AS (SELECT doc_id, lang FROM documents),
       |$steps
       |SELECT doc_id, lang FROM hx JOIN cuts USING (lang)
       |WHERE h % 1048576::HUGEINT < cut::HUGEINT
       |ORDER BY doc_id""".stripMargin
  }

  // ---- per-source quota ----

  /** Domain/source quota: ≤10 docs per source, chosen by the
    * deterministic (xxhash64(id), id) rank — 20 sources × 25 docs at
    * sf0.01 → exactly 200 survivors. The oracle recomputes Spark's
    * xxhash64 via SqlHash and converts the unsigned HUGEINT back to
    * SIGNED order (Spark sorts the hash as a signed long). */
  def sourceQuotaQ(s: SparkSession, d: String): DataFrame =
    Sampling.groupQuota(docs(s, d).select(col("doc_id"), col("source")),
        "doc_id", "source", maxPerGroup = 10)
      .orderBy("doc_id")

  val sourceQuotaSql: String = {
    val steps = SqlHash.xxh64LongSteps("hx", "d0", "doc_id",
      keep = Seq("doc_id", "source"), seed = 42L, out = "h")
    s"""WITH d0 AS (SELECT doc_id, source FROM documents),
       |$steps,
       |signed AS (SELECT doc_id, source,
       |    CASE WHEN h >= 9223372036854775808::HUGEINT
       |         THEN (h - 18446744073709551616::HUGEINT)::BIGINT
       |         ELSE h::BIGINT END AS hs FROM hx),
       |r AS (SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source ORDER BY hs, doc_id) AS rk
       |  FROM signed)
       |SELECT doc_id, source FROM r WHERE rk <= 10 ORDER BY doc_id""".stripMargin
  }

  /** Top-50-vocabulary co-occurrence lift under the oracle gate: the
    * mirror replays tokenization, doc-frequency top-V (count desc,
    * term asc), the doc-bounded pair join, and the two-division lift
    * arithmetic — identical double operations, identical bits. */
  def cooccurQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.cooccurrence(docs(s, d), "doc_id", "text",
        vocabSize = 50, minPairDocs = 5L, topK = 100)
      .orderBy(col("lift").desc, col("t1"), col("t2"))

  val cooccurSql: String =
    """WITH inc0 AS (
      |  SELECT DISTINCT doc_id, word AS term FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word <> ''),
      |v AS (SELECT term, count(*) AS n_docs FROM inc0 GROUP BY term
      |      ORDER BY n_docs DESC, term ASC LIMIT 50),
      |inc AS (SELECT i.doc_id, i.term, v.n_docs FROM inc0 i JOIN v USING (term)),
      |p AS (SELECT a.term AS t1, b.term AS t2,
      |        a.n_docs AS n_a, b.n_docs AS n_b, count(*) AS n_ab
      |      FROM inc a JOIN inc b ON a.doc_id = b.doc_id AND a.term < b.term
      |      GROUP BY 1, 2, 3, 4 HAVING count(*) >= 5)
      |SELECT t1, t2, CAST(n_ab AS BIGINT) AS n_ab,
      |       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |       (CAST(n_ab AS DOUBLE) / n_a) *
      |         (CAST((SELECT count(*) FROM documents) AS DOUBLE) / n_b) AS lift
      |FROM p ORDER BY lift DESC, t1, t2 LIMIT 100""".stripMargin

  /** Exact per-source p95 length trim under the oracle gate: the
    * histogram/cumsum threshold replays in SQL (same tie-inclusive
    * "smallest value whose cumulative count reaches ⌈q·n⌉" rule,
    * same ceil(double) arithmetic), so kept-row aggregates
    * hash-match. */
  def percentileTrimQ(s: SparkSession, d: String): DataFrame =
    Sampling.percentileTrim(
        docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", q = 0.95)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        max(col("n_chars")).as("max_kept"),
        sum(col("n_chars")).as("sum_kept"))
      .orderBy("source")

  val percentileTrimSql: String =
    """WITH h AS (SELECT source, n_chars, count(*) AS c
      |           FROM documents GROUP BY 1, 2),
      |t AS (SELECT source, n_chars,
      |        sum(c) OVER (PARTITION BY source ORDER BY n_chars
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        sum(c) OVER (PARTITION BY source) AS n
      |      FROM h),
      |th AS (SELECT source, min(n_chars) AS thr
      |       FROM t WHERE cum >= ceil(0.95 * n) GROUP BY source)
      |SELECT d.source, count(*) AS n_kept,
      |       CAST(max(d.n_chars) AS BIGINT) AS max_kept,
      |       CAST(sum(d.n_chars) AS BIGINT) AS sum_kept
      |FROM documents d JOIN th ON d.source = th.source
      |WHERE d.n_chars <= th.thr
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ---- similarity search ----

  private def queriesDf(s: SparkSession, d: String): DataFrame =
    embs(s, d).filter(col("vec_id") < 5)

  def annBrute(s: SparkSession, d: String): DataFrame =
    Similarity.bruteTopK(embs(s, d), queriesDf(s, d), "vec_id", "embedding", k = 10)
      .orderBy("q_id", "rank")

  val annBruteSql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |           FROM embeddings),
      |d AS (SELECT vec_id, v,
      |        sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM v),
      |s AS (SELECT q.vec_id q_id, n.vec_id n_id,
      |        list_sum(list_transform(list_zip(q.v, n.v), p -> p[1]*p[2]))
      |          / (q.nrm * n.nrm) cosine
      |      FROM d q, d n WHERE q.vec_id < 5 AND n.vec_id != q.vec_id),
      |r AS (SELECT q_id, n_id, cosine,
      |        row_number() OVER (PARTITION BY q_id
      |                           ORDER BY cosine DESC, n_id) rank
      |      FROM s)
      |SELECT q_id, n_id, rank, cosine FROM r WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  /** Hard-negative mining under the oracle gate: per query vector,
    * top-10 most-similar vectors with a DIFFERENT label, cosine
    * capped below 0.95 (near-dup/mislabel exclusion) and floored at
    * 0.0 (easy-negative exclusion). Cosines are bit-identical across
    * engines (sequential fold both sides), so the band filter and the
    * (cosine desc, id) rank replay exactly in DuckDB. */
  def hardNegativesQ(s: SparkSession, d: String): DataFrame =
    Similarity.hardNegatives(embs(s, d), queriesDf(s, d), "vec_id", "embedding",
        groupCol = "label", k = 10, lo = 0.0, hi = 0.95)
      .orderBy("q_id", "rank")

  val hardNegativesSql: String =
    """WITH v AS (SELECT vec_id, label,
      |             list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |           FROM embeddings),
      |d AS (SELECT vec_id, label, v,
      |        sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM v),
      |s AS (SELECT q.vec_id q_id, n.vec_id n_id,
      |        list_sum(list_transform(list_zip(q.v, n.v), p -> p[1]*p[2]))
      |          / (q.nrm * n.nrm) cosine
      |      FROM d q, d n
      |      WHERE q.vec_id < 5 AND n.vec_id != q.vec_id AND n.label != q.label),
      |b AS (SELECT * FROM s WHERE cosine >= 0.0 AND cosine < 0.95),
      |r AS (SELECT q_id, n_id, cosine,
      |        row_number() OVER (PARTITION BY q_id
      |                           ORDER BY cosine DESC, n_id) rank
      |      FROM b)
      |SELECT q_id, n_id, rank, cosine FROM r WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  def annIvf(s: SparkSession, d: String): DataFrame = {
    val q = Similarity.prepareQueries(queriesDf(s, d), "vec_id", "embedding")
    Similarity.ivfTopK(embs(s, d), q, "vec_id", "embedding",
      k = 10, cells = 16, nprobe = 4)
      .orderBy("q_id", "rank")
  }

  /** The IVF route is fully deterministic (centroids = 16 lowest ids,
    * argmax assignment, 4 probes) — mirrored in SQL window functions. */
  val annIvfSql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |           FROM embeddings),
      |d AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM v),
      |cent AS (SELECT vec_id c_id, v c_v, nrm c_nrm FROM d ORDER BY vec_id LIMIT 16),
      |asg AS (SELECT vec_id, v, nrm, cell FROM (
      |  SELECT d.vec_id, d.v, d.nrm, c.c_id cell,
      |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
      |      (list_sum(list_transform(list_zip(d.v, c.c_v), p -> p[1]*p[2]))
      |        / (d.nrm * c.c_nrm)) DESC, c.c_id) r
      |  FROM d, cent c) WHERE r = 1),
      |probe AS (SELECT q_id, q_v, q_nrm, cell FROM (
      |  SELECT d.vec_id q_id, d.v q_v, d.nrm q_nrm, c.c_id cell,
      |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
      |      (list_sum(list_transform(list_zip(d.v, c.c_v), p -> p[1]*p[2]))
      |        / (d.nrm * c.c_nrm)) DESC, c.c_id) r
      |  FROM d, cent c WHERE d.vec_id < 5) WHERE r <= 4),
      |scored AS (SELECT p.q_id, a.vec_id n_id,
      |    list_sum(list_transform(list_zip(p.q_v, a.v), x -> x[1]*x[2]))
      |      / (p.q_nrm * a.nrm) cosine
      |  FROM probe p JOIN asg a USING (cell)
      |  WHERE a.vec_id != p.q_id),
      |r AS (SELECT q_id, n_id, cosine,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) rank
      |  FROM scored)
      |SELECT q_id, n_id, rank, cosine FROM r WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  /** ANN against a PERSISTED IVF index (build-once, probe-many — the
    * 100 TB serving path): the corpus assignment is written
    * partitionBy(cell) on first run and reused after (deterministic
    * ⇒ idempotent); the probe scans only the probed cell partitions.
    * Same centroid/probe semantics as q_ann_ivf, so the same SQL
    * oracle applies verbatim. */
  def annIvfIndexed(s: SparkSession, d: String): DataFrame = synchronized {
    val base = GateFixture.buildOnce("graft_ivfindex_v2", d) { dir =>
      Similarity.writeIvfIndex(embs(s, d), "vec_id", "embedding", dir.getPath, cells = 16)
    }
    Similarity.queryIvfIndex(s, base.getPath,
        Similarity.prepareQueries(queriesDf(s, d), "vec_id", "embedding"),
        k = 10, nprobe = 4)
      .orderBy("q_id", "rank")
  }

  val annIvfIndexedSql: String = annIvfSql

  /** SQ8-quantized PERSISTED IVF index (build-once, probe-many at 4×
    * less storage than float32 — the 100 TB serving path where the
    * index must FIT): cell routing identical to q_ann_ivf
    * (full-precision centroids), stored vectors are SQ8 codes, probes
    * score by the dequantized (ADC) cosine under the bounds pinned in
    * the index meta. The mirror composes q_ann_ivf's routing CTEs
    * with q_ann_quantized's reconstruction CTEs — every routed cell
    * and every ADC score bit is value-checked. */
  def annIvfSq8(s: SparkSession, d: String): DataFrame = synchronized {
    probeSq8(s, d, GateFixture.buildOnce("graft_ivfsq8_v2", d) { dir =>
      Similarity.writeIvfIndexSq8(embs(s, d), "vec_id", "embedding", dir.getPath, cells = 16)
    })
  }

  /** The SQ8 gates' probe: queries 0..4, top-10 over 4 probed cells. */
  private def probeSq8(s: SparkSession, d: String, idx: java.io.File): DataFrame =
    Similarity.queryIvfIndexSq8(s, idx.getPath,
        Similarity.prepareQueries(queriesDf(s, d), "vec_id", "embedding"),
        k = 10, nprobe = 4)
      .orderBy("q_id", "rank")

  /** The 3/4-corpus SQ8 build (vec_id % 4 ≠ 0) with centroids and
    * quantization bounds PINNED from the full corpus — the base that
    * q_ann_ivf_append, q_stream_ivf_append and q_ann_ivf_compact grow
    * back to the full-build answer. */
  private def writePinnedSq8Base(s: SparkSession, d: String, path: String): Unit = {
    val all = embs(s, d)
    val prepared = Similarity.prepareQueries(all, "vec_id", "embedding")
      .select(col("q_id").as("n_id"), col("q_v").as("n_v"))
    val bounds = graft.operators.Quantization.fitBounds(prepared, "n_v")
    Similarity.writeIvfIndexSq8(
      all.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding", path, cells = 16,
      centroids0 = Some(
        prepared.orderBy(col("n_id")).limit(16)
          .select(col("n_id").as("c_id"), col("n_v").as("c_v"))),
      bounds0 = Some(bounds))
  }

  val annIvfSq8Sql: String = annIvfSq8SqlWhere("")

  /** The SQ8 IVF mirror with an optional predicate restricting which
    * corpus vectors are IN the index (`asgWhere`, e.g. a delete gate's
    * remainder) — centroids and quantization bounds stay derived from
    * the FULL corpus, exactly matching an index built on the full
    * corpus whose rows were then deleted (delete never re-fits). */
  private def annIvfSq8SqlWhere(asgWhere: String): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |           FROM embeddings),
      |d AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM v),
      |cent AS (SELECT vec_id c_id, v c_v, nrm c_nrm FROM d ORDER BY vec_id LIMIT 16),
      |asg AS (SELECT vec_id, cell FROM (
      |  SELECT d.vec_id, c.c_id cell,
      |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
      |      (list_sum(list_transform(list_zip(d.v, c.c_v), p -> p[1]*p[2]))
      |        / (d.nrm * c.c_nrm)) DESC, c.c_id) r
      |  FROM d, cent c $asgWhere) WHERE r = 1),
      |probe AS (SELECT q_id, cell FROM (
      |  SELECT d.vec_id q_id, c.c_id cell,
      |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
      |      (list_sum(list_transform(list_zip(d.v, c.c_v), p -> p[1]*p[2]))
      |        / (d.nrm * c.c_nrm)) DESC, c.c_id) r
      |  FROM d, cent c WHERE d.vec_id < 5) WHERE r <= 4),
      |e AS (SELECT vec_id, j, v[j] AS x
      |      FROM v, LATERAL (SELECT unnest(range(1, len(v)+1)) AS j) t),
      |stats AS (SELECT j, min(x) lo, max(x) hi FROM e GROUP BY j),
      |rec AS (SELECT vec_id, list(lo + (code + 0.5) * (hi - lo) / 255.0 ORDER BY j) AS rv
      |  FROM (SELECT vec_id, j, lo, hi,
      |          CASE WHEN hi = lo THEN 0
      |               ELSE least(255, greatest(0,
      |                      floor((x - lo) * 255.0 / (hi - lo))))::BIGINT
      |          END AS code
      |        FROM e JOIN stats USING (j))
      |  GROUP BY vec_id),
      |dr AS (SELECT vec_id, rv,
      |         sqrt(list_sum(list_transform(rv, x -> x*x))) nrm FROM rec),
      |s AS (SELECT p.q_id, a.vec_id n_id,
      |        list_sum(list_transform(list_zip(q.rv, n.rv), x -> x[1]*x[2]))
      |          / (q.nrm * n.nrm) qcos
      |      FROM probe p JOIN asg a USING (cell)
      |        JOIN dr q ON q.vec_id = p.q_id
      |        JOIN dr n ON n.vec_id = a.vec_id
      |      WHERE a.vec_id != p.q_id),
      |r AS (SELECT q_id, n_id, qcos,
      |        row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, n_id) rank
      |      FROM s)
      |SELECT q_id, n_id, rank, qcos FROM r WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  /** INCREMENTAL SQ8 IVF index under the driver gate — the write-side
    * production shape: the index is built on 3/4 of the corpus
    * (vec_id % 4 ≠ 0) with centroids and bounds PINNED from the full
    * expected distribution (the production stance: quantization
    * config covers current and future data), then the remaining 1/4
    * arrives as an increment via appendToIvfIndexSq8 — routed against
    * the STORED centroids, quantized under the META bounds, appended
    * into the existing cells/ partitions with no corpus re-shuffle.
    * Because centroids and bounds are identical to a full build, the
    * probe over (build ∪ append) must equal q_ann_ivf_sq8's full-build
    * answer — the SAME mirror value-checks every routed cell and ADC
    * score bit of the appended index. Build+append run once as one
    * [[GateFixture]], so a crash between them is never served. */
  def annIvfAppend(s: SparkSession, d: String): DataFrame = synchronized {
    probeSq8(s, d, GateFixture.buildOnce("graft_ivfsq8app_v2", d) { dir =>
      writePinnedSq8Base(s, d, dir.getPath)
      Similarity.appendToIvfIndexSq8(
        embs(s, d).filter(col("vec_id") % 4 === 0), "vec_id", "embedding", dir.getPath)
    })
  }

  val annIvfAppendSql: String = annIvfSq8Sql

  /** STREAMING incremental ANN index maintenance under the driver
    * gate — q_ann_ivf_append's increment arriving as a STREAM: the
    * index is built on 3/4 of the corpus (pinned centroids + bounds
    * from the full distribution, as in q_ann_ivf_append), the
    * remaining 1/4 streams in as 3 AvailableNow micro-batches, each
    * appended into cells/ by StreamingIvfAppend (state hoisted,
    * replay-safe batch markers). Per-vector cell assignment makes the
    * final index batch-boundary-independent, so the probe over the
    * streamed index must STILL equal the full-build answer — the SAME
    * full-corpus SQ8 mirror value-checks it. */
  def streamIvfAppend(s: SparkSession, d: String): DataFrame = synchronized {
    val root = GateFixture.buildOnce("graft_ivfsq8stream_v2", d) { staging =>
      writePinnedSq8Base(s, d, s"$staging/idx")
      embs(s, d).filter(col("vec_id") % 4 === 0)
        .repartition(3)
        .write.mode("overwrite").parquet(s"$staging/stage")
      val schema = s.read.parquet(s"$staging/stage").schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$staging/stage")
      graft.streaming.StreamingIvfAppend.run(s, src, s"$staging/idx",
        "vec_id", "embedding", s"$staging/ckpt")
    }
    probeSq8(s, d, new java.io.File(root, "idx"))
  }

  val streamIvfAppendSql: String = annIvfSq8Sql

  /** IVF index COMPACTION under the driver gate — the maintenance
    * call the append/streaming story needs: the index is built on 3/4
    * of the corpus (pinned centroids + bounds from the full
    * distribution, as in q_ann_ivf_append), the remaining 1/4 arrives
    * as TWO separate appends (each landing its own files into the
    * touched cell partitions — the accumulating-small-files state),
    * then compactIvfIndex folds the cells back to one file per cell
    * WITHOUT re-fitting anything. The file-count shrink is asserted
    * loudly inside the gate; because compaction rewrites bytes only,
    * the probe must STILL equal the full-build answer — the SAME
    * full-corpus SQ8 mirror value-checks every routed cell and ADC
    * score bit of the compacted index. */
  def annIvfCompact(s: SparkSession, d: String): DataFrame = synchronized {
    probeSq8(s, d, GateFixture.buildOnce("graft_ivfsq8cmp_v2", d) { dir =>
      val idx = dir.getPath
      writePinnedSq8Base(s, d, idx)
      val all = embs(s, d)
      Similarity.appendToIvfIndexSq8(
        all.filter(col("vec_id") % 8 === 0), "vec_id", "embedding", idx)
      Similarity.appendToIvfIndexSq8(
        all.filter(col("vec_id") % 8 === 4), "vec_id", "embedding", idx)
      val stats = graft.operators.IndexMaintenance.compactIvfIndex(s, idx)
      require(stats.filesAfter < stats.filesBefore && stats.filesAfter <= 16,
        s"q_ann_ivf_compact: compaction did not shrink the index — $stats")
    })
  }

  val annIvfCompactSql: String = annIvfSq8Sql

  /** IVF index DELETE under the driver gate — the takedown path: the
    * index is built on the FULL corpus (default lowest-id centroids,
    * full-corpus bounds — exactly q_ann_ivf_sq8's build), then every
    * vec_id ≡ 2 (mod 5) is deleted via deleteFromIvfIndex (touched
    * cells anti-joined and swapped in place; centroids/bounds/meta
    * untouched — delete never re-fits). The mirror keeps centroids and
    * quantization bounds derived from the FULL corpus but restricts
    * cell membership to the remainder, which is precisely the
    * delete(ids) ∘ build(corpus) ≡ "build(corpus ∖ ids) under the same
    * pins" equivalence — every surviving cell route and ADC score bit
    * is value-checked. */
  def annIvfDelete(s: SparkSession, d: String): DataFrame = synchronized {
    probeSq8(s, d, GateFixture.buildOnce("graft_ivfsq8del_v2", d) { dir =>
      val all = embs(s, d)
      Similarity.writeIvfIndexSq8(all, "vec_id", "embedding", dir.getPath, cells = 16)
      graft.operators.IndexMaintenance.deleteFromIvfIndex(
        all.filter(col("vec_id") % 5 === 2).select("vec_id"), "vec_id", dir.getPath)
    })
  }

  val annIvfDeleteSql: String =
    annIvfSq8SqlWhere("WHERE NOT (d.vec_id % 5 = 2)")

  /** PRODUCT-QUANTIZED persisted IVF index (build-once, probe-many at
    * 32× less storage than float32 — m=8 one-byte codes for 64 dims,
    * the regime past SQ8's 4×): cell routing identical to q_ann_ivf
    * (full-precision centroids), stored vectors are PQ codes under the
    * deterministic lowest-id codebook, probes score by the ASYMMETRIC
    * distance computation of the PQ paper (full-precision query vs
    * codebook reconstruction). The mirror derives the identical
    * codebook (ORDER BY vec_id LIMIT ks), replays the per-subspace
    * argmin encode, reconstructs, and folds the same cosine — every
    * code and every ADC score bit is value-checked. */
  def annPq(s: SparkSession, d: String): DataFrame = synchronized {
    Similarity.queryIvfIndexPq(s, pqIndex(s, d),
        Similarity.prepareQueries(queriesDf(s, d), "vec_id", "embedding"),
        k = 10, nprobe = 4)
      .orderBy("q_id", "rank")
  }

  /** The full-corpus PQ index (m=8, ks=16) shared by q_ann_pq,
    * q_ann_pq_rerank, q_hybrid_served and q_stream_hybrid_serve. */
  private def pqIndex(s: SparkSession, d: String): String =
    GateFixture.buildOnce("graft_ivfpq_v2", d) { dir =>
      Similarity.writeIvfIndexPq(embs(s, d), "vec_id", "embedding", dir.getPath,
        cells = 16, m = 8, ks = 16)
    }.getPath

  val annPqSql: String = annPqSqlK(10) + "\nORDER BY q_id, rank"

  /** PQ index DELETE under the driver gate — the tombstone path on
    * the SERVING index family (q_hybrid_served nominates from a PQ
    * index, so its delete→probe composition deserves its own gate,
    * not just the shared readIvfCellsLive plumbing q_ann_ivf_delete
    * certifies on SQ8): the index is built on the FULL corpus
    * (exactly q_ann_pq's build), then every vec_id ≡ 2 (mod 5) is
    * tombstoned via deleteFromIvfIndex (no cell rewritten; probes
    * anti-join the tombstone set), and the ADC probe must equal a
    * build on the remainder under the SAME centroids + codebook — the
    * mirror keeps the full-corpus centroid/codebook derivation and
    * restricts cell MEMBERSHIP to the remainder, value-checking every
    * surviving route, code and score bit. */
  def annPqDelete(s: SparkSession, d: String): DataFrame = synchronized {
    val idx = GateFixture.buildOnce("graft_ivfpqdel_v2", d) { dir =>
      val all = embs(s, d)
      Similarity.writeIvfIndexPq(all, "vec_id", "embedding", dir.getPath,
        cells = 16, m = 8, ks = 16)
      graft.operators.IndexMaintenance.deleteFromIvfIndex(
        all.filter(col("vec_id") % 5 === 2).select("vec_id"), "vec_id", dir.getPath)
    }
    Similarity.queryIvfIndexPq(s, idx.getPath,
        Similarity.prepareQueries(queriesDf(s, d), "vec_id", "embedding"),
        k = 10, nprobe = 4)
      .orderBy("q_id", "rank")
  }

  val annPqDeleteSql: String =
    annPqSqlK(10, asgWhere = "WHERE NOT (d.vec_id % 5 = 2)") +
      "\nORDER BY q_id, rank"

  private def annPqSqlK(k: Int, asgWhere: String = ""): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |           FROM embeddings),
      |d AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM v),
      |cent AS (SELECT vec_id c_id, v c_v, nrm c_nrm FROM d ORDER BY vec_id LIMIT 16),
      |asg AS (SELECT vec_id, cell FROM (
      |  SELECT d.vec_id, c.c_id cell,
      |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
      |      (list_sum(list_transform(list_zip(d.v, c.c_v), p -> p[1]*p[2]))
      |        / (d.nrm * c.c_nrm)) DESC, c.c_id) r
      |  FROM d, cent c $asgWhere) WHERE r = 1),
      |probe AS (SELECT q_id, cell FROM (
      |  SELECT d.vec_id q_id, c.c_id cell,
      |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
      |      (list_sum(list_transform(list_zip(d.v, c.c_v), p -> p[1]*p[2]))
      |        / (d.nrm * c.c_nrm)) DESC, c.c_id) r
      |  FROM d, cent c WHERE d.vec_id < 5) WHERE r <= 4),
      |cb0 AS (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 16),
      |cbi AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v FROM cb0),
      |cb AS (SELECT t.j, cbi.c, cbi.v[t.j*8+1 : t.j*8+8] AS sub
      |       FROM cbi, LATERAL (SELECT unnest(range(0, 8)) AS j) t),
      |subs AS (SELECT vec_id, t.j, v[t.j*8+1 : t.j*8+8] AS sub
      |         FROM v, LATERAL (SELECT unnest(range(0, 8)) AS j) t),
      |enc AS (SELECT vec_id, j, c FROM (
      |    SELECT s.vec_id, s.j, cb.c,
      |      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
      |        list_sum(list_transform(list_zip(s.sub, cb.sub),
      |          p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, cb.c ASC) r
      |    FROM subs s JOIN cb ON cb.j = s.j) WHERE r = 1),
      |rec AS (SELECT e.vec_id, flatten(list(cb.sub ORDER BY e.j)) AS rv
      |        FROM enc e JOIN cb ON cb.j = e.j AND cb.c = e.c
      |        GROUP BY e.vec_id),
      |sc AS (SELECT p.q_id, a.vec_id n_id,
      |        list_sum(list_transform(list_zip(q.v, n.rv), x -> x[1]*x[2]))
      |          / (sqrt(list_sum(list_transform(q.v, x -> x*x))) *
      |             sqrt(list_sum(list_transform(n.rv, x -> x*x)))) qcos
      |      FROM probe p JOIN asg a USING (cell)
      |        JOIN v q ON q.vec_id = p.q_id
      |        JOIN rec n ON n.vec_id = a.vec_id
      |      WHERE a.vec_id != p.q_id),
      |r AS (SELECT q_id, n_id, qcos,
      |        row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, n_id) rank
      |      FROM sc)
      |SELECT q_id, n_id, rank, qcos FROM r WHERE rank <= $k""".stripMargin

  /** Two-stage PQ retrieval under the driver gate — the SERVED shape
    * of the PQ index (raw PQ@10 recall is an honest 0.36 on this
    * corpus; the production composition measured 0.90 at k₀=100,
    * tools/PqRecall): the persisted PQ index nominates top-30
    * candidates per query (asymmetric-distance proxy ranking over the
    * probed cells), and ONLY those pairs re-score with exact
    * full-precision cosine for the final top-10 — q_ann_rerank's
    * pattern with the PQ index as the nominator. The mirror composes
    * the full PQ mirror at k=30 (codebook re-derivation, per-subspace
    * argmin encode, reconstruction, ADC fold) with an exact-cosine
    * re-rank over the candidate pairs, so nomination AND re-ranking
    * are value-checked end to end. */
  def annPqRerank(s: SparkSession, d: String): DataFrame = synchronized {
    val queries = Similarity.prepareQueries(queriesDf(s, d), "vec_id", "embedding")
    val cand = Similarity.queryIvfIndexPq(s, pqIndex(s, d), queries, k = 30, nprobe = 4)
    Similarity.rerankCandidates(embs(s, d), queries, cand,
        "vec_id", "embedding", k = 10)
      .orderBy("q_id", "rank")
  }

  val annPqRerankSql: String =
    s"""WITH cand AS (SELECT q_id, n_id FROM (${annPqSqlK(30)})),
       |fv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
       |      FROM embeddings),
       |fd AS (SELECT vec_id, v,
       |         sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM fv),
       |fs AS (SELECT c.q_id, c.n_id,
       |        list_sum(list_transform(list_zip(q.v, n.v), p -> p[1]*p[2]))
       |          / (q.nrm * n.nrm) cosine
       |      FROM cand c JOIN fd q ON q.vec_id = c.q_id
       |        JOIN fd n ON n.vec_id = c.n_id),
       |fr AS (SELECT q_id, n_id, cosine,
       |        row_number() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, n_id) rank
       |      FROM fs)
       |SELECT q_id, n_id, rank, cosine FROM fr WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** SQ8-quantized ANN: per-dimension corpus min/max bounds, one
    * unsigned byte per dimension (BINARY codes — 4× smaller than
    * float32), ranked by the dequantized (ADC) cosine. Every step —
    * the min/max fit, the affine code formula, the bin-center
    * reconstruction, the sequential cosine fold — is exactly-rounded
    * IEEE arithmetic mirrored verbatim by DuckDB, so the quantized
    * top-k hash-matches end-to-end: a value-level gate on the whole
    * quantization path, scores included. */
  def annQuantized(s: SparkSession, d: String): DataFrame =
    graft.operators.Quantization
      .quantizedTopK(embs(s, d), queriesDf(s, d), "vec_id", "embedding", k = 10)
      .orderBy("q_id", "rank")

  val annQuantizedSql: String = annQuantizedSqlK(10) +
    "\nORDER BY q_id, rank"

  private def annQuantizedSqlK(k: Int): String =
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |           FROM embeddings),
      |e AS (SELECT vec_id, j, v[j] AS x
      |      FROM v, LATERAL (SELECT unnest(range(1, len(v)+1)) AS j) t),
      |stats AS (SELECT j, min(x) lo, max(x) hi FROM e GROUP BY j),
      |rec AS (SELECT vec_id, list(lo + (code + 0.5) * (hi - lo) / 255.0 ORDER BY j) AS rv
      |  FROM (SELECT vec_id, j, lo, hi,
      |          CASE WHEN hi = lo THEN 0
      |               ELSE least(255, greatest(0,
      |                      floor((x - lo) * 255.0 / (hi - lo))))::BIGINT
      |          END AS code
      |        FROM e JOIN stats USING (j))
      |  GROUP BY vec_id),
      |d AS (SELECT vec_id, rv,
      |        sqrt(list_sum(list_transform(rv, x -> x*x))) nrm FROM rec),
      |s AS (SELECT q.vec_id q_id, n.vec_id n_id,
      |        list_sum(list_transform(list_zip(q.rv, n.rv), p -> p[1]*p[2]))
      |          / (q.nrm * n.nrm) qcos
      |      FROM d q, d n WHERE q.vec_id < 5 AND n.vec_id != q.vec_id),
      |r AS (SELECT q_id, n_id, qcos,
      |        row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, n_id) rank
      |      FROM s)
      |SELECT q_id, n_id, rank, qcos FROM r WHERE rank <= $k""".stripMargin

  /** Two-stage retrieval under the driver gate — THE production ANN
    * shape: the SQ8 proxy ranker nominates top-30 candidates per
    * query, and ONLY those pairs re-score with exact full-precision
    * cosine for the final top-10. The mirror composes the quantized
    * mirror (k=30) with an exact-cosine re-rank over the candidate
    * pairs, so nomination AND re-ranking are value-checked end-to-end. */
  def annRerank(s: SparkSession, d: String): DataFrame = {
    val cand = graft.operators.Quantization
      .quantizedTopK(embs(s, d), queriesDf(s, d), "vec_id", "embedding", k = 30)
    Similarity.rerankCandidates(embs(s, d),
        Similarity.prepareQueries(queriesDf(s, d), "vec_id", "embedding"),
        cand, "vec_id", "embedding", k = 10)
      .orderBy("q_id", "rank")
  }

  val annRerankSql: String =
    s"""WITH cand AS (SELECT q_id, n_id FROM (${annQuantizedSqlK(30)})),
       |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
       |      FROM embeddings),
       |fd AS (SELECT vec_id, v,
       |         sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM v),
       |s AS (SELECT c.q_id, c.n_id,
       |        list_sum(list_transform(list_zip(q.v, n.v), p -> p[1]*p[2]))
       |          / (q.nrm * n.nrm) cosine
       |      FROM cand c JOIN fd q ON q.vec_id = c.q_id
       |        JOIN fd n ON n.vec_id = c.n_id),
       |r AS (SELECT q_id, n_id, cosine,
       |        row_number() OVER (PARTITION BY q_id
       |          ORDER BY cosine DESC, n_id) rank
       |      FROM s)
       |SELECT q_id, n_id, rank, cosine FROM r WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  // ---- text analysis ----

  def langIdQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.langId(docs(s, d), "doc_id", "text").orderBy("doc_id")

  val langIdSql: String = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scoreExprs = langs.map { l =>
      val set = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($set)))::DOUBLE / " +
        s"greatest(len(string_split(text, ' ')), 1) AS score_$l"
    }.mkString(",\n  ")
    val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN score_$l = $best AND $best > 0 THEN '$l'").mkString("\n    ")
    s"""WITH s AS (SELECT doc_id,
       |  $scoreExprs
       |FROM documents)
       |SELECT doc_id, score_de, score_en, score_es, score_fr,
       |  CASE $cases ELSE 'und' END AS pred_lang
       |FROM s ORDER BY doc_id""".stripMargin
  }

  def textQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.quality(docs(s, d), "doc_id", "text").orderBy("doc_id")

  val textQualitySql: String = {
    val stop = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  length(text) AS n_chars,
       |  len(string_split(text, ' ')) AS n_words,
       |  length(text)::DOUBLE / greatest(len(string_split(text, ' ')), 1) AS avg_word_len,
       |  length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE
       |    / greatest(length(text), 1) AS punct_ratio,
       |  length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
       |    / greatest(length(text), 1) AS digit_ratio,
       |  len(list_filter(string_split(text, ' '), w -> w IN ($stop)))::DOUBLE
       |    / greatest(len(string_split(text, ' ')), 1) AS stopword_ratio
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  def repetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetition(docs(s, d), "doc_id", "text").orderBy("doc_id")

  /** Gopher repetition stats mirror. Gram generation, the (count DESC,
    * gram ASC) tie-break (binary collation = the engine's codepoint
    * compare), overlap-counted coverage, and the single double
    * division all match the RepetitionStats expression exactly. */
  val repetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
      |            length(text) AS nc FROM documents),
      |g2 AS (SELECT doc_id, unnest(list_transform(
      |         range(1, greatest(len(w), 1)),
      |         i -> w[i] || ' ' || w[i+1])) AS gram FROM t),
      |top2 AS (SELECT doc_id, gram, count(*) AS cnt,
      |           row_number() OVER (PARTITION BY doc_id
      |             ORDER BY count(*) DESC, gram ASC) AS rn
      |         FROM g2 GROUP BY doc_id, gram),
      |g3 AS (SELECT doc_id, unnest(list_transform(
      |         range(1, greatest(len(w) - 1, 1)),
      |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM t),
      |dup3 AS (SELECT doc_id, sum(cnt * length(gram)) AS covered FROM (
      |           SELECT doc_id, gram, count(*) AS cnt FROM g3
      |           GROUP BY doc_id, gram HAVING count(*) >= 2)
      |         GROUP BY doc_id)
      |SELECT t.doc_id,
      |  coalesce(b.gram, '') AS top_gram,
      |  CASE WHEN t.nc = 0 THEN 0.0
      |       ELSE coalesce(b.cnt * length(b.gram), 0)::DOUBLE / t.nc
      |  END AS top_gram_frac,
      |  CASE WHEN t.nc = 0 THEN 0.0
      |       ELSE coalesce(d.covered, 0)::DOUBLE / t.nc
      |  END AS dup_gram_frac
      |FROM t
      |LEFT JOIN (SELECT * FROM top2 WHERE rn = 1) b USING (doc_id)
      |LEFT JOIN dup3 d USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  def qualityFilter(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityFilter(docs(s, d), "doc_id", "text",
      minWords = 20, maxWords = 1000, minStopRatio = 0.02,
      maxTopGramFrac = 0.10, maxDupGramFrac = 0.55).orderBy("doc_id")

  val qualityFilterSql: String = {
    val stop = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
       |            length(text) AS nc FROM documents),
       |g2 AS (SELECT doc_id, unnest(list_transform(
       |         range(1, greatest(len(w), 1)),
       |         i -> w[i] || ' ' || w[i+1])) AS gram FROM t),
       |top2 AS (SELECT doc_id, gram, count(*) AS cnt,
       |           row_number() OVER (PARTITION BY doc_id
       |             ORDER BY count(*) DESC, gram ASC) AS rn
       |         FROM g2 GROUP BY doc_id, gram),
       |g3 AS (SELECT doc_id, unnest(list_transform(
       |         range(1, greatest(len(w) - 1, 1)),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram FROM t),
       |dup3 AS (SELECT doc_id, sum(cnt * length(gram)) AS covered FROM (
       |           SELECT doc_id, gram, count(*) AS cnt FROM g3
       |           GROUP BY doc_id, gram HAVING count(*) >= 2)
       |         GROUP BY doc_id),
       |m AS (SELECT t.doc_id,
       |  len(t.w) AS n_words,
       |  len(list_filter(t.w, x -> x IN ($stop)))::DOUBLE
       |    / greatest(len(t.w), 1) AS stopword_ratio,
       |  CASE WHEN t.nc = 0 THEN 0.0
       |       ELSE coalesce(b.cnt * length(b.gram), 0)::DOUBLE / t.nc
       |  END AS top_gram_frac,
       |  CASE WHEN t.nc = 0 THEN 0.0
       |       ELSE coalesce(d.covered, 0)::DOUBLE / t.nc
       |  END AS dup_gram_frac
       |FROM t
       |LEFT JOIN (SELECT * FROM top2 WHERE rn = 1) b USING (doc_id)
       |LEFT JOIN dup3 d USING (doc_id))
       |SELECT doc_id, n_words, stopword_ratio, top_gram_frac, dup_gram_frac
       |FROM m
       |WHERE n_words BETWEEN 20 AND 1000
       |  AND stopword_ratio >= 0.02
       |  AND top_gram_frac <= 0.10
       |  AND dup_gram_frac <= 0.55
       |ORDER BY doc_id""".stripMargin
  }

  // ---- sequence packing ----

  /** Corpus-level concat-then-split sequence packing: BPE-ish token
    * counts, 512-token sequences, 4 shards. The oracle replays the
    * exact layout — Spark's xxhash64 shard assignment (via SqlHash),
    * the per-shard prefix sum, and the span explosion — in DuckDB
    * integer arithmetic, so sequence membership, offsets, and span
    * boundaries are all value-checked. */
  def seqPackQ(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions
    val withTok = docs(s, d).select(col("doc_id"),
      TextFunctions.regexTokenCount(col("text")).as("ntok"))
    graft.operators.SequencePacking.pack(withTok, "doc_id", "ntok",
        seqLen = 512, shards = 4)
      .orderBy("doc_id", "seq")
  }

  val seqPackSql: String = {
    val steps = SqlHash.xxh64LongSteps("hx", "d0", "doc_id",
      keep = Seq("doc_id", "ntok"), seed = 42L, out = "h")
    // explicit whitespace class, not \s: Java's \s (Spark side) is
    // [ \t\n\x0B\f\r] while RE2's \s also has \v semantics differences
    // at \x0B — spelling it out pins the two engines to byte-identical
    // token boundaries
    s"""WITH d0 AS (SELECT doc_id,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS ntok
       |  FROM documents),
       |$steps,
       |signed AS (SELECT doc_id, ntok,
       |    CASE WHEN h >= 9223372036854775808::HUGEINT
       |         THEN (h - 18446744073709551616::HUGEINT)::BIGINT
       |         ELSE h::BIGINT END AS hs FROM hx),
       |sh AS (SELECT doc_id, ntok, ((hs % 4) + 4) % 4 AS shard
       |       FROM signed WHERE ntok > 0),
       |c AS (SELECT doc_id, ntok, shard,
       |    CAST(sum(ntok) OVER (PARTITION BY shard ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - ntok AS strt FROM sh),
       |e AS (SELECT doc_id, ntok, shard, strt,
       |    unnest(range(strt // 512, (strt + ntok - 1) // 512 + 1)) AS seq
       |    FROM c)
       |SELECT doc_id, shard, seq,
       |  greatest(seq * 512 - strt, 0) AS tok_from,
       |  least(ntok, (seq + 1) * 512 - strt) AS tok_to,
       |  greatest(strt - seq * 512, 0) AS seq_off
       |FROM e ORDER BY doc_id, seq""".stripMargin
  }

  // ---- exact substring dedup ----

  /** Exact substring dedup (Lee et al. 2022 family): per-document
    * maximal spans whose every 8-token window occurs ≥ 2 times in the
    * corpus. The oracle replays the engine bit-for-bit: FNV-1a token
    * hashes over UTF-8 bytes ([[SqlHash.fnv1aSql]]/[[SqlHash.utf8Codes]]),
    * Horner-rule polynomial window hashes mod 2^64 (HUGEINT `mulmod`
    * per step — same base B as [[graft.functions.DupWindowHashes]]),
    * corpus-wide occurrence counts, and the island merge — so span
    * boundaries, widths, and window counts are all value-checked. */
  def substrDedupQ(s: SparkSession, d: String): DataFrame =
    graft.operators.SubstringDedup.duplicatedSpans(docs(s, d), "doc_id", "text", w = 8)
      .orderBy("doc_id", "span_start")

  /** The removal step under the driver gate: every doc's cleaned text
    * after cutting all duplicated spans (w=8). The mirror extends the
    * substr_dedup span replay with per-position coverage + an ordered
    * filtered string_agg, so every byte of every cleaned document is
    * hash-checked. */
  def substrRemoveQ(s: SparkSession, d: String): DataFrame =
    graft.operators.SubstringDedup.removeDuplicatedSpans(
        docs(s, d), "doc_id", "text", w = 8)
      .orderBy("doc_id")

  val substrRemoveSql: String =
    s"""${substrSpansCte("sp")},
       |${substrRemoveTail("")}""".stripMargin

  /** Decontamination-by-excision under the driver gate: benchmark
    * probes = docs 0-4, training corpus = the rest; every corpus span
    * whose 8-token windows all appear in a probe is cut. The mirror
    * swaps the span CTE's duplicate rule for probe-membership and
    * replays the same removal, hash-checking every cleaned byte. */
  def decontamExciseQ(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    graft.operators.SubstringDedup.exciseProbeSpans(
        all.filter(col("doc_id") >= 5), "doc_id", "text",
        all.filter(col("doc_id") < 5), "text", w = 8)
      .orderBy("doc_id")
  }

  val decontamExciseSql: String =
    s"""${substrSpansCte("sp",
           dup = "SELECT DISTINCT wh FROM wv WHERE doc_id < 5",
           stWhere = " AND doc_id >= 5")},
       |${substrRemoveTail(" WHERE doc_id >= 5")}""".stripMargin

  /** Self-repetition removal under the driver gate (w=3 — the
    * fixture's intra-doc repeats live at small windows; real corpora
    * run larger w): zero-shuffle per-doc span expression, every
    * cleaned byte hash-checked against the per-doc dup-rule replay. */
  def selfRepeatQ(s: SparkSession, d: String): DataFrame =
    graft.operators.SubstringDedup.removeSelfRepeatedSpans(
        docs(s, d), "doc_id", "text", w = 3)
      .orderBy("doc_id")

  val selfRepeatSql: String =
    s"""${substrSpansCte("sp", w = 3,
           dup = "SELECT doc_id, wh FROM wv GROUP BY doc_id, wh HAVING count(*) >= 2",
           st = "SELECT wv.doc_id, wv.i FROM wv JOIN dup" +
             " ON wv.doc_id = dup.doc_id AND wv.wh = dup.wh")},
       |${substrRemoveTail("")}""".stripMargin

  /** The shared removal tail over a span CTE named `sp`: per-position
    * coverage + ordered filtered string_agg (see substrRemoveSql). */
  private def substrRemoveTail(docWhere: String): String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents$docWhere),
       |tp AS (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS p FROM tok),
       |tv AS (SELECT doc_id, p, toks[p] AS w FROM tp),
       |cov AS (SELECT doc_id, unnest(range(span_start, span_end + 1)) AS p,
       |          1 AS c FROM sp),
       |mkd AS (SELECT tv.doc_id, tv.p, tv.w, cov.c
       |        FROM tv LEFT JOIN cov ON tv.doc_id = cov.doc_id AND tv.p = cov.p),
       |kept AS (SELECT doc_id,
       |    coalesce(string_agg(w, ' ' ORDER BY p) FILTER (WHERE c IS NULL), '')
       |      AS text_clean,
       |    count(c)::BIGINT AS n_removed_toks
       |  FROM mkd GROUP BY doc_id),
       |spc AS (SELECT doc_id, count(*)::BIGINT AS n_spans FROM sp GROUP BY doc_id)
       |SELECT k.doc_id, k.text_clean, k.n_removed_toks,
       |  coalesce(spc.n_spans, 0)::BIGINT AS n_spans
       |FROM kept k LEFT JOIN spc USING (doc_id) ORDER BY doc_id""".stripMargin

  /** The shared rolling-hash span replay (see substrDedupSql), ending
    * in a CTE named `out`(doc_id, span_start, span_end, n_dup_windows).
    * `dup` is the flagged-window-hash rule (default: corpus occurrence
    * ≥ 2; excision passes probe membership); `stWhere` further
    * restricts which docs' window starts are flagged. */
  private def substrSpansCte(out: String, w: Int = 8,
      dup: String = "SELECT wh FROM wv GROUP BY wh HAVING count(*) >= 2",
      stWhere: String = "", st: String = null): String = {
    val W = w
    val M = "18446744073709551616::HUGEINT"
    val fnv = SqlHash.fnv1aSql(SqlHash.utf8Codes("tok"))
    val horner =
      s"(${SqlHash.mulmod("acc", graft.functions.DupWindowHashes.B)} + t) % $M"
    s"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |            WHERE len(string_split(text, ' ')) >= $W),
       |tk AS (SELECT doc_id, len(toks) AS n, toks,
       |         unnest(range(1, len(toks)+1)) AS p FROM d0),
       |t0 AS (SELECT doc_id, n, p, toks[p] AS tok FROM tk),
       |t1 AS (SELECT doc_id, n, p, $fnv AS thv FROM t0),
       |ths AS (SELECT doc_id, any_value(n) AS n, list(thv ORDER BY p) AS ths
       |        FROM t1 GROUP BY doc_id),
       |w0 AS (SELECT doc_id,
       |    list_transform(range(1, n - $W + 2), i ->
       |      list_reduce(
       |        list_prepend(0::HUGEINT, list_transform(range(0, $W), j -> ths[i + j])),
       |        (acc, t) -> $horner)) AS whs
       |  FROM ths),
       |wv0 AS (SELECT doc_id, whs, unnest(range(1, len(whs)+1)) AS i FROM w0),
       |wv AS (SELECT doc_id, i, whs[i] AS wh FROM wv0),
       |dup AS ($dup),
       |st AS (${Option(st).getOrElse(
             s"SELECT doc_id, i FROM wv WHERE wh IN (SELECT wh FROM dup)$stWhere")}),
       |mk AS (SELECT doc_id, i,
       |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
       |           OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i) + $W
       |         THEN 1 ELSE 0 END AS brk FROM st),
       |gr AS (SELECT doc_id, i,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM mk),
       |$out AS (SELECT doc_id, min(i) AS span_start, max(i) + $W - 1 AS span_end,
       |         count(*) AS n_dup_windows FROM gr GROUP BY doc_id, g)""".stripMargin
  }

  val substrDedupSql: String =
    s"""${substrSpansCte("sp")}
       |SELECT doc_id, span_start::BIGINT AS span_start,
       |  span_end::BIGINT AS span_end,
       |  (span_end - span_start + 1)::BIGINT AS span_toks,
       |  n_dup_windows
       |FROM sp ORDER BY doc_id, span_start""".stripMargin

  def tokenCount(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCounts(docs(s, d), "doc_id", "text").orderBy("doc_id")

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CASE WHEN length(text) = 0 THEN 0
      |       ELSE len(string_split(text, ' ')) END AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** PII redaction — RE2-safe patterns, byte-identical in DuckDB
    * (note DuckDB needs the 'g' flag for replace-all). */
  def redactQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.redact(docs(s, d), "doc_id", "text").orderBy("doc_id")

  val redactSql: String = {
    def esc(re: String) = re.replace("\\", "\\\\")
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '${esc(TextAnalysis.emailRe)}', '<EMAIL>', 'g'),
       |    '${esc(TextAnalysis.urlRe)}', '<URL>', 'g'),
       |    '${esc(TextAnalysis.phoneRe)}', '<PHONE>', 'g') AS text
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Shared oracle CTE: per-doc winnowing fingerprint SETS, computed
    * in DuckDB with the engine's exact arithmetic — FNV-1a (mod-2^64
    * HUGEINT wraparound) over CODEPOINT k-grams (the engine hashes
    * codepoints, DuckDB's unicode() + character indexing walks the
    * same sequence — exact for all Unicode, not just ASCII), SIGNED
    * per-window minima (the engine compares Longs), distinct values. The engine's
    * rightmost-tie rule and consecutive-duplicate collapse don't
    * change the value SET, so the mirror needs neither. Ends in a CTE
    * `fps(doc_id, fp)`. */
  private def winnowFpsCte(k: Int, w: Int): String = {
    val fnv = SqlHash.fnv1aSql(
      s"list_transform(range(i, i+$k), j -> unicode(text[j])::HUGEINT)")
    s"""d AS (SELECT doc_id, text, length(text) AS n FROM documents
       |       WHERE length(text) >= $k),
       |pos AS (SELECT doc_id, text, n, unnest(range(1, n - $k + 2)) AS i FROM d),
       |g AS (SELECT doc_id, n, i, ${SqlHash.toSigned(fnv)} AS h FROM pos),
       |wmins AS (SELECT doc_id, n, i,
       |        min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                     ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin
       |      FROM g),
       |fps AS (SELECT DISTINCT doc_id, wmin AS fp FROM wmins
       |        WHERE i <= greatest(n - $k + 1 - ${w - 1}, 1))""".stripMargin
  }

  /** Benchmark decontamination — probe docs are doc_id < 5; a corpus
    * doc is contaminated when it shares >= 2 winnowing fingerprints
    * with a probe. Value-level oracle via the DuckDB fingerprint
    * mirror ([[winnowFpsCte]]). */
  def contaminationQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.contamination(
      docs(s, d), "doc_id", "text",
      docs(s, d).filter(col("doc_id") < 5), "doc_id", "text")
      .orderBy("doc_id", "probe_id")

  val contaminationSql: String =
    s"""WITH ${winnowFpsCte(k = 8, w = 4)}
       |SELECT c.doc_id AS doc_id, p.probe_id, count(*) AS n_shared_fp
       |FROM fps c JOIN
       |  (SELECT doc_id AS probe_id, fp FROM fps WHERE doc_id < 5) p USING (fp)
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_id, probe_id""".stripMargin

  /** Winnowing fingerprint counts per document, value-checked against
    * the DuckDB mirror of the FNV k-gram + window-min arithmetic. */
  def docFingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprints(docs(s, d), "doc_id", "text")
      .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      .orderBy("doc_id")

  val docFingerprintSql: String =
    s"""WITH ${winnowFpsCte(k = 8, w = 4)}
       |SELECT doc_id, count(*) AS n_fp FROM fps
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- multimodal ----

  /** Stub-codec decode over binary media columns; the byte-derived
    * metadata is mirrored arithmetically in SQL, so the mapPartitions
    * plumbing is verified end-to-end. */
  def multimodal(s: SparkSession, d: String): DataFrame = {
    val media = docs(s, d).select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("blob"))
    Multimodal.decode(Multimodal.repartitionForMedia(media, "blob", 1L << 20),
        "media_id", "blob")
      .orderBy("media_id")
  }

  val multimodalSql: String =
    """SELECT doc_id AS media_id,
      |  octet_length(encode(text)) AS n_bytes,
      |  CAST(octet_length(encode(text)) % 640 + 16 AS INT) AS width,
      |  CAST(octet_length(encode(text)) % 480 + 16 AS INT) AS height,
      |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS frames
      |FROM documents ORDER BY media_id""".stripMargin

  /** REAL-codec decode gate: the deterministic [[MediaFixtures]]
    * corpus — actual PNG/JPEG/GIF/BMP, WAV/AIFF/AU, MP4/Matroska
    * blobs plus corrupt rows — pushed through ALL four production
    * decode paths (ImageIoCodec, JavaSoundCodec, VideoContainerCodec,
    * and ImageIoResizer→re-decode), hash-matched against the
    * fixtures' DECLARED metadata ([[multimodalRealSql]] is a VALUES
    * literal compiled from the fixture specs, independent of any
    * codec). Non-matching modalities must produce the corrupt-row
    * sentinel (-1, -1, 0) — the routing behavior a mixed media table
    * relies on. Output: (media_id, modality, meta1, meta2, meta3)
    * where image/video rows carry (width, height, frames) and audio
    * rows (sample_rate, channels, pcm_frames).
    *
    * The corpus is driver-built (18 rows) because the gate needs
    * known bytes; the decode itself is the same per-partition
    * mapPartitions plumbing a table-sourced 100 TB corpus runs. */
  def multimodalReal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = MediaFixtures.all.map(f => (f.id, f.blob))
      .toDF("media_id", "blob")
    def shape(df: DataFrame, modality: String): DataFrame =
      df.select(col("media_id"), lit(modality).as("modality"),
        col("width").cast("long").as("meta1"),
        col("height").cast("long").as("meta2"),
        col("frames").cast("long").as("meta3"))
    val image = shape(
      Multimodal.decode(media, "media_id", "blob", Multimodal.ImageIoCodec),
      "image")
    val audio = Multimodal.decodeAudio(media, "media_id", "blob")
      .select(col("media_id"), lit("audio").as("modality"),
        col("sample_rate").cast("long").as("meta1"),
        col("channels").cast("long").as("meta2"),
        col("n_frames").as("meta3"))
    val video = shape(
      Multimodal.decode(media, "media_id", "blob", Multimodal.VideoContainerCodec),
      "video")
    val rescaled = shape(
      Multimodal.decode(
        Multimodal.resize(media, "media_id", "blob", 8, 6, Multimodal.ImageIoResizer)
          .select("media_id", "blob"),
        "media_id", "blob", Multimodal.ImageIoCodec),
      "image_resized")
    image.union(audio).union(video).union(rescaled)
      .orderBy("media_id", "modality")
  }

  /** VALUES oracle from the DECLARED fixture metadata (never from a
    * codec run): 18 fixtures × 4 decode paths. Lazy — forcing
    * MediaFixtures.all eagerly encodes the whole media corpus
    * (ImageIO/javax.sound/MP4 assembly), which an unrelated query's
    * object init shouldn't pay for. */
  lazy val multimodalRealSql: String = {
    val rows = MediaFixtures.all.flatMap { f =>
      Seq(("audio", f.audio), ("image", f.image),
        ("image_resized", f.imageResized), ("video", f.video)).map {
        case (m, e) => s"(${f.id}, '$m', ${e.m1}, ${e.m2}, ${e.m3})"
      }
    }
    s"""SELECT CAST(media_id AS BIGINT) AS media_id, modality,
       |  CAST(meta1 AS BIGINT) AS meta1, CAST(meta2 AS BIGINT) AS meta2,
       |  CAST(meta3 AS BIGINT) AS meta3
       |FROM (VALUES ${rows.mkString(",\n  ")})
       |  AS t(media_id, modality, meta1, meta2, meta3)
       |ORDER BY media_id, modality""".stripMargin
  }

  // ---- aspect-ratio bucketing ----

  private val aspectBuckets = Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16))
  private val aspectDims =
    Seq((1L, 64, 64), (2L, 80, 60), (3L, 60, 80), (4L, 96, 54),
      (5L, 54, 96), (6L, 72, 48), (7L, 100, 100))

  /** Aspect-ratio bucketing through the REAL codec path: authored
    * images of varied dimensions are encoded (javax.imageio),
    * re-decoded, and assigned to the rationally-nearest aspect
    * bucket; a corrupt blob is dropped. The oracle re-derives the
    * assignment INDEPENDENTLY from the declared dimensions with the
    * same exact integer arithmetic (cost scaled by the bh product),
    * so encode→decode→dims AND the argmin are both certified. */
  def aspectBucketQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = (aspectDims.map { case (id, w, h) =>
        (id, graft.operators.MediaFixtures.customImage(w, h, "png"))
      } :+ ((8L, "not an image".getBytes("UTF-8"))))
      .toDF("media_id", "blob")
    graft.operators.Multimodal.aspectBucket(media, "media_id", "blob",
        aspectBuckets, graft.operators.Multimodal.ImageIoCodec)
      .orderBy("media_id")
  }

  val aspectBucketSql: String = {
    val bhProd = aspectBuckets.map(_._2.toLong).product
    val m = aspectDims.map { case (id, w, h) => s"($id, $w, $h)" }.mkString(", ")
    val b = aspectBuckets.zipWithIndex.map { case ((bw, bh), i) =>
      s"($i, $bw, $bh, ${bhProd / bh})" }.mkString(", ")
    s"""WITH m(media_id, w, h) AS (VALUES $m),
       |b(bi, bw, bh, c) AS (VALUES $b),
       |costed AS (SELECT m.media_id, m.w, m.h, b.bi, b.bw, b.bh,
       |    abs(m.w * b.bh - b.bw * m.h)::BIGINT * b.c AS cost
       |  FROM m, b),
       |pick AS (SELECT *, row_number() OVER
       |    (PARTITION BY media_id ORDER BY cost, bi) AS rn FROM costed)
       |SELECT media_id::BIGINT AS media_id, w::INT AS width,
       |  h::INT AS height, bi::INT AS bucket,
       |  bw::INT AS bucket_w, bh::INT AS bucket_h
       |FROM pick WHERE rn = 1 ORDER BY media_id""".stripMargin
  }

  // ---- image perceptual-hash dedup ----

  private val dhBase: (Int, Int) => Int = MediaFixtures.patternGreen
  private val dhBumped: (Int, Int) => Int =
    (x, y) => if (x < 8 && y < 6) math.min(dhBase(x, y) + 60, 255) else dhBase(x, y)
  private val dhReversed: (Int, Int) => Int = (x, y) => 254 - dhBase(x, y)

  /** dHash gate corpus: base pattern (png), a one-block bump (png,
    * within hamming radius), the SAME pattern as bmp (cross-format
    * exact perceptual dup), a reversed gradient (far), an undersized
    * image and a corrupt blob (both NULL-hash, dropped). */
  private def dhashCorpus(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, MediaFixtures.customImage(72, 48, "png")),
      (2L, MediaFixtures.customImage(72, 48, "png", dhBumped)),
      (3L, MediaFixtures.customImage(72, 48, "bmp")),
      (4L, MediaFixtures.customImage(72, 48, "png", dhReversed)),
      (5L, MediaFixtures.customImage(4, 4, "png")),
      (6L, "definitely not an image".getBytes("UTF-8"))
    ).toDF("img_id", "blob")
  }

  /** Image near-dup detection through the REAL codec path: encode →
    * javax.imageio decode → dHash → bucketed hamming pairs. The
    * oracle recomputes expected hashes from the AUTHORED pattern
    * closed form (never touching encoded bytes), so the gate
    * certifies the whole encode→decode→hash pipeline. */
  def imageDedupQ(s: SparkSession, d: String): DataFrame =
    Dedup.hammingPairs(
        Multimodal.imageDHash(dhashCorpus(s), "img_id", "blob"),
        "img_id", "dhash", maxHamming = 3)
      .orderBy("a_id", "b_id")

  lazy val imageDedupSql: String = {
    def hash(green: (Int, Int) => Int): Long =
      Multimodal.dhashOfPixels((x, y) => 587 * green(x, y) / 1000, 72, 48).get
    val hs = Seq(1L -> hash(dhBase), 2L -> hash(dhBumped),
      3L -> hash(dhBase), 4L -> hash(dhReversed))
    val pairs = for {
      (a, ha) <- hs
      (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield s"($a, $b, $d)"
    require(pairs.nonEmpty, "dHash gate corpus must contain near-dup pairs")
    s"""SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       |  CAST(hamming AS INT) AS hamming
       |FROM (VALUES ${pairs.mkString(", ")}) AS t(a_id, b_id, hamming)
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- audio perceptual-hash dedup ----

  private val afBase: Int => Int =
    k => ((k % 97) - 48) * ((k / 64) % 50 + 1)
  private val afBumped: Int => Int =
    k => afBase(k) + (if (k < 300) 500 else 0)
  private val afOther: Int => Int =
    k => ((k % 89) - 44) * (50 - (k / 64) % 50)

  /** Audio fingerprint gate corpus: base waveform as WAV (LE), an
    * early-window bump (near-dup), the SAME samples as AIFF (BE —
    * cross-container/endianness exact perceptual dup), a different
    * envelope (far), an under-65-frame clip and a corrupt blob (both
    * NULL, dropped). */
  private def audioCorpus(s: SparkSession): DataFrame = {
    import s.implicits._
    import javax.sound.sampled.AudioFileFormat.Type.{AIFF, WAVE}
    Seq(
      (1L, MediaFixtures.customPcm(WAVE, 16000, 1, 8000, bigEndian = false, afBase)),
      (2L, MediaFixtures.customPcm(WAVE, 16000, 1, 8000, bigEndian = false, afBumped)),
      (3L, MediaFixtures.customPcm(AIFF, 16000, 1, 8000, bigEndian = true, afBase)),
      (4L, MediaFixtures.customPcm(WAVE, 16000, 1, 8000, bigEndian = false, afOther)),
      (5L, MediaFixtures.customPcm(WAVE, 16000, 1, 50, bigEndian = false, afBase)),
      (6L, "not audio at all".getBytes("UTF-8"))
    ).toDF("clip_id", "blob")
  }

  /** Audio near-dup detection through the REAL decode path: author →
    * WAV/AIFF encode → javax.sound decode → energy-envelope dHash →
    * bucketed hamming pairs. The oracle recomputes fingerprints from
    * the AUTHORED sample closed form, so the gate certifies container
    * parsing, endianness handling, and the hash end-to-end. */
  def audioDedupQ(s: SparkSession, d: String): DataFrame =
    Dedup.hammingPairs(
        Multimodal.audioFingerprint(audioCorpus(s), "clip_id", "blob"),
        "clip_id", "afp", maxHamming = 3)
      .orderBy("a_id", "b_id")

  lazy val audioDedupSql: String = {
    def fp(sample: Int => Int): Long =
      Multimodal.dhashOfSeries(
        i => math.abs(sample(i).toShort.toLong), 8000).get
    val hs = Seq(1L -> fp(afBase), 2L -> fp(afBumped),
      3L -> fp(afBase), 4L -> fp(afOther))
    val pairs = for {
      (a, ha) <- hs
      (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield s"($a, $b, $d)"
    require(pairs.nonEmpty, "audio gate corpus must contain near-dup pairs")
    s"""SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
       |  CAST(hamming AS INT) AS hamming
       |FROM (VALUES ${pairs.mkString(", ")}) AS t(a_id, b_id, hamming)
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---- point-in-time (as-of) join ----

  /** Each click event annotated with the user's most recent purchase
    * value at or before the click — the point-in-time feature join
    * (AsofJoin: union-tag + one window pass, one shuffle). The right
    * side is pre-aggregated to one row per (user, ts) because equal-
    * time duplicates make "the most recent row" ambiguous in any
    * engine. Oracle: DuckDB's native ASOF LEFT JOIN. */
  def asofQ(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
    AsofJoin.backward(clicks, purchases, Seq("user_id"),
        leftTime = "ts", rightTime = "ts", payload = Seq("purchase_value"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("purchase_value"),
        (unix_millis(col("ts")) - unix_millis(col("__asof_time"))).as("millis_since"))
      .orderBy("event_id")
  }

  val asofSql: String =
    """WITH l AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'click'),
      |r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
      |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT l.event_id, l.user_id, l.ts, r.purchase_value,
      |  CAST(epoch_ms(l.ts) - epoch_ms(r.ts) AS BIGINT) AS millis_since
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  // ---- line-level dedup (boilerplate removal) ----

  /** CCNet-style corpus-wide line dedup. The corpus has no newlines,
    * so both engines first inject one after every 3rd token with the
    * IDENTICAL regex (25-word vocabulary × 3-token lines → plenty of
    * genuine cross-document duplicate lines); lines occurring > 2×
    * corpus-wide are boilerplate and drop everywhere. */
  def lineDedupQ(s: SparkSession, d: String): DataFrame = {
    val withLines = docs(s, d).select(col("doc_id"),
      regexp_replace(col("text"), "((\\S+ ){2}\\S+) ", "$1\n").as("text"))
    TextAnalysis.lineDedup(withLines, "doc_id", "text", maxOccurrences = 2L)
      .orderBy("doc_id")
  }

  val lineDedupSql: String =
    """WITH d2 AS (SELECT doc_id,
      |    regexp_replace(text, '((\S+ ){2}\S+) ', '\1' || chr(10), 'g') AS t
      |  FROM documents),
      |lines AS (SELECT doc_id, ls[p] AS line, p AS pos
      |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d2),
      |    UNNEST(range(1, len(ls) + 1)) AS r(p)),
      |hot AS (SELECT line FROM lines GROUP BY line HAVING count(*) > 2),
      |kept AS (SELECT l.* FROM lines l ANTI JOIN hot h ON l.line = h.line),
      |agg AS (SELECT doc_id,
      |    string_agg(line, chr(10) ORDER BY pos) AS text_clean,
      |    count(*) AS n_kept
      |  FROM kept GROUP BY doc_id)
      |SELECT d2.doc_id,
      |  coalesce(a.text_clean, '') AS text_clean,
      |  coalesce(a.n_kept, 0) AS n_kept,
      |  len(string_split(d2.t, chr(10))) - coalesce(a.n_kept, 0) AS n_dropped
      |FROM d2 LEFT JOIN agg a USING (doc_id)
      |ORDER BY d2.doc_id""".stripMargin

  // ---- dedup normalization ----

  /** CCNet normalization pass over the corpus — identical operation
    * chain in both engines (DuckDB's strip_accents = NFD +
    * combining-mark removal on Latin text, same as the engine's
    * StripAccents expression). */
  def normalizeQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.normalizeForDedup(docs(s, d), "doc_id", "text")
      .orderBy("doc_id")

  val normalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    strip_accents(regexp_replace(lower(text), '[0-9]', '0', 'g')),
      |    '\s+', ' ', 'g')) AS text_norm
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- PII redaction ----

  /** PII scrub under the hash gate. The synthetic corpus carries no
    * PII, so each doc's text is AUGMENTED deterministically from
    * doc_id (an email always; SSN / IP / phone on id mod 3/2/5) by
    * IDENTICAL expressions on both engines — the gate then certifies
    * the regex machinery itself: Java and RE2 must agree on every
    * match boundary for the redacted strings and counts to
    * hash-match. Pure projection, zero shuffle (Pii.scala). */
  def piiRedactQ(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    def lp(m: Int, w: Int) = lpad((id % m).cast("string"), w, "0")
    val aug = concat(
      col("text"),
      lit(" contact user"), id.cast("string"),
      lit("@mail"), (id % 7).cast("string"), lit(".org"),
      when(id % 3 === 0, concat(lit(" ssn 123-45-"), lp(10000, 4)))
        .otherwise(lit("")),
      when(id % 2 === 0,
        concat(lit(" from 10."), (id % 256).cast("string"),
          lit(".0."), ((id * 7) % 256).cast("string")))
        .otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" call +1 555-"), lp(1000, 3), lit("-"), lp(10000, 4)))
        .otherwise(lit("")))
    Pii.redact(docs(s, d).select(id, aug.as("text")))
      .select(col("doc_id"), col("clean"), col("n_email"), col("n_ssn"),
        col("n_ip"), col("n_phone"), col("n_pii"))
      .orderBy("doc_id")
  }

  val piiRedactSql: String = {
    // NB: continuation lines must not START with the || operator —
    // stripMargin would eat its first pipe
    val aug =
      """text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |  '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.org' ||
        |  CASE WHEN doc_id % 3 = 0
        |       THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END ||
        |  CASE WHEN doc_id % 2 = 0
        |       THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
        |         '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        |       ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0
        |       THEN ' call +1 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
        |         '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END""".stripMargin
    s"""WITH aug AS (SELECT doc_id, $aug AS text FROM documents)
       |SELECT doc_id, ${Pii.mirrorClean("text")} AS clean,
       |  ${Pii.mirrorCounts("text").mkString(",\n  ")},
       |  ${Pii.patterns.map(p => s"n_${p._1}").mkString(" + ")} AS n_pii
       |FROM aug ORDER BY doc_id""".stripMargin
  }

  // ---- retention cohorts ----

  /** Cohort retention under the hash gate: users cohorted by their
    * FIRST-activity day, then counted distinct per (cohort, day
    * offset) — the product-analytics companion to q_funnel over the
    * same clickstream. Two user-keyed shuffles (first-day aggregate,
    * then the events⋈cohort join re-using the user partitioning) and
    * one (cohort, offset) partial-agg count-distinct; integer day
    * arithmetic (floor on epoch-days) keeps the mirror exact. */
  def retentionQ(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("user_id"),
      (unix_millis(col("ts")) / lit(86400000L)).cast("long").as("day"))
    val cohorts = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    e.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "offset")
  }

  val retentionSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
      |SELECT c.cohort_day, e.day - c.cohort_day AS offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- k-anonymity suppression ----

  /** k-anonymity release gate under the hash gate: events suppressed
    * on the quasi-identifier (event_type, day, user_id mod 50) at
    * k=5, then per-type totals over the SURVIVING rows — any join-back
    * or threshold error shifts the sums. Decimal-exact value sums for
    * the cross-engine hash. */
  def kAnonymizeQ(s: SparkSession, d: String): DataFrame = {
    val q = Tables.events(s, d).select(
      col("event_type"), date_trunc("day", col("ts")).as("day"),
      pmod(col("user_id"), lit(50)).as("bucket"),
      col("user_id"), col("value"))
    Sampling.kAnonymize(q, Seq("event_type", "day", "bucket"), k = 5L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("user_id")).as("su"),
        Exact.dsum(col("value")).as("sv"))
      .orderBy("event_type")
  }

  val kAnonymizeSql: String =
    s"""WITH q AS (SELECT event_type, date_trunc('day', ts) AS day,
       |    user_id % 50 AS bucket, user_id, value FROM events),
       |keep AS (SELECT event_type, day, bucket FROM q
       |         GROUP BY 1, 2, 3 HAVING count(*) >= 5)
       |SELECT q.event_type, count(*) AS n,
       |  CAST(sum(q.user_id) AS BIGINT) AS su,
       |  ${Exact.sqlSum("q.value")} AS sv
       |FROM q JOIN keep k
       |  ON q.event_type IS NOT DISTINCT FROM k.event_type
       | AND q.day IS NOT DISTINCT FROM k.day
       | AND q.bucket IS NOT DISTINCT FROM k.bucket
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- stream-stream interval join ----

  /** Watermarked stream-stream attribution join under the hash gate:
    * clicks ⋈ preceding views (same user, ≤ 1 hour gap) through REAL
    * AvailableNow micro-batches (staged 4-file parquet source), then
    * hash-matched against the batch self-join mirror. Lateness is set
    * past the corpus's 30-day span so no row is watermark-dropped —
    * making streaming output ≡ batch join exactly (production uses
    * the real disorder bound; eviction semantics are Spark's own).
    * The whole run is one [[GateFixture]], like q_stream_dedup. */
  def streamJoin(s: SparkSession, d: String): DataFrame = synchronized {
    val root = GateFixture.buildOnce("graft_streamjoin_v2", d) { staging =>
      val stage = s"$staging/stage"
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .filter(col("event_type").isin("view", "click"))
        .repartition(4)
        .write.mode("overwrite").parquet(stage)
      val schema = s.read.parquet(stage).schema
      def src() = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val views = src().filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts"))
      val clicks = src().filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"))
      graft.streaming.StreamJoin.intervalJoin(views, clicks,
          "user_id", "vts", "cts", horizon = "1 HOUR", lateness = "60 DAYS")
        .writeStream.format("parquet")
        .option("path", s"$staging/out")
        .option("checkpointLocation", s"$staging/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$staging/out/_spark_metadata"))
    }
    s.read.parquet(s"$root/out")
      .select(col("user_id"), unix_millis(col("vts")).as("vt"),
        unix_millis(col("cts")).as("ct"))
      .orderBy("user_id", "vt", "ct")
  }

  val streamJoinSql: String =
    """SELECT v.user_id, epoch_ms(v.ts) AS vt, epoch_ms(c.ts) AS ct
      |FROM events v JOIN events c
      |  ON v.user_id = c.user_id
      | AND v.event_type = 'view' AND c.event_type = 'click'
      | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY v.user_id, vt, ct""".stripMargin

  // ---- funnel analysis ----

  /** view→click→purchase conversion funnel, 3-day window from the
    * first view, per-user chain times under the hash gate. Greedy-
    * earliest semantics (tᵢ = min step-i ts ≥ tᵢ₋₁, < t1+window);
    * every stage shuffles on user_id only (partitioning reused).
    * Millis-long times keep the cross-engine compare integer-exact. */
  def funnelQ(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("tm"))
    Funnel.funnel(e, "user_id", "event_type", "tm",
        Seq("view", "click", "purchase"), windowMs = 3L * 86400000L)
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        col("steps_completed"))
      .orderBy("user_id")
  }

  val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS tm FROM events),
      |s1 AS (SELECT user_id, min(tm) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.tm) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.tm >= s1.t1
      |         AND e.tm < s1.t1 + 259200000 GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.tm) AS t3
      |       FROM e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.tm >= s2.t2
      |         AND e.tm < s1.t1 + 259200000 GROUP BY e.user_id)
      |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
      |  CAST(1 + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
      |         + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END AS BIGINT)
      |    AS steps_completed
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ---- binned range join ----

  /** Range-join under the hash gate: events matched into 30
    * OVERLAPPING user_id bands `[37i, 37i+55)` via RangeJoin.binned
    * (binWidth 32) and aggregated per band. The mirror is the plain
    * BETWEEN theta join — the bin decomposition must reproduce its
    * exact row set (multi-matches included) to hash-match.
    * RangeJoinSpec additionally pins the no-nested-loop plan. */
  def rangeJoinQ(s: SparkSession, d: String): DataFrame = {
    val bands = s.range(30).select(col("id").as("band_id"),
      (col("id") * 37).as("lo"), (col("id") * 37 + 55).as("hi"))
    val ev = Tables.events(s, d).select(col("user_id"))
    RangeJoin.binned(ev, "user_id", bands, "lo", "hi", binWidth = 32)
      .groupBy("band_id")
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
      .orderBy("band_id")
  }

  val rangeJoinSql: String =
    """SELECT b.i AS band_id, count(*) AS n,
      |  CAST(sum(e.user_id) AS BIGINT) AS sum_uid
      |FROM range(30) b(i) JOIN events e
      |  ON e.user_id >= b.i*37 AND e.user_id < b.i*37 + 55
      |GROUP BY b.i ORDER BY band_id""".stripMargin

  // ---- inverted index ----

  /** Paged inverted index under the hash gate: every (term, page) row
    * with df, page length, and the comma-joined sorted postings —
    * pageSize=16 at gate scale so multi-page terms actually occur.
    * The mirror replays df cut, global rank paging, and page-local
    * ordering in DuckDB. */
  def invertedIndexQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.invertedIndex(docs(s, d), "doc_id", "text",
        minDf = 2L, pageSize = 16)
      .orderBy("term", "page")

  val invertedIndexSql: String =
    """WITH tok AS (SELECT doc_id,
      |    unnest(list_distinct(string_split(lower(text), ' '))) AS term
      |  FROM documents),
      |t AS (SELECT doc_id, term FROM tok WHERE term <> ''),
      |d AS (SELECT term, count(*) AS df FROM t GROUP BY term
      |      HAVING count(*) >= 2),
      |r AS (SELECT t.term, d.df, t.doc_id,
      |    row_number() OVER (PARTITION BY t.term ORDER BY t.doc_id) AS rn
      |  FROM t JOIN d USING (term))
      |SELECT term, (rn - 1) // 16 AS page, df, count(*) AS n,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      |FROM r GROUP BY term, (rn - 1) // 16, df
      |ORDER BY term, page""".stripMargin

  // ---- sign random projection (JL dimensionality reduction) ----

  /** JL sign projection under the hash gate: 64-dim float embeddings
    * → 16-dim doubles (4× smaller — at 100 TB the difference between
    * an in-memory downstream index and not), matrix-free (signs from
    * splitmix64, reproduced on any executor). Every IEEE op is exact
    * (±1 multiply, d-ascending sequential sum, power-of-two 1/√16),
    * so the oracle replays the EXACT doubles — splitmix64 in HUGEINT
    * mod 2^64, coordinate by coordinate. Output flattened to p0..p15
    * columns for a robust cross-engine compare. */
  def randomProjectionQ(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val pr = graft.functions.VectorFunctions.signProjection(col("embedding"), k)
    embs(s, d).select(col("vec_id"), pr.as("pr"))
      .select(col("vec_id") +:
        (0 until k).map(j => element_at(col("pr"), j + 1).as(s"p$j")): _*)
      .orderBy("vec_id")
  }

  val randomProjectionSql: String = {
    val k = 16
    val mix = SqlHash.splitmix64("(j*65536 + d - 1)::HUGEINT")
    s"""WITH p AS (SELECT vec_id,
       |    list_transform(range(0, $k), j -> 0.25 * list_sum(
       |      list_transform(range(1, len(embedding)+1), d ->
       |        CAST(embedding[d] AS DOUBLE) *
       |        CASE WHEN ($mix) % 2 = 1 THEN 1.0 ELSE -1.0 END))) AS pr
       |  FROM embeddings)
       |SELECT vec_id, ${(0 until k).map(j => s"pr[${j + 1}] AS p$j").mkString(", ")}
       |FROM p ORDER BY vec_id""".stripMargin
  }

  // ---- hashed linear quality classifier ----

  /** Classifier inference under the hash gate: per-doc logit + keep
    * flag from TextAnalysis.classifierScore (one-pass codegen'd
    * expression). The oracle rebuilds every feature in DuckDB —
    * unigrams + adjacent bigrams of the lowercased token stream, each
    * FNV-1a-hashed over UTF-8 bytes in HUGEINT mod-2^64 — and
    * re-derives bucket→weight→Σ, so the integer score (not just the
    * keep bit) must agree feature-for-feature across engines. */
  def qualityClassifierQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.classifierScore(docs(s, d), "doc_id", "text")
      .orderBy("doc_id")

  val qualityClassifierSql: String = {
    val fnvTok = SqlHash.fnv1aSql(SqlHash.utf8Codes("f"))
    s"""WITH toks AS (SELECT doc_id,
       |    string_split(lower(text), ' ') AS t FROM documents),
       |feat AS (SELECT doc_id, unnest(list_concat(t,
       |    list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j+1]))) AS f
       |  FROM toks),
       |fh AS (SELECT doc_id, $fnvTok AS hu FROM feat),
       |sc AS (SELECT doc_id,
       |    CAST(sum((hu % 65536::HUGEINT) % 61::HUGEINT - 30::HUGEINT)
       |         AS BIGINT) AS score
       |  FROM fh GROUP BY doc_id)
       |SELECT s.doc_id, s.score,
       |  CAST(2 * len(t.t) - 1 AS BIGINT) AS n_features,
       |  s.score >= 0 AS keep
       |FROM sc s JOIN toks t ON s.doc_id = t.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  /** Classifier inference with a CALLER-SUPPLIED weight table — the
    * trained-model entry point (not the stub): a deterministic
    * non-trivial 2^16-entry table (splitmix64(bucket) mod 1001 − 500,
    * stand-in for a quantized fastText table) is built caller-side
    * and passed to [[TextAnalysis.classifierScore]], so the PLAN
    * carries the supplied array and every lookup reads from it. The
    * oracle re-derives the same table per feature-bucket in HUGEINT
    * arithmetic — scores hash-match only if the supplied-table path
    * is actually exercised end-to-end. */
  def qualityWeightedQ(s: SparkSession, d: String): DataFrame = {
    val weights = Array.tabulate(1 << 16)(b =>
      java.lang.Long.remainderUnsigned(
        graft.functions.SignProjection.mix64(b.toLong), 1001L) - 500L)
    TextAnalysis.classifierScore(docs(s, d), "doc_id", "text",
        weights = Some(weights))
      .orderBy("doc_id")
  }

  val qualityWeightedSql: String = {
    val fnvTok = SqlHash.fnv1aSql(SqlHash.utf8Codes("f"))
    val wt = s"(${SqlHash.splitmix64("b")} % 1001::HUGEINT - 500::HUGEINT)"
    s"""WITH toks AS (SELECT doc_id,
       |    string_split(lower(text), ' ') AS t FROM documents),
       |feat AS (SELECT doc_id, unnest(list_concat(t,
       |    list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j+1]))) AS f
       |  FROM toks),
       |fh AS (SELECT doc_id, $fnvTok AS hu FROM feat),
       |fb AS (SELECT doc_id, hu % 65536::HUGEINT AS b FROM fh),
       |sc AS (SELECT doc_id, CAST(sum($wt) AS BIGINT) AS score
       |  FROM fb GROUP BY doc_id)
       |SELECT s.doc_id, s.score,
       |  CAST(2 * len(t.t) - 1 AS BIGINT) AS n_features,
       |  s.score >= 0 AS keep
       |FROM sc s JOIN toks t ON s.doc_id = t.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  // ---- DSIR importance scoring ----

  /** DSIR data selection under the hash gate: `source = 'src18'` (16
    * docs) plays the curated target corpus; every document gets its
    * smoothed target-vs-raw likelihood-ratio score over the hashed
    * unigram+bigram features. The oracle re-derives the bucket
    * statistics from the same fnv1a feature stream, re-learns the
    * integer weight table with the same Laplace smoothing and floor
    * division, and replays every score — so statistics, table and
    * inference must agree feature-for-feature across engines. */
  def dsirQ(s: SparkSession, d: String): DataFrame =
    graft.operators.ImportanceSelection.dsirScores(
        docs(s, d), "doc_id", "text",
        isTarget = col("source") === "src18", buckets = 4096)
      .orderBy("doc_id")

  val dsirSql: String = {
    val fnvTok = SqlHash.fnv1aSql(SqlHash.utf8Codes("f"))
    s"""WITH toks AS (SELECT doc_id, source,
       |    string_split(lower(text), ' ') AS t FROM documents),
       |feat AS (SELECT doc_id, source, unnest(list_concat(t,
       |    list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j+1]))) AS f
       |  FROM toks),
       |fh AS (SELECT doc_id, source, $fnvTok AS hu FROM feat),
       |fb AS (SELECT doc_id, (hu % 4096::HUGEINT)::BIGINT AS b,
       |    source = 'src18' AS tgt FROM fh),
       |cnt AS (SELECT b,
       |    sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS t,
       |    count(*)::BIGINT AS r
       |  FROM fb GROUP BY b),
       |wt AS (SELECT b, 1000000 * (t + 1) // (r + 1) AS w FROM cnt),
       |sc AS (SELECT fb.doc_id, sum(wt.w)::BIGINT AS dsir_score
       |  FROM fb JOIN wt USING (b) GROUP BY fb.doc_id)
       |SELECT s.doc_id,
       |  CAST(2 * len(t.t) - 1 AS BIGINT) AS n_features,
       |  s.dsir_score,
       |  s.dsir_score::DOUBLE /
       |    (CAST(2 * len(t.t) - 1 AS BIGINT) * 1000000)::DOUBLE AS dsir_avg
       |FROM sc s JOIN toks t USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin
  }

  // ---- HTML text extraction ----

  /** HTML → text under the hash gate. Docs are WRAPPED in a
    * deterministic id-derived HTML page (script with a bare `<`,
    * style, comment, heading, entity-laden paragraph incl. the
    * escaped-entity case `&amp;lt;`) by identical expressions on both
    * engines; extraction must strip markup and decode entities so the
    * recovered text hash-matches — certifying pass order and Java/RE2
    * lazy-quantifier agreement. Pure projection, zero shuffle. */
  def htmlExtractQ(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><script type=\"text/javascript\">var x = 1 < 2;" +
        "</script><style>.c { }</style></head><body><h1>Doc "), id,
      lit("</h1><!-- hidden "), id, lit(" --><p>"), col("text"),
      lit("</p><p>a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;" +
        " f&nbsp;g &amp;lt;h&gt;</p></body></html>"))
    TextAnalysis.htmlExtract(
        docs(s, d).select(col("doc_id"), html.as("html")))
      .select(col("doc_id"), col("text_extracted"), col("n_tags"))
      .orderBy("doc_id")
  }

  val htmlExtractSql: String = {
    val aug =
      """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</title><script type="text/javascript">var x = 1 < 2;' ||
        |  '</script><style>.c { }</style></head><body><h1>Doc ' ||
        |  CAST(doc_id AS VARCHAR) ||
        |  '</h1><!-- hidden ' || CAST(doc_id AS VARCHAR) || ' --><p>' ||
        |  text ||
        |  '</p><p>a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;' ||
        |  ' f&nbsp;g &amp;lt;h&gt;</p></body></html>'""".stripMargin
    s"""WITH aug AS (SELECT doc_id, $aug AS html FROM documents)
       |SELECT doc_id, ${TextAnalysis.htmlExtractMirror("html")} AS text_extracted,
       |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags
       |FROM aug ORDER BY doc_id""".stripMargin
  }

  // ---- salted skew join ----

  /** Skew-robust salted equi-join under the oracle gate: lineitem
    * (the big shuffle side) salted across 8 sub-partitions, part
    * replicated once per salt, then brand-level totals. The salted
    * plan's result is identical to the plain inner join —
    * SaltedJoinSpec pins row-level equality and SkewBench pins the
    * hot-key win; this query hash-matches the plain-join DuckDB
    * oracle, closing the §2 row. Decimal-exact sums (order-
    * independent) make the aggregate bit-comparable cross-engine. */
  def saltedJoinQ(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val pt = Tables.part(s, d)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    SaltedJoin.inner(li, pt, "l_partkey", salts = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        Exact.dsum(col("l_quantity")).as("sum_qty"),
        Exact.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("p_brand")
  }

  val saltedJoinSql: String =
    s"""SELECT p_brand, count(*) AS n,
       |  ${Exact.sqlSum("l_quantity")} AS sum_qty,
       |  ${Exact.sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Bloom-prefiltered exact semi-join under the oracle gate:
    * lineitem rows whose order is URGENT-priority, aggregated per
    * return flag. The bloom (built over the selective orders key set
    * in one pass) drops non-member lineitem rows in the scan stage —
    * before the join exchange — and the exact semi-join removes the
    * bloom's false positives, so this hash-matches the plain
    * IN-subquery DuckDB oracle. BloomJoinSpec pins row-level equality
    * with the un-prefiltered join and the no-false-negative property. */
  def bloomJoinQ(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // expectedItems <= 0 ⇒ bloom sized on the urgent-key side's real
    // count — scale-adaptive (a fixed 1M both oversized the bloom
    // locally, bloating every task binary by 1.2 MB, and would
    // undersize it at 100 TB, silently de-fanging the prefilter)
    BloomJoin.semi(li, urgent, "l_orderkey", "o_orderkey",
        expectedItems = 0L, fpp = 0.01)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val bloomJoinSql: String =
    s"""SELECT l_returnflag, count(*) AS n,
       |  ${Exact.sqlSum("l_quantity")} AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
       |                     WHERE o_orderpriority = '1-URGENT')
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- vocabulary construction ----

  /** Corpus vocabulary: token → document frequency + total count,
    * min-count filtered, top-k by (count desc, token asc) — the BPE /
    * tokenizer-training precursor. One shuffle (token groupBy with
    * map-side partial agg); top-k is TakeOrderedAndProject, never a
    * global sort. */
  def vocabQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabulary(docs(s, d), "doc_id", "text", minCount = 5, topK = 200)

  val vocabSql: String =
    """SELECT word, CAST(count(*) AS BIGINT) AS n, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> ''
      |GROUP BY word HAVING count(*) >= 5
      |ORDER BY n DESC, word ASC LIMIT 200""".stripMargin

  /** Top-3 distinctive terms per document by fixed-point TF-IDF —
    * integer (tf, df, score) end-to-end, hash-exact vs the DuckDB
    * mirror (same space tokenization, same `div` arithmetic: both
    * engines truncate/floor identically on positive operands). */
  def tfidfQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidfTopTerms(docs(s, d), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  val tfidfSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |             FROM documents),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
      |       WHERE term <> '' GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
      |sc AS (SELECT doc_id, term, tf, df, tf * 1000000000 // df AS score
      |       FROM tf JOIN dfq USING (term)),
      |r AS (SELECT doc_id, term, tf, df, score,
      |        CAST(row_number() OVER (PARTITION BY doc_id
      |                                ORDER BY score DESC, term) AS INT) AS rank
      |      FROM sc)
      |SELECT doc_id, term, tf, df, score, rank FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** BPE tokenizer training under the driver gate: 5 merges over the
    * ASCII-clean lowercase words of the corpus. The DuckDB oracle
    * REPLAYS the whole training run level by level — identical word
    * table, identical pair counting, identical (count DESC, left,
    * right) argmax tiebreak, and the identical framed-string `replace`
    * merge apply — so any divergence in counting or greedy-merge
    * semantics breaks the hash. */
  def bpeQ(s: SparkSession, d: String): DataFrame =
    graft.operators.BpeTrainer.bpeMergesDf(docs(s, d), "text",
        numMerges = 5, wordFilter = Some("^[a-z]+$"))
      .orderBy("rank")

  val bpeSql: String = {
    val S = "chr(31)"
    val SS = s"$S || $S"
    def level(i: Int): String = {
      val t = s"t$i"
      s"""p$i AS (SELECT toks[i] AS a, toks[i+1] AS b, sum(n)::BIGINT AS cnt
         |  FROM (SELECT string_split(trim(s, chr(31)), $SS) AS toks, n FROM $t),
         |       LATERAL (SELECT unnest(range(1, len(toks))) AS i) ix
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |t${i + 1} AS (SELECT replace(s, $S || a || $SS || b || $S,
         |                             $S || a || b || $S) AS s, n
         |  FROM $t, b$i)""".stripMargin
    }
    s"""WITH w AS (SELECT word, count(*)::BIGINT AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' AND regexp_full_match(word, '[a-z]+')
       |  GROUP BY word),
       |t0 AS (SELECT $S || array_to_string(
       |    list_transform(range(1, length(word)+1), i -> word[i]), $SS)
       |    || $S AS s, n FROM w),
       |${(0 until 5).map(level).mkString(",\n")}
       |SELECT * FROM (
       |${(0 until 5).map(i =>
          s"  SELECT CAST(${i + 1} AS INT) AS rank, a AS \"left\", b AS \"right\", cnt AS pair_count FROM b$i")
          .mkString("\n  UNION ALL\n")}
       |) ORDER BY rank""".stripMargin
  }

  /** BPE tokenizer APPLICATION under the driver gate — the other half
    * of q_bpe: train the same 5 merges, then SEGMENT the corpus's
    * training-set words with the learned table and aggregate
    * (word, tokens, n_tok) with corpus occurrence counts. The DuckDB
    * oracle re-trains level by level carrying the word through the
    * merge chain, so its final framed strings ARE the segmentations —
    * any divergence in merge order, greedy-replace semantics, or the
    * apply fold breaks the hash. Application itself is a pure per-row
    * projection (5 literal replaces) behind the explode — zero extra
    * shuffle beyond the output groupBy. */
  def bpeSegmentQ(s: SparkSession, d: String): DataFrame = {
    val docsDf = docs(s, d)
    val merges = graft.operators.BpeTrainer.bpeMerges(
      docsDf, "text", numMerges = 5, wordFilter = Some("^[a-z]+$"))
    // aggregate-before-segment: a word's segmentation is a pure
    // function of the word, so counting occurrences FIRST and running
    // the merge chain once per DISTINCT word computes the same
    // (word, toks, n_tok, n) rows with O(|vocab|) replace chains
    // instead of O(total corpus words) — bpeSegmentVocab ≡
    // bpeSegment + groupBy is spec-pinned (BpeTrainerSpec)
    graft.operators.BpeTrainer
      .bpeSegmentVocab(docsDf, "text", merges.map(m => (m._2, m._3)),
        wordFilter = Some("^[a-z]+$"))
      .select(col("word"), array_join(col("tokens"), " ").as("toks"),
        size(col("tokens")).as("n_tok"), col("n"))
      .orderBy("word")
  }

  val bpeSegmentSql: String = {
    val S = "chr(31)"
    val SS = s"$S || $S"
    def level(i: Int): String = {
      val t = s"t$i"
      s"""p$i AS (SELECT toks[i] AS a, toks[i+1] AS b, sum(n)::BIGINT AS cnt
         |  FROM (SELECT string_split(trim(s, chr(31)), $SS) AS toks, n FROM $t),
         |       LATERAL (SELECT unnest(range(1, len(toks))) AS i) ix
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
         |t${i + 1} AS (SELECT word, replace(s, $S || a || $SS || b || $S,
         |                             $S || a || b || $S) AS s, n
         |  FROM $t, b$i)""".stripMargin
    }
    s"""WITH w AS (SELECT word, count(*)::BIGINT AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' AND regexp_full_match(word, '[a-z]+')
       |  GROUP BY word),
       |t0 AS (SELECT word, $S || array_to_string(
       |    list_transform(range(1, length(word)+1), i -> word[i]), $SS)
       |    || $S AS s, n FROM w),
       |${(0 until 5).map(level).mkString(",\n")}
       |SELECT word,
       |  array_to_string(string_split(trim(s, chr(31)), $SS), ' ') AS toks,
       |  CAST(len(string_split(trim(s, chr(31)), $SS)) AS INT) AS n_tok,
       |  n
       |FROM t5 ORDER BY word""".stripMargin
  }

  // ---- deterministic corpus shuffle ----

  /** Global training-order shuffle under the driver gate: every
    * document gets a dense position in seeded-hash order. The oracle
    * replays Spark's seeded xxhash64 via [[SqlHash.xxh64LongSteps]]
    * and ranks globally, so the ENTIRE permutation — every position,
    * every shard — is value-checked, certifying that the sharded
    * rank decomposition (per-shard row_number + offset table)
    * reproduces the one-task global sort it replaces. */
  def shuffleOrderQ(s: SparkSession, d: String): DataFrame =
    graft.operators.ShuffleOrder.order(docs(s, d).select(col("doc_id")),
        "doc_id", seed = 7L, shardBits = 3)
      .select(col("pos"), col("shard"), col("doc_id"))
      .orderBy("pos")

  val shuffleOrderSql: String = {
    val steps = SqlHash.xxh64LongSteps("hx", "d0", "doc_id",
      keep = Seq("doc_id"), seed = 7L, out = "h")
    // shard = top 3 bits of the unsigned hash = h // 2^61
    s"""WITH d0 AS (SELECT doc_id FROM documents),
       |$steps
       |SELECT (row_number() OVER (ORDER BY h, doc_id) - 1)::BIGINT AS pos,
       |  (h // 2305843009213693952::HUGEINT)::BIGINT AS shard,
       |  doc_id
       |FROM hx ORDER BY pos""".stripMargin
  }

  // ---- BM25 retrieval ----

  /** BM25 top-20 for a 3-term query under the driver gate. The
    * mirror replays tf, dl, the corpus stats, the rational idf and
    * the EXACT double expression (constants 2.2/1.2/0.25/0.75 are
    * bit-identical IEEE literals in both dialects; dl·N/total_len
    * spelled the same), with the per-doc sum routed through
    * DECIMAL(38,6) on both engines — so every score bit and the
    * full ranking are value-checked. */
  def bm25Q(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.bm25TopK(docs(s, d), "doc_id", "text",
      queryTerms = Seq("spark", "window", "agg"), k = 20)

  val bm25Sql: String = bm25SqlK(20)

  /** `docWhere` optionally restricts which documents are IN the
    * index/corpus (a delete gate's remainder). */
  private def bm25SqlK(k: Int, docWhere: String = ""): String =
    s"""WITH tf AS (SELECT doc, term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
       |        FROM documents $docWhere)
       |  WHERE term <> '' GROUP BY 1, 2),
       |dl AS (SELECT doc, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc),
       |st AS (SELECT sum(dl)::BIGINT AS total_len, count(*)::BIGINT AS n_docs
       |       FROM dl),
       |qtf AS (SELECT * FROM tf WHERE term IN ('spark', 'window', 'agg')),
       |qdf AS (SELECT term, count(*)::BIGINT AS df FROM qtf GROUP BY term),
       |c AS (SELECT q.doc,
       |    (q.tf::DOUBLE * 2.2) /
       |      (q.tf::DOUBLE + 1.2 * (0.25 + 0.75 *
       |        (d.dl::DOUBLE * s.n_docs / s.total_len)))
       |      * (1000000000 // f.df)::DOUBLE AS contrib
       |  FROM qtf q JOIN qdf f USING (term) JOIN dl d USING (doc), st s),
       |g AS (SELECT doc, count(*)::BIGINT AS n_terms,
       |        ${graft.queries.Exact.sqlSum("contrib")} AS score
       |      FROM c GROUP BY doc)
       |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc ASC) AS INT)
       |    AS rank,
       |  doc AS doc_id, n_terms, score
       |FROM g ORDER BY score DESC, doc ASC LIMIT $k""".stripMargin

  /** The q_bm25_multi query batch: three queries of 3/2/4 terms —
    * query 0 is EXACTLY q_bm25's query, so the single-query operator's
    * rows must reappear verbatim inside the multi output (spec-pinned
    * equality, and both are independently oracle-gated here). */
  val bm25MultiQueries: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "window", 0L -> "agg",
    1L -> "hash", 1L -> "join",
    2L -> "vector", 2L -> "stream", 2L -> "sort", 2L -> "query")

  /** Multi-query BM25 under the driver gate: one corpus read, three
    * queries scored per (query, doc), per-query top-10 via
    * WindowGroupLimit. The mirror replays the same pruned-postings →
    * per-query contribution → DECIMAL sum pipeline with the query
    * table inlined as VALUES, so every score bit of every query's
    * ranking is value-checked. */
  def bm25MultiQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.operators.TextAnalysis.bm25TopKMulti(docs(s, d), "doc_id", "text",
        bm25MultiQueries.toDF("query_id", "term"), "query_id", "term", k = 10)
      .orderBy("query_id", "rank")
  }

  val bm25MultiSql: String = bm25MultiSqlK(10) +
    "\nORDER BY query_id, rank"

  private def bm25MultiSqlK(k: Int): String = {
    val values = bm25MultiQueries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH tf AS (SELECT doc, term, count(*)::BIGINT AS tf
       |  FROM (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE term <> '' GROUP BY 1, 2),
       |dl AS (SELECT doc, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc),
       |st AS (SELECT sum(dl)::BIGINT AS total_len, count(*)::BIGINT AS n_docs
       |       FROM dl),
       |q(query_id, term) AS (VALUES $values),
       |qt AS (SELECT DISTINCT term FROM q),
       |qtf AS (SELECT tf.* FROM tf JOIN qt USING (term)),
       |qdf AS (SELECT term, count(*)::BIGINT AS df FROM qtf GROUP BY term),
       |c AS (SELECT q.query_id, t.doc,
       |    (t.tf::DOUBLE * 2.2) /
       |      (t.tf::DOUBLE + 1.2 * (0.25 + 0.75 *
       |        (d.dl::DOUBLE * s.n_docs / s.total_len)))
       |      * (1000000000 // f.df)::DOUBLE AS contrib
       |  FROM qtf t JOIN qdf f USING (term) JOIN dl d USING (doc)
       |    JOIN q ON q.term = t.term, st s),
       |g AS (SELECT query_id, doc, count(*)::BIGINT AS n_terms,
       |        ${graft.queries.Exact.sqlSum("contrib")} AS score
       |      FROM c GROUP BY query_id, doc),
       |r AS (SELECT query_id, doc, n_terms, score,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, doc ASC) AS INT) AS rank
       |      FROM g)
       |SELECT query_id::BIGINT AS query_id, rank, doc AS doc_id, n_terms, score
       |FROM r WHERE rank <= $k""".stripMargin
  }

  /** PERSISTED-BM25-INDEX probe under the driver gate: the index is
    * built ONCE over the full documents corpus (a [[GateFixture]], like
    * q_lm_score_indexed's model), then the q_bm25 query runs
    * as a pure index probe — the corpus is never re-tokenized (the
    * probe plan reads only postings/dl parquet, spec-pinned). The
    * shared scoring tail makes indexed ≡ inline bit-for-bit, so the
    * SAME mirror as q_bm25 gates every score bit. */
  def bm25IndexedQ(s: SparkSession, d: String): DataFrame = synchronized {
    probeBm25(s, bm25Index(s, d))
  }

  /** The full-corpus BM25 index shared by q_bm25_indexed,
    * q_stream_bm25, q_hybrid_served and q_stream_hybrid_serve. */
  private def bm25Index(s: SparkSession, d: String): String =
    GateFixture.buildOnce("graft_bm25index_v2", d) { dir =>
      TextAnalysis.writeBm25Index(docs(s, d), "doc_id", "text", dir.getPath)
    }.getPath

  /** The q_bm25 query as a pure probe of the index at `idx`. */
  private def probeBm25(s: SparkSession, idx: String): DataFrame =
    TextAnalysis.scoreWithBm25Index(s, idx,
      queryTerms = Seq("spark", "window", "agg"), k = 20)

  val bm25IndexedSql: String = bm25Sql

  /** INCREMENTAL BM25 index under the driver gate — the write-side
    * analogue of q_ann_ivf_append for lexical retrieval: the index is
    * built on 3/4 of the corpus (doc_id % 4 ≠ 0), the remaining 1/4
    * arrives via appendToBm25Index (postings + lengths appended, meta
    * stats replaced by the exact integer sums), and the q_bm25 query
    * probes the merged index. Integer stat merging makes the merged
    * index bit-identical to a full build, so the SAME full-corpus
    * mirror value-checks every score bit. Build+append run once as one
    * [[GateFixture]] (the documented append crash window is never
    * served). */
  def bm25Append(s: SparkSession, d: String): DataFrame = synchronized {
    probeBm25(s, GateFixture.buildOnce("graft_bm25app_v2", d) { dir =>
      TextAnalysis.writeBm25Index(
        docs(s, d).filter(col("doc_id") % 4 =!= 0), "doc_id", "text", dir.getPath)
      TextAnalysis.appendToBm25Index(
        docs(s, d).filter(col("doc_id") % 4 === 0), "doc_id", "text", dir.getPath)
    }.getPath)
  }

  val bm25AppendSql: String = bm25Sql

  /** BM25 index COMPACTION under the driver gate: built on 3/4 of the
    * corpus, two separate appends land the remaining 1/4 (each append
    * adds its own postings/dl files, eroding the build's term-clustered
    * row-group pruning — the accumulating state), then compactBm25Index
    * re-clusters postings on term and folds dl, touching NOTHING else
    * (meta stats/k1/b/tokenization stay the merged index's). The
    * file-count shrink is asserted loudly inside the gate; because
    * compaction rewrites bytes only, the probe must STILL equal the
    * full-corpus answer — the SAME mirror as q_bm25 value-checks every
    * score bit of the compacted index. */
  def bm25Compact(s: SparkSession, d: String): DataFrame = synchronized {
    probeBm25(s, GateFixture.buildOnce("graft_bm25cmp_v2", d) { dir =>
      val idx = dir.getPath
      TextAnalysis.writeBm25Index(
        docs(s, d).filter(col("doc_id") % 4 =!= 0), "doc_id", "text", idx)
      TextAnalysis.appendToBm25Index(
        docs(s, d).filter(col("doc_id") % 8 === 0), "doc_id", "text", idx)
      TextAnalysis.appendToBm25Index(
        docs(s, d).filter(col("doc_id") % 8 === 4), "doc_id", "text", idx)
      val stats = graft.operators.IndexMaintenance.compactBm25Index(s, idx)
      require(stats.filesAfter < stats.filesBefore,
        s"q_bm25_compact: compaction did not shrink the index — $stats")
    }.getPath)
  }

  val bm25CompactSql: String = bm25Sql

  /** BM25 index DELETE under the driver gate — the takedown path the
    * append's refusal message promises: the index is built on the FULL
    * corpus, then every doc_id ≡ 0 (mod 4) is deleted via
    * deleteFromBm25Index (postings/dl anti-joined and swapped; corpus
    * stats RECOMPUTED from the surviving dl as exact integer sums —
    * recompute converges on retry where a decrement would leave stale
    * stats after a crash). The mirror is q_bm25's pipeline over
    * `documents WHERE NOT (doc_id % 4 = 0)` — i.e. a from-scratch
    * build on the remainder: delete(ids) ∘ build(corpus) ≡
    * build(corpus ∖ ids), every score bit value-checked. */
  def bm25Delete(s: SparkSession, d: String): DataFrame = synchronized {
    probeBm25(s, GateFixture.buildOnce("graft_bm25del_v2", d) { dir =>
      TextAnalysis.writeBm25Index(docs(s, d), "doc_id", "text", dir.getPath)
      graft.operators.IndexMaintenance.deleteFromBm25Index(
        docs(s, d).filter(col("doc_id") % 4 === 0).select("doc_id"),
        "doc_id", dir.getPath)
    }.getPath)
  }

  val bm25DeleteSql: String = bm25SqlK(20, "WHERE NOT (doc_id % 4 = 0)")

  /** STREAMING BM25 serving against the persisted index: the
    * q_bm25_multi query batch staged as one parquet FILE PER QUERY,
    * one file per AvailableNow micro-batch (queries are the streaming
    * unit — a query's term rows must arrive within one batch), each
    * batch scored as a pure index probe and appended replay-safe to
    * the sink. The index is FIXED ⇒ per-query results are
    * batch-boundary-independent ⇒ stream output ≡ the batch
    * multi-query operator — the SAME mirror as q_bm25_multi gates it.
    * The whole run is one [[GateFixture]], like q_stream_lm_score. */
  def streamBm25(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val idxBase = bm25Index(s, d)
    val root = GateFixture.buildOnce("graft_streambm25_v2", d) { staging =>
      val stage = s"$staging/stage"
      // one file per query_id = one micro-batch per whole query
      for (qid <- bm25MultiQueries.map(_._1).distinct)
        bm25MultiQueries.filter(_._1 == qid).toDF("query_id", "term")
          .coalesce(1).write.mode("append").parquet(stage)
      val schema = s.read.parquet(stage).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      graft.streaming.StreamingBm25Score.run(s, src, idxBase,
        "query_id", "term", k = 10,
        sinkPath = s"$staging/out", checkpoint = s"$staging/ckpt")
    }
    s.read.parquet(s"$root/out/batch-*").orderBy("query_id", "rank")
  }

  val streamBm25Sql: String = bm25MultiSql

  /** STREAMING BM25 index INGEST under the driver gate — the
    * write-side composition q_stream_bm25 serves from: the index is
    * built on 2/3 of the corpus, the remaining third arrives as an
    * AvailableNow document stream in three micro-batches
    * (StreamingIndexIngest.bm25 — each batch a guarded exactly-once
    * append), the stream SELF-TENDS (the Bm25MaintenancePolicy hook
    * fires compactBm25Index mid-stream), and the gate output is the
    * multi-query probe of the ingested index. Stream-ingest ∪ build ≡
    * a from-scratch build on the full corpus (appends carry exact
    * integer corpus stats; compaction is probe-identical), so the
    * mirror is EXACTLY q_bm25_multi's — every score bit of every
    * query's ranking value-checks the whole ingest→tend→serve loop. */
  def streamBm25Ingest(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val root = GateFixture.buildOnce("graft_streamingest_v2", d) { staging =>
      TextAnalysis.writeBm25Index(docs(s, d).filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", s"$staging/idx")
      docs(s, d).filter(col("doc_id") % 3 === 0).repartition(3)
        .write.parquet(s"$staging/stage")
      val src = s.readStream
        .schema(s.read.parquet(s"$staging/stage").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$staging/stage")
      graft.streaming.StreamingIndexIngest.bm25(src, s"$staging/idx",
        "doc_id", "text", checkpoint = s"$staging/ckpt",
        ingestId = "gate",
        maintain = Some(graft.operators.IndexMaintenance
          .Bm25MaintenancePolicy(maxFileBloat = 2.0)))
    }
    TextAnalysis.scoreWithBm25IndexMulti(s, s"$root/idx",
        bm25MultiQueries.toDF("query_id", "term"), "query_id", "term", k = 10)
      .orderBy("query_id", "rank")
  }

  val streamBm25IngestSql: String = bm25MultiSql

  // ---- hybrid rank fusion (RRF) ----

  /** Hybrid retrieval under the driver gate: BM25 top-30 for the
    * 3-term query fused (RRF, k=60) with a top-30 corpus-familiarity
    * quality prior. The integer fixed-point contributions make every
    * fused score hash-exact; the mirror composes the two
    * already-bit-exact ranker mirrors and replays the same fusion. */
  def hybridRankQ(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the BM25 pass and the familiarity pass are independent corpus
    // scans that meet only at the fusion — materialize both top-30
    // lists concurrently (guide §2.6; see operators.Concurrent)
    val (bm, fam) = graft.operators.Concurrent.materialize2(
      () => graft.operators.TextAnalysis.bm25TopK(docs(s, d), "doc_id", "text",
          queryTerms = Seq("spark", "window", "agg"), k = 30)
        .select(col("doc_id"), col("rank")),
      () => {
        val famOrd = Window.orderBy(col("familiarity").desc, col("doc_id").asc)
        graft.operators.TextAnalysis
          .ngramFamiliarity(docs(s, d), "doc_id", "text")
          .orderBy(col("familiarity").desc, col("doc_id").asc).limit(30)
          .withColumn("rank", row_number().over(famOrd))
          .select(col("doc_id"), col("rank"))
      })
    graft.operators.RankFusion.rrf(Seq(bm, fam), "doc_id", "rank",
        kConst = 60, topK = 10)
      .orderBy("fused_rank")
  }

  // lazy: composes ngramFamSql, declared later in this object
  lazy val hybridRankSql: String =
    s"""WITH bm AS (SELECT doc_id, rank FROM (${bm25SqlK(30)})),
       |fam0 AS (SELECT doc_id, familiarity FROM ($ngramFamSql)
       |         ORDER BY familiarity DESC, doc_id LIMIT 30),
       |fam AS (SELECT doc_id, row_number() OVER
       |          (ORDER BY familiarity DESC, doc_id) AS rank FROM fam0),
       |u AS (SELECT doc_id, 1000000000000 // (60 + rank) AS c FROM bm
       |      UNION ALL
       |      SELECT doc_id, 1000000000000 // (60 + rank) AS c FROM fam),
       |g AS (SELECT doc_id, count(*)::BIGINT AS n_lists,
       |        sum(c)::BIGINT AS rrf_score FROM u GROUP BY doc_id),
       |t AS (SELECT * FROM g ORDER BY rrf_score DESC, doc_id LIMIT 10)
       |SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
       |    AS fused_rank,
       |  doc_id, n_lists, rrf_score
       |FROM t ORDER BY fused_rank""".stripMargin

  /** Multi-query hybrid retrieval under the driver gate: per-query
    * BM25 top-30 lists (q_bm25_multi's 3-query batch) fused per query
    * (RankFusion.rrfGrouped) with the corpus-familiarity quality
    * prior (top-30, replicated per query — bounded crossJoin of two
    * tiny tables). Integer fixed-point contributions ⇒ every fused
    * score of every query hash-exact; the mirror composes the two
    * bit-exact ranker mirrors and replays the grouped fusion. */
  def hybridMultiQ(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val queries = bm25MultiQueries.toDF("query_id", "term")
    // the per-query BM25 pass and the corpus-familiarity pass are
    // independent corpus scans that meet only at the fusion —
    // materialize both concurrently (guide §2.6; operators.Concurrent)
    val (bm, fam0) = graft.operators.Concurrent.materialize2(
      () => graft.operators.TextAnalysis.bm25TopKMulti(
          docs(s, d), "doc_id", "text", queries, "query_id", "term", k = 30)
        .select(col("query_id"), col("doc_id"), col("rank")),
      () => {
        val famOrd = Window.orderBy(col("familiarity").desc, col("doc_id").asc)
        graft.operators.TextAnalysis
          .ngramFamiliarity(docs(s, d), "doc_id", "text")
          .orderBy(col("familiarity").desc, col("doc_id").asc).limit(30)
          .withColumn("rank", row_number().over(famOrd))
          .select(col("doc_id"), col("rank"))
      })
    val qids = queries.select(col("query_id")).distinct()
    val fam = fam0.crossJoin(broadcast(qids))
      .select(col("query_id"), col("doc_id"), col("rank"))
    graft.operators.RankFusion.rrfGrouped(Seq(bm, fam),
        "query_id", "doc_id", "rank", kConst = 60, topK = 10)
      .orderBy("query_id", "fused_rank")
  }

  lazy val hybridMultiSql: String = {
    val values = bm25MultiQueries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH bm AS (SELECT query_id, doc_id, rank FROM (${bm25MultiSqlK(30)})),
       |fam0 AS (SELECT doc_id, familiarity FROM ($ngramFamSql)
       |         ORDER BY familiarity DESC, doc_id LIMIT 30),
       |fam1 AS (SELECT doc_id, row_number() OVER
       |          (ORDER BY familiarity DESC, doc_id) AS rank FROM fam0),
       |qv(query_id, term) AS (VALUES $values),
       |q AS (SELECT DISTINCT query_id::BIGINT AS query_id FROM qv),
       |fam AS (SELECT q.query_id, f.doc_id, f.rank FROM fam1 f, q),
       |u AS (SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c FROM bm
       |      UNION ALL
       |      SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c FROM fam),
       |g AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_lists,
       |        sum(c)::BIGINT AS rrf_score FROM u GROUP BY query_id, doc_id),
       |r AS (SELECT query_id, doc_id, n_lists, rrf_score,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY rrf_score DESC, doc_id) AS INT) AS fused_rank
       |      FROM g)
       |SELECT query_id, fused_rank, doc_id, n_lists, rrf_score
       |FROM r WHERE fused_rank <= 10 ORDER BY query_id, fused_rank""".stripMargin
  }

  /** FULLY INDEX-SERVED hybrid retrieval under the driver gate — the
    * production serving composition every persisted-index piece
    * exists for, certified end to end as ONE query and exposed as the
    * operator API [[graft.operators.Retrieval.hybridServe]] (this gate
    * certifies exactly that call): per query,
    * the persisted BM25 index serves the lexical top-30
    * (scoreWithBm25IndexMulti — corpus never re-tokenizes), the
    * persisted PQ index nominates top-30 ANN candidates
    * (queryIvfIndexPq, partition-pruned ADC) which re-rank to an
    * exact-cosine top-10 (rerankCandidates), and the two lists fuse
    * per query with RRF (rrfGrouped, k=60). All three stages read
    * ONLY persisted indexes. Queries 0..2 carry both a term set (the
    * q_bm25_multi batch) and an embedding (vec_id = query_id), so the
    * fused doc space is the shared document/vector id space. The
    * mirror composes the two already-bit-exact stage mirrors
    * (bm25MultiSqlK(30), annPqRerankSql) and replays the integer
    * fixed-point fusion — every fused score of every query
    * value-checked. */
  def hybridServedQ(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val queries = Similarity
      .prepareQueries(queriesDf(s, d), "vec_id", "embedding")
      .filter(col("q_id") <= 2)
    graft.operators.Retrieval.hybridServe(s, bm25Index(s, d), pqIndex(s, d),
        bm25MultiQueries.toDF("query_id", "term"), "query_id", "term",
        queries, embs(s, d), "vec_id", "embedding",
        kLex = 30, kNominate = 30, kAnn = 10, nprobe = 4,
        rrfK = 60, topK = 10)
      .orderBy("query_id", "fused_rank")
  }

  lazy val hybridServedSql: String =
    s"""WITH bm AS (SELECT query_id, doc_id, rank FROM (${bm25MultiSqlK(30)})),
       |annr AS (SELECT q_id, n_id, rank FROM ($annPqRerankSql)),
       |ann AS (SELECT q_id::BIGINT AS query_id, n_id AS doc_id, rank
       |        FROM annr WHERE q_id <= 2),
       |u AS (SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c FROM bm
       |      UNION ALL
       |      SELECT query_id, doc_id, 1000000000000 // (60 + rank) AS c FROM ann),
       |g AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_lists,
       |        sum(c)::BIGINT AS rrf_score FROM u GROUP BY query_id, doc_id),
       |r AS (SELECT query_id, doc_id, n_lists, rrf_score,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY rrf_score DESC, doc_id) AS INT) AS fused_rank
       |      FROM g)
       |SELECT query_id, fused_rank, doc_id, n_lists, rrf_score
       |FROM r WHERE fused_rank <= 10 ORDER BY query_id, fused_rank""".stripMargin

  /** STREAMING hybrid serving under the driver gate — q_hybrid_served
    * applied to a QUERY STREAM ([[graft.streaming.StreamingHybridServe]]):
    * the same three queries arrive as whole rows (query_id, terms,
    * embedding), one file per query = one AvailableNow micro-batch,
    * each batch served by the full certified composition (persisted
    * BM25 top-30 ⊕ persisted-PQ nominate → exact re-rank top-10,
    * RRF-fused) over BOTH index states loaded once at stream start,
    * written replay-safe to per-batch sink dirs. Whole-row queries
    * make batching invisible (every stage is per-query and both
    * indexes are fixed), so the sink union ≡ the batch
    * Retrieval.hybridServe — the SAME mirror as q_hybrid_served gates
    * the whole streaming loop, every fused score value-checked. */
  def streamHybridServe(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val (bmBase, pqBase) = (bm25Index(s, d), pqIndex(s, d))
    val root = GateFixture.buildOnce("graft_streamhybrid_v2", d) { staging =>
      val stage = s"$staging/stage"
      // whole-row queries: each query's terms AND embedding in one
      // row; one file per query = one micro-batch per query
      val vecs = embs(s, d).filter(col("vec_id") <= 2)
        .select(col("vec_id").cast("long").as("query_id"), col("embedding"))
      for (qid <- bm25MultiQueries.map(_._1).distinct.sorted)
        vecs.filter(col("query_id") === qid)
          .withColumn("terms", typedLit(
            bm25MultiQueries.filter(_._1 == qid).map(_._2)))
          .select("query_id", "terms", "embedding")
          .coalesce(1).write.mode("append").parquet(stage)
      val src = s.readStream.schema(s.read.parquet(stage).schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      graft.streaming.StreamingHybridServe.run(s, src, bmBase, pqBase,
        "query_id", "terms", "embedding", embs(s, d), "vec_id", "embedding",
        sinkPath = s"$staging/out", checkpoint = s"$staging/ckpt")
    }
    s.read.parquet(s"$root/out/batch-*").orderBy("query_id", "fused_rank")
  }

  lazy val streamHybridServeSql: String = hybridServedSql

  // ---- curriculum ordering ----

  /** Short-to-long curriculum under the driver gate: documents
    * bucketed by word-count class (easy = short first), shuffled
    * within each class (seed 7). The oracle packs the same
    * (bucket, hash-top-bits) key in HUGEINT and ranks globally, so
    * the full curriculum permutation — stage boundaries included —
    * is value-checked against the sharded decomposition. */
  def curriculumQ(s: SparkSession, d: String): DataFrame = {
    val bucket = when(size(split(col("text"), " ")) < 33, 0)
      .when(size(split(col("text"), " ")) < 57, 1)
      .when(size(split(col("text"), " ")) < 77, 2)
      .otherwise(3)
    graft.operators.ShuffleOrder.curriculumOrder(
        docs(s, d).select(col("doc_id"), bucket.as("bucket")),
        "doc_id", "bucket", seed = 7L, bucketBits = 2, shardBits = 4)
      .select(col("pos"), col("bucket"), col("shard"), col("doc_id"))
      .orderBy("pos")
  }

  val curriculumSql: String = {
    val steps = SqlHash.xxh64LongSteps("hx", "d0", "doc_id",
      keep = Seq("doc_id", "bucket"), seed = 7L, out = "h")
    // key = bucket << 62 | h >>> 2 (unsigned): bucket-major, hash-minor
    s"""WITH d0 AS (SELECT doc_id,
       |  CASE WHEN len(string_split(text, ' ')) < 33 THEN 0
       |       WHEN len(string_split(text, ' ')) < 57 THEN 1
       |       WHEN len(string_split(text, ' ')) < 77 THEN 2
       |       ELSE 3 END AS bucket
       |  FROM documents),
       |$steps,
       |k AS (SELECT doc_id, bucket,
       |    bucket::HUGEINT * 4611686018427387904::HUGEINT + h // 4::HUGEINT AS hk
       |  FROM hx)
       |SELECT (row_number() OVER (ORDER BY hk, doc_id) - 1)::BIGINT AS pos,
       |  bucket,
       |  (hk // 1152921504606846976::HUGEINT)::BIGINT AS shard,
       |  doc_id
       |FROM k ORDER BY pos""".stripMargin
  }

  // ---- token-budget prefix ----

  /** "Sample exactly B tokens" under the driver gate: shuffle order
    * (seed 7) → cut at 10k tokens, boundary doc truncated. The oracle
    * replays the seeded hash, the global rank, the running token sum
    * and the boundary truncation in one DuckDB window, so membership,
    * every stream offset, and the exact cut point are value-checked
    * against the sharded two-window decomposition. */
  def tokenBudgetQ(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions
    val ordered = graft.operators.ShuffleOrder.orderWithTokens(
      docs(s, d).select(col("doc_id"),
        TextFunctions.regexTokenCount(col("text")).cast("long").as("ntok")),
      "doc_id", "ntok", seed = 7L, shardBits = 3)
    graft.operators.ShuffleOrder.tokenBudget(ordered, "ntok", budget = 10000L)
      .select(col("pos"), col("shard"), col("doc_id"), col("ntok"),
        col("tok_start"), col("tok_take"))
      .orderBy("pos")
  }

  val tokenBudgetSql: String = {
    val steps = SqlHash.xxh64LongSteps("hx", "d0", "doc_id",
      keep = Seq("doc_id", "ntok"), seed = 7L, out = "h")
    s"""WITH d0 AS (SELECT doc_id,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]'))::BIGINT AS ntok
       |  FROM documents),
       |$steps,
       |r AS (SELECT doc_id, ntok,
       |    (row_number() OVER (ORDER BY h, doc_id) - 1)::BIGINT AS pos,
       |    (h // 2305843009213693952::HUGEINT)::BIGINT AS shard
       |  FROM hx),
       |c AS (SELECT *,
       |    (sum(ntok) OVER (ORDER BY pos
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok)::BIGINT
       |      AS tok_start FROM r)
       |SELECT pos, shard, doc_id, ntok, tok_start,
       |  least(ntok, 10000 - tok_start)::BIGINT AS tok_take
       |FROM c WHERE tok_start < 10000 ORDER BY pos""".stripMargin
  }

  // ---- n-gram familiarity (LM-free fluency proxy) ----

  /** Corpus-frequency familiarity scoring under the driver gate:
    * integer bigram counts end-to-end, so every doc's score is
    * hash-exact against the mirror (the one double is a final
    * int/int division both engines round identically). */
  def ngramFamQ(s: SparkSession, d: String): DataFrame =
    graft.operators.TextAnalysis.ngramFamiliarity(docs(s, d), "doc_id", "text")
      .orderBy("doc_id")

  val ngramFamSql: String =
    s"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents WHERE len(string_split(text, ' ')) >= 2),
       |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
       |       FROM d0, LATERAL (SELECT unnest(range(1, len(toks))) AS i) ix),
       |c AS (SELECT bg, count(*)::BIGINT AS cnt FROM bg GROUP BY bg)
       |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |  sum(cnt)::BIGINT AS sum_freq,
       |  sum(cnt)::DOUBLE / count(*) AS familiarity
       |FROM bg JOIN c USING (bg)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- bigram-LM cross-entropy (perplexity-rank quality scoring) ----

  /** LM quality scoring under the driver gate: add-one bigram model
    * trained on the odd docs, every doc scored by mean negative
    * fixed-point log2 transition probability. Integer end-to-end
    * (piecewise-linear log2 — see TextAnalysis.lg2fpSql), so each
    * doc's score hash-matches the string-keyed mirror bit-for-bit;
    * the Spark side joins on 8-byte transition hashes, so any fnv
    * collision on real data fails this gate loudly. */
  def lmScoreQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramCrossEntropy(
        docs(s, d).filter(col("doc_id") % 2 === 1), docs(s, d),
        "doc_id", "text")
      .orderBy("doc_id")

  /** LM scoring against a PERSISTED bigram model (build-once/
    * score-many — the dedup_index shape for quality scoring): the
    * odd-docs model is written once (transition counts + context
    * totals + pinned V/tokenization meta) and every call after reads
    * it instead of re-training. Same model, same scoring tail as
    * q_lm_score, so the SAME oracle applies — and the spec pins
    * indexed ≡ inline bit-for-bit with the reference corpus absent
    * from the scoring plan. */
  def lmScoreIndexedQ(s: SparkSession, d: String): DataFrame = synchronized {
    TextAnalysis.scoreWithLmIndex(s, lmIndex(s, d), docs(s, d), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** The odd-docs bigram model shared by q_lm_score_indexed and
    * q_stream_lm_score. */
  private def lmIndex(s: SparkSession, d: String): String =
    GateFixture.buildOnce("graft_lmindex_v2", d) { dir =>
      TextAnalysis.writeLmIndex(
        docs(s, d).filter(col("doc_id") % 2 === 1), "text", dir.getPath)
    }.getPath

  lazy val lmScoreIndexedSql: String = lmScoreSql

  /** STREAMING LM quality scoring against the persisted model: all
    * docs staged as 4 parquet files, one file per AvailableNow
    * micro-batch, each batch scored against the odd-docs model and
    * appended to the sink. The model is FIXED ⇒ batches score
    * independently ⇒ stream output ≡ batch scoring for ANY batch
    * boundaries — the SAME oracle as q_lm_score gates it. The whole run
    * is one [[GateFixture]], like q_stream_index_dedup. */
  def streamLmScore(s: SparkSession, d: String): DataFrame = synchronized {
    val idxBase = lmIndex(s, d)
    val root = GateFixture.buildOnce("graft_streamlm_v2", d) { staging =>
      val stage = s"$staging/stage"
      docs(s, d).select("doc_id", "text")
        .repartition(4)
        .write.mode("overwrite").parquet(stage)
      val schema = s.read.parquet(stage).schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      graft.streaming.StreamingLmScore.run(s, src, idxBase,
        "doc_id", "text", sinkPath = s"$staging/out",
        checkpoint = s"$staging/ckpt")
    }
    s.read.parquet(s"$root/out").orderBy("doc_id")
  }

  lazy val streamLmScoreSql: String = lmScoreSql

  val lmScoreSql: String = {
    def lg(x: String) = TextAnalysis.lg2fpSql(x, spark = false)
    s"""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents WHERE len(string_split(text, ' ')) >= 2),
       |tr AS (SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i+1] AS bg
       |       FROM d0, LATERAL (SELECT unnest(range(1, len(toks))) AS i) ix),
       |m AS (SELECT bg, any_value(w1) AS w1, count(*)::BIGINT AS c12
       |      FROM tr WHERE doc_id % 2 = 1 GROUP BY bg),
       |c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM m GROUP BY w1),
       |v AS (SELECT count(*)::BIGINT AS v FROM c1),
       |sc AS (SELECT tr.doc_id,
       |         coalesce(m.c12, 0) + 1 AS num,
       |         coalesce(c1.c1, 0) + v.v AS den
       |       FROM tr LEFT JOIN m USING (bg)
       |         LEFT JOIN c1 ON tr.w1 = c1.w1, v),
       |l AS (SELECT doc_id, ${lg("den")} - ${lg("num")} AS lp FROM sc)
       |SELECT doc_id, count(*)::BIGINT AS n_trans,
       |  sum(lp)::BIGINT AS sum_lp_fp,
       |  sum(lp)::DOUBLE / (count(*) * 1048576) AS cross_entropy_bits
       |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---- document chunking ----

  /** Overlapping token-window chunks (window 40, stride 30) — the
    * long-document split for training-sequence prep. The token array
    * materializes ONCE per doc in the Generate (explode) input and is
    * sliced per chunk downstream; chunk grid = ceil((n−w)/s)+1 windows
    * covering every token, short docs = one chunk. */
  def docChunks(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkTokens(docs(s, d), "doc_id", "text", window = 40, stride = 30)
      .orderBy("doc_id", "chunk_id")

  val docChunksSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |g AS (SELECT doc_id, words,
      |        1 + CAST(floor(greatest(len(words) - 40 + 30 - 1, 0) / 30) AS INT) AS n_chunks
      |      FROM t)
      |SELECT doc_id, CAST(i AS INT) AS chunk_id,
      |  array_to_string(words[(i*30 + 1):(i*30 + 40)], ' ') AS chunk_text,
      |  CAST(least(40, len(words) - i*30) AS INT) AS chunk_tokens
      |FROM g, LATERAL unnest(range(0, n_chunks)) AS u(i)
      |ORDER BY doc_id, chunk_id""".stripMargin
}

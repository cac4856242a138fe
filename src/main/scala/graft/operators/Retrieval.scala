package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end retrieval SERVING compositions over the persisted index
  * family — the operator-level API for the stacks the per-stage pieces
  * ([[TextAnalysis]] BM25 index, [[Similarity]] IVF-PQ index,
  * [[RankFusion]]) exist to serve. Everything here reads ONLY
  * persisted indexes at query time: the corpus never re-tokenizes, the
  * vectors never re-embed, and the only full-precision vector reads
  * are the bounded candidate set of the exact re-rank.
  */
object Retrieval {

  /** Hybrid lexical+semantic retrieval, fully index-served — the
    * production serving composition (certified end-to-end by the
    * driver gate `q_hybrid_served`):
    *
    *   1. LEXICAL — the persisted BM25 index at `bm25IndexPath` serves
    *      each query's top `kLex` ([[TextAnalysis.scoreWithBm25IndexMulti]];
    *      postings term-pruned, corpus never re-tokenized).
    *   2. SEMANTIC — the persisted IVF-PQ index at `pqIndexPath`
    *      nominates `kNominate` ANN candidates per query
    *      ([[Similarity.queryIvfIndexWith]]; partition-pruned ADC scan,
    *      ≤ queries × nprobe cells read), re-ranked to an exact-cosine
    *      top `kAnn` over the full-precision `corpus` vectors
    *      ([[Similarity.rerankCandidates]]; only candidate vectors are
    *      read — bounded, size-guarded joins).
    *   3. FUSION — the two per-query lists fuse with reciprocal-rank
    *      fusion ([[RankFusion.rrfGrouped]], integer fixed-point —
    *      deterministic and exactly mirrorable cross-engine), emitting
    *      the per-query top `topK`.
    *
    * Inputs: `queryTerms` carries (queryIdCol, termCol) term rows (a
    * query's terms must share its id with its embedding — the fused
    * doc space is the shared document/vector id space); `queryVecs` is
    * the PREPARED embedding side, (q_id, q_v) as produced by
    * [[Similarity.prepareQueries]]. Output: (query_id, fused_rank,
    * doc_id, n_lists, rrf_score), fused_rank ≤ `topK`.
    *
    * Scale shape: stage costs are queries × k-bounded end to end —
    * nothing in the plan scales with corpus size beyond the index
    * structures' own pruned reads (postings term-pruned, cells
    * partition-pruned), so a serving tier can call this per query
    * batch at any corpus scale. */
  def hybridServe(
      spark: SparkSession,
      bm25IndexPath: String, pqIndexPath: String,
      queryTerms: DataFrame, queryIdCol: String, termCol: String,
      queryVecs: DataFrame,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      kLex: Int = 30, kNominate: Int = 30, kAnn: Int = 10,
      nprobe: Int = 4, rrfK: Int = 60, topK: Int = 10): DataFrame =
    hybridServeWith(loadHybridState(spark, bm25IndexPath, pqIndexPath),
      queryTerms, queryIdCol, termCol, queryVecs,
      corpus, corpusIdCol, vecCol,
      kLex, kNominate, kAnn, nprobe, rrfK, topK)

  /** The driver-side state of both serving indexes, resolved once —
    * what a serving tier (or [[graft.streaming.StreamingHybridServe]])
    * holds across query batches so the per-batch cost is the probes
    * alone, never the meta reads/plan construction. Each index's
    * state is internally snapshot-consistent ([[IndexLayout]]); the
    * two indexes are independent structures, so there is no cross-
    * index snapshot to take. */
  final case class HybridServeState(bm25: TextAnalysis.Bm25IndexState,
                                    ivf: Similarity.IvfIndexState)

  /** Load [[HybridServeState]]: one bounded meta read per index,
    * readers constructed once. */
  def loadHybridState(spark: SparkSession, bm25IndexPath: String,
                      pqIndexPath: String): HybridServeState =
    HybridServeState(TextAnalysis.loadBm25Index(spark, bm25IndexPath),
      Similarity.loadIvfIndex(spark, pqIndexPath))

  /** [[hybridServe]] over caller-held state — the per-batch body for
    * streaming serving. Identical plan and output (the self-loading
    * form delegates here). */
  def hybridServeWith(
      state: HybridServeState,
      queryTerms: DataFrame, queryIdCol: String, termCol: String,
      queryVecs: DataFrame,
      corpus: DataFrame, corpusIdCol: String, vecCol: String,
      kLex: Int = 30, kNominate: Int = 30, kAnn: Int = 10,
      nprobe: Int = 4, rrfK: Int = 60, topK: Int = 10): DataFrame = {
    require(kLex >= 1 && kNominate >= 1 && kAnn >= 1 && topK >= 1,
      s"bad k (kLex=$kLex kNominate=$kNominate kAnn=$kAnn topK=$topK)")
    // the lexical and semantic branches read DISJOINT persisted
    // indexes and meet only at the fusion: materialize both top-k
    // lists from concurrent driver threads (guide §2.6) so the two
    // branches' action chains (postings prune / probe collect +
    // sized-count checkpoint + re-rank) overlap instead of queueing
    val (bm, ann) = Concurrent.materialize2(
      () => TextAnalysis.scoreWithBm25StateMulti(state.bm25,
          queryTerms, queryIdCol, termCol, k = kLex)
        .select(col("query_id"), col("doc_id"), col("rank")),
      () => {
        val cand = Similarity.queryIvfIndexWith(state.ivf, queryVecs,
          k = kNominate, nprobe = nprobe)
        Similarity.rerankCandidates(corpus, queryVecs, cand,
            corpusIdCol, vecCol, k = kAnn)
          .select(col("q_id").as("query_id"), col("n_id").as("doc_id"),
            col("rank"))
      })
    RankFusion.rrfGrouped(Seq(bm, ann), "query_id", "doc_id", "rank",
      kConst = rrfK, topK = topK)
  }
}

package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InSet}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{toColumn, toExpr}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Deduplication operators for large-scale document pipelines.
  *
  * Scale design: nothing here ever materializes the O(n²) pair space.
  *  - exact: one shuffle on a 64-bit text hash (tiny keys, not full
  *    documents); `min(id)` keeps a canonical representative.
  *  - MinHash+LSH: one hash exchange of (bucket, id) rows, each
  *    bucket's ids paired from a sorted run; only ids sharing a band
  *    bucket meet, and buckets above `maxBucketSize` are dropped and
  *    counted (skew guard — a degenerate value, e.g. the empty
  *    document, would otherwise create a quadratic bucket). Candidates
  *    are then verified with exact shingle Jaccard, so false positives
  *    from banding (or bucket-hash collisions) never reach the output:
  *    on the driver when the candidate set is small and an upper bound
  *    on its docs' shingle bytes fits `autoBroadcastJoinThreshold`, by
  *    one distributed verify otherwise.
  *  - SimHash: C(numChunks, numChunks−h) chunk-combination buckets;
  *    hamming ≤ h ⇒ some combination of chunks equal (pigeonhole), so
  *    bucketing is lossless for the verify threshold — exact result,
  *    no O(n²); bucket-size cap guards mass-duplicate degenerate keys.
  */
object Dedup {

  /** Exact dedup: one row per distinct text with the minimum id as the
    * canonical copy and the duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** Test hook: bucketPairs over an explicit (id, bucket) band set. */
  private[graft] def pairsForTest(bands: DataFrame, maxBucketSize: Int): DataFrame =
    bucketPairs(bands, maxBucketSize).pairs

  /** Test hook: the buckets bucketPairs drops over `maxBucketSize`. */
  private[graft] def hotBucketsForTest(bands: DataFrame, maxBucketSize: Int): Long =
    bucketPairs(bands, maxBucketSize).hotBuckets

  /** Rows above which a candidate-derived table must never be planned
    * into a STATIC broadcast. Catalyst's size estimate for the pair
    * table is the pre-materialization guess — the explode multiplicity
    * is invisible statically, so a multi-GB pair table can look
    * broadcastable (observed as a driver OOM at 200k correlated
    * vectors: crowded buckets → tens of millions of candidate pairs,
    * estimated "tiny", broadcast). ~250k rows of two longs ≈ the
    * default 10 MB autoBroadcastJoinThreshold. */
  private[graft] val BroadcastSafeRows = 250000L

  /** Candidate-pair count above which the verify side's (id, text)
    * rows are repartitioned before shingling: past this, spreading
    * the shingle compute + checkpoint write across cores beats the
    * exchange it costs; below it the docs shingle in less time than
    * the shuffle's fixed overhead. It is also the MinHash small path's
    * budget: at most this many candidate pairs are collected and, when
    * their docs' shingles fit, verified on the driver. */
  private[graft] val RepartitionVerifyRows = 4096L

  /** Pin `d`'s next equi-join to a shuffle (sort-merge) join when its
    * REAL cardinality exceeded the broadcast-safe budget; below it the
    * planner keeps its static choice (tiny candidate sets broadcast,
    * bit-identical plans to the unguarded ones). */
  private def noStaticBroadcast(d: DataFrame, big: Boolean): DataFrame =
    if (big) d.hint("merge") else d

  /** When the candidate table is over-budget but the per-id payload
    * table (vectors / signatures) is itself small — decided on a REAL
    * count, never an estimate — broadcast the payload side into the
    * verify joins: the 10^8-row pair table then never shuffles with
    * fat payload rows (measured at sf10: 94M candidates × two 0.5 KB
    * vector joins). Spark's hint precedence (BROADCAST > MERGE) lets
    * this compose with the candidates-side merge guard: the guard
    * still forbids the catastrophic pair-table broadcast, and the
    * payload broadcast upgrades the join when it fits. */
  private def verifySideWrap(payload: DataFrame, candidatesBig: Boolean,
                             rowBudget: Long): DataFrame => DataFrame =
    if (candidatesBig && payload.count() <= rowBudget) d => broadcast(d)
    else identity

  /** An id set derived from a mis-estimated pair table, sized for its
    * semi-join role: actually small → explicit broadcast (the corpus
    * never shuffles); big → materialized + merge-hinted so the planner
    * cannot broadcast a giant build side off the bogus estimate. */
  private def sizedIdSet(ids: DataFrame, candidatesBig: Boolean): DataFrame =
    if (!candidatesBig) broadcast(ids)
    else {
      val (m, n) = Materialize.withCount(ids)
      if (n <= BroadcastSafeRows) broadcast(m) else m.hint("merge")
    }

  /** One banding's materialized candidate pairs (distinct; a_id < b_id
    * within one corpus), their real count, and the buckets dropped over
    * the size cap. */
  private final case class Candidates(pairs: DataFrame, count: Long, hotBuckets: Long)

  /** [[Candidates]] from a materialized pair table and its real count,
    * with one WARN for the buckets dropped over `cap` (their pairs are a
    * silent recall loss otherwise) and one for a count past the
    * broadcast-safe budget. */
  private def candidates(pairs: DataFrame, count: Long, hotBuckets: Long, cap: Int): Candidates = {
    val log = org.apache.log4j.Logger.getLogger(getClass)
    if (hotBuckets > 0)
      log.warn(s"dedup: $hotBuckets bucket(s) over maxBucketSize ($cap) dropped — " +
        "pairs found only there are lost (run exact dedup first, or raise the cap)")
    if (count > BroadcastSafeRows)
      log.warn(s"dedup: $count candidate pairs exceed the broadcast-safe budget " +
        s"($BroadcastSafeRows) — downstream joins pinned to shuffle (crowded buckets; " +
        "consider more planes/bands or a prior exact-dedup pass if this is unexpected)")
    Candidates(pairs, count, hotBuckets)
  }

  /** (bucket, `out`) id lists of `bands` (id, bucket) for a bipartite
    * bucket join, capped at `maxBucketSize` (long ids in an O(cap)
    * buffer); the dropped buckets are counted into `hot` in the same
    * pass (an Observation would read an empty row when AQE replaces the
    * stage of an empty candidate set — the all-dropped case). */
  private def bucketLists(bands: DataFrame, out: String, maxBucketSize: Int,
                          hot: org.apache.spark.util.LongAccumulator): DataFrame = {
    val lists =
      if (bands.schema("id").dataType == LongType)
        bands.groupBy("bucket")
          .agg(graft.functions.BoundedCollect.bounded_long_list(col("id"), maxBucketSize).as(out))
      else
        bands.groupBy("bucket").agg(collect_list(col("id")).as("__ids"))
          .select(col("bucket"), when(size(col("__ids")) <= maxBucketSize, col("__ids")).as(out))
    val kept = udf { (dropped: Boolean) => if (dropped) hot.add(1); !dropped }
    lists.filter(kept.asNondeterministic()(col(out).isNull))
  }

  /** Candidate pairs from (id, bucket) rows, for every id type: ONE hash
    * exchange of the raw rows, each bucket's ids arriving sorted by
    * Spark's own ordering (`flatMapSortedGroups`), at most cap + 1 of
    * them buffered, singleton and over-cap buckets (skew guard) dropped,
    * i < j pairs emitted ([[TextFunctions.runPairs]]), then pair dedup.
    * No aggregation buffer per bucket, so no partial aggregate and no
    * sort fallback; a degenerate bucket holding most of the corpus
    * still costs O(cap) memory. Null ids are skipped.
    *
    * The dropped buckets are counted in the same pass (an accumulator,
    * so a retried task may count its buckets twice) and logged in one
    * WARN: their pairs are a silent recall loss otherwise. The pairs
    * are materialized (reliable checkpoint on clusters, localCheckpoint
    * otherwise) and counted in the same job, because every caller
    * consumes them several times and sizes its joins on the count. */
  private def bucketPairs(bands: DataFrame, maxBucketSize: Int): Candidates = {
    val spark = bands.sparkSession
    val rows = bands.select(col("bucket"), col("id"))
    val idType = rows.schema("id").dataType
    val pairSchema = StructType(Seq(
      StructField("a_id", idType, nullable = false),
      StructField("b_id", idType, nullable = false)))
    val hot = spark.sparkContext.longAccumulator("dedup.hotBuckets")
    val cap = maxBucketSize
    val grouped = rows.groupBy("bucket")
      .as[Row, Row](Encoders.row(StructType(Seq(rows.schema("bucket")))), Encoders.row(rows.schema))
      .flatMapSortedGroups(col("id")) { (_, run) =>
        val ids = new scala.collection.mutable.ArrayBuffer[Any]()
        var over = false
        while (!over && run.hasNext) {
          val id = run.next().get(1)
          if (id != null) { if (ids.length == cap) over = true else ids += id }
        }
        if (over) { hot.add(1); Iterator.empty }
        else TextFunctions.runPairs(ids).map { case (a, b) => Row(a, b) }
      }(Encoders.row(pairSchema))
    // the true cardinality rides the checkpoint job (withCount); every
    // consumer keys its broadcast-vs-shuffle choice on it
    val (m, n) = Materialize.withCount(grouped.toDF().dropDuplicates("a_id", "b_id"))
    candidates(m, n, hot.value.longValue, cap)
  }

  /** MinHash+LSH near-duplicate pairs, exact-verified.
    *
    * numHashes = bandRows × numBands. With the default r=2, b=32 the
    * probability of missing a pair at Jaccard 0.8 is (1−0.8²)^32 ≈
    * 7e-15 (at 0.7: ≈ 4e-10) — the output is the full set of pairs ≥
    * threshold for any realistic input, at half the signature cost of
    * r=2, b=64. Signature hashing dominates the operator, so numHashes
    * is THE throughput knob; raise it only for thresholds ≪ 0.7.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bandRows: Int = 2,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame =
    minhashPairsCounted(df, idCol, textCol, shingleN, numHashes, bandRows,
      threshold, maxBucketSize).frame

  /** [[minhashPairs]] as its [[Verified]] pairs; tests pass a negative
    * `budget` to force the over-budget path. Only (id, bucket) flows
    * through the bucket shuffle; shingles are built per candidate doc
    * AFTER pair dedup, so the wide payload never crosses it. */
  private[graft] def minhashPairsCounted(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bandRows: Int = 2,
      threshold: Double = 0.8, maxBucketSize: Int = 1000,
      budget: Long = RepartitionVerifyRows): Verified = {
    // bucket keys from the FUSED text→bands expression: one signature
    // computation per row (MinHashBands documents the lambda-inlining
    // trap the fusion avoids)
    val (bands, side) = banded(df, col(idCol), col(textCol),
      TextFunctions.wordShingles(_, shingleN), shingleN, numHashes, bandRows)
    val cands = described(df.sparkSession, "dedup.minhash.candidates")(
      bucketPairs(bands, maxBucketSize))
    minhashVerify(cands, Seq(side), shingleN, threshold, "dedup.minhash", budget)
  }

  /** One MinHash run's verified (a_id, b_id, jaccard) pairs, the small
    * path's real candidate count (which bounds them) and the buckets its
    * candidate step dropped over `maxBucketSize`. */
  private[graft] sealed trait Verified {
    def frame: DataFrame
    def bound: Option[Long]
    def hotBuckets: Long
  }

  /** Pairs verified on the driver, ids as Catalyst values. */
  private final case class OnDriver(pairs: Array[(Any, Any, Double)], cands: Candidates)
      extends Verified {
    def bound: Option[Long] = Some(cands.count)
    def hotBuckets: Long = cands.hotBuckets
    def frame: DataFrame = {
      val ids = cands.pairs.schema.fields.take(2).map(_.copy(nullable = false))
      val Array(toA, toB) = ids.map(f => CatalystTypeConverters.createToScalaConverter(f.dataType))
      cands.pairs.sparkSession.createDataFrame(java.util.Arrays.asList(
        pairs.map { case (a, b, j) => Row(toA(a), toB(b), j) }: _*),
        StructType(ids :+ StructField("jaccard", DoubleType)))
    }
  }

  private final case class InSpark(frame: DataFrame, bound: Option[Long], hotBuckets: Long)
      extends Verified

  /** One side of a MinHash verify: (id, v) rows, its own shingle column
    * over `v`, and the max / total `octet_length(v)` observed on the
    * candidate job's own scan (none for a stored side). */
  private final case class Side(rows: DataFrame, shingles: Column => Column,
                                textBytes: Option[Observation] = None) {
    /** `shingleN` × min(total, max × `ids`): a shingle is at most shingleN
      * words and their separators, so this bounds the bytes of `ids` docs'
      * distinct shingles. None without both metrics. */
    def shingleBytes(shingleN: Int, ids: Int): Option[Long] =
      textBytes.flatMap(Materialize.observed(_, "minhash text bytes"))
        .filter(_.length == 2).map { r =>
          val maxBytes = if (r.isNullAt(0)) 0L else r.getInt(0).toLong
          val total = if (r.isNullAt(1)) 0L else r.getLong(1)
          shingleN.toLong * math.min(total, maxBytes * ids)
        }
  }

  /** `df`'s (id, bucket) band rows, whose scan observes the text bytes,
    * and the verify [[Side]] over the same (id, text). */
  private def banded(df: DataFrame, id: Column, text: Column, shingles: Column => Column,
                     shingleN: Int, numHashes: Int, bandRows: Int): (DataFrame, Side) = {
    val rows = df.select(id.as("id"), text.as("v"))
    val textBytes = Observation()
    val bands = rows.observe(textBytes, max(octet_length(col("v"))), sum(octet_length(col("v"))))
      .select(col("id"),
        explode(TextFunctions.minhashBands(col("v"), shingleN, numHashes, bandRows)).as("bucket"))
    (bands, Side(rows, shingles, Some(textBytes)))
  }

  /** The one MinHash verify, after any candidate step. `sides` is the
    * one side of a self-join (both pair columns name its ids) or the a
    * and b sides of a bipartite one; jobs run under `$jobs.candidates` /
    * `$jobs.verify`.
    *
    * Small path (at most `budget` real candidate pairs — quality
    * corpora have few near-dups): the pairs are read straight from the
    * checkpoint's RDD as Catalyst values, and each side is filtered by a
    * driver-built `InSet` of its ids (no distinct, no broadcast). If
    * every side's shingle-byte bound is known and their sum fits
    * `autoBroadcastJoinThreshold` (-1: never), each side's rows are
    * collected once and every pair is scored on the driver with the
    * side's own shingle kernel; the bounds come from metrics
    * observed on the candidate job's own scans, so they cost no job and
    * driver memory stays proportional to them. Otherwise, and over
    * budget, one distributed verify runs ([[pairJoin]]), pinned to
    * shuffle when the computed sides' bounds did not fit or the pair
    * table is over the broadcast-safe budget (a stored side carries no
    * bound: the planner sizes it from its files). */
  private def minhashVerify(cands: Candidates, sides: Seq[Side], shingleN: Int,
                            threshold: Double, jobs: String, budget: Long): Verified = {
    val spark = cands.pairs.sparkSession
    // the pair columns (a_id, b_id) each side's ids fill
    val served = if (sides.size == 1) Seq(Seq(0, 1)) else Seq(Seq(0), Seq(1))
    // a self-join's one side is read by both pair joins: shingled once
    def shingled(side: Side, rows: DataFrame): DataFrame = {
      val sh = rows.select(col("id"), side.shingles(col("v")).as("sh"))
      if (sides.size == 1) described(spark, s"$jobs.verify")(Materialize(sh)) else sh
    }
    def joined(sh: Seq[DataFrame], big: Boolean): DataFrame =
      pairJoin(cands.pairs, sh.head, sh.last, big)
        .select(col("a_id"), col("b_id"),
          TextFunctions.setJaccard(col("__a"), col("__b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)

    if (cands.count > budget) {
      // a big pair table (and hence the first join's output, whose
      // estimate inherits the bogus one) must never be a broadcast build
      // side; each side's candidate id set is sized on the real count
      val big = cands.count > BroadcastSafeRows
      val sh = sides.zip(served).map { case (side, cs) =>
        val ids = described(spark, s"$jobs.verify")(sizedIdSet(
          cs.map(c => cands.pairs.select(col(cands.pairs.columns(c)).as("id"))).reduce(_ union _)
            .distinct(), big))
        val rows = side.rows.join(ids, side.rows("id") === ids("id"), "left_semi")
        // repartitioned by id BEFORE the shingle projection when the
        // candidate set is large: the semi-join inherits the corpus
        // scan's few input partitions, so shingling there pins 1-2
        // threads while the rest idle (measured at sf1: tens of seconds
        // serial vs ~1 s parallel)
        shingled(side,
          if (cands.count > RepartitionVerifyRows) rows.repartition(col("id")) else rows)
      }
      InSpark(joined(sh, big), None, cands.hotBuckets)
    } else if (cands.count == 0) OnDriver(Array.empty, cands)
    else {
      val types = cands.pairs.schema.fields.map(_.dataType)
      val pairs = described(spark, s"$jobs.candidates")(
        cands.pairs.queryExecution.toRdd.map(r =>
          (InternalRow.copyValue(r.get(0, types(0))), InternalRow.copyValue(r.get(1, types(1)))))
          .collect())
      val idSets = served.map(cs => pairs.flatMap(p => cs.map(p.productElement)).toSet)
      val filtered = sides.zip(idSets).map { case (side, ids) =>
        side.rows.filter(toColumn(InSet(toExpr(col("id")), ids)))
      }
      // the computed sides' shingle bytes, which the planner cannot see;
      // a stored side's files' size it can
      val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
      lazy val bytes = sides.zip(idSets).filter(_._1.textBytes.isDefined)
        .foldLeft(Option(0L)) { case (sum, (side, ids)) =>
          sum.flatMap(s => side.shingleBytes(shingleN, ids.size).map(s + _))
        }
      val fits = limit >= 0 && bytes.exists(_ <= limit)
      if (fits && sides.forall(_.textBytes.isDefined)) {
        // each side's (id, v) rows collected once, its own shingle kernel
        // evaluated on each v, then SetJaccard's element sets and division:
        // the distributed verify's pairs and doubles (NULL shingles match
        // nothing; an id on several rows pairs once per row, as in a join)
        val sets = sides.zip(filtered).map { case (side, rows) =>
          val Seq(idType, vType) = rows.schema.map(_.dataType)
          val kernel = toExpr(side.shingles(toColumn(BoundReference(0, vType, nullable = true))))
          val elementType = kernel.dataType.asInstanceOf[ArrayType].elementType
          described(spark, s"$jobs.verify")(rows.queryExecution.toRdd.map(r =>
            (InternalRow.copyValue(r.get(0, idType)), InternalRow.copyValue(r.get(1, vType))))
            .collect())
            .flatMap { case (id, v) => Option(kernel.eval(InternalRow(v))).map(sh =>
              id -> TextFunctions.elementSet(sh.asInstanceOf[ArrayData], elementType)) }
            .groupMap(_._1)(_._2)
        }
        OnDriver(for {
          (a, b) <- pairs
          sa <- sets.head.getOrElse(a, Array.empty[java.util.Set[Any]])
          sb <- sets.last.getOrElse(b, Array.empty[java.util.Set[Any]])
          j = TextFunctions.jaccard(sa, sb)
          if j != null && j >= threshold
        } yield (a, b, j.doubleValue), cands)
      } else
        InSpark(joined(sides.zip(filtered).map { case (s, r) => shingled(s, r) }, big = !fits),
          Some(cands.count), cands.hotBuckets)
    }
  }

  /** `pairs` (a_id, b_id, …) with each id's payload from `a` / `b`
    * (id, payload) as `__a` / `__b`: the one pair join of every verify.
    * `big` pins both joins to shuffle — a big pair table, and so the
    * first join's output whose estimate inherits its bogus one, must
    * never be a broadcast build side. */
  private def pairJoin(pairs: DataFrame, a: DataFrame, b: DataFrame, big: Boolean): DataFrame =
    noStaticBroadcast(noStaticBroadcast(pairs, big)
      .join(a.toDF("a_id", "__a"), Seq("a_id")), big)
      .join(b.toDF("b_id", "__b"), Seq("b_id"))

  /** Runs `body`'s Spark jobs under the job description `what` (the
    * `dedup.*` names in the UI and in listener events), then restores
    * the caller's description. */
  private def described[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val callers = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(what)
    try body finally sc.setJobDescription(callers)
  }

  private val JobDescription = "spark.job.description"

  /** Fuzzy dedup with an EXACT edit-distance verify — the
    * "near-duplicates that are genuinely a few edits apart" contract
    * (crawl snapshots of the same page, templated boilerplate with a
    * date swap), stricter than shingle Jaccard, which also fires on
    * paraphrases and block moves. Candidates come from the same
    * MinHash-LSH + exact-Jaccard pipeline as [[minhashPairs]] (the
    * Jaccard ≥ `threshold` bound is part of the output contract: at
    * r=2, b=32 the LSH miss probability at 0.8 is ≈7e-15, so the
    * result equals the all-pairs filter `jaccard ≥ threshold AND
    * edits ≤ maxEdits`); each surviving pair is then verified with a
    * BANDED byte-level Levenshtein (O(len·maxEdits) per pair, -1
    * beyond the budget — never the O(len²) full DP; see
    * [[graft.functions.EditDistanceWithin]]).
    *
    * Scale shape: everything corpus-sized is inside minhashPairs
    * (bounded buckets, guarded joins); this adds two narrow
    * (id, text) joins sized on the VERIFIED pair set — tiny for
    * quality corpora — and a per-pair banded DP. Output:
    * (a_id, b_id, jaccard, edits) with edits ≤ maxEdits. */
  def editPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxEdits: Int, threshold: Double = 0.8,
      shingleN: Int = 3, numHashes: Int = 64, bandRows: Int = 2,
      maxBucketSize: Int = 1000): DataFrame =
    editPairsFromCandidates(
      minhashPairs(df, idCol, textCol, shingleN,
        numHashes, bandRows, threshold, maxBucketSize),
      df, idCol, textCol, maxEdits)
      .select("a_id", "b_id", "jaccard", "edits")

  /** [[editPairs]]' verify stage over PRE-COMPUTED candidate pairs —
    * callers who already ran [[minhashPairs]] (or hold pairs from a
    * cluster pass / a persisted index probe) verify the edit budget
    * without re-running the LSH pipeline. `candidates` needs
    * (a_id, b_id); every other candidate column (jaccard, scores)
    * passes through, plus `edits` ≤ maxEdits.
    *
    * Scale shape: candidates are materialized + counted — the text
    * joins key their broadcast-vs-shuffle choice on the REAL
    * cardinality, because a pair table's static size estimate
    * inherits the bogus pre-explode guess (the signaturePairs trap);
    * then two narrow (id, text) joins and the banded O(len·maxEdits)
    * byte DP per pair. */
  def editPairsFromCandidates(
      candidates: DataFrame, df: DataFrame, idCol: String, textCol: String,
      maxEdits: Int): DataFrame = {
    val (pairs, nPairs) = described(df.sparkSession, "dedup.edit.candidates")(
      Materialize.withCount(candidates))
    val texts = df.select(col(idCol), col(textCol))
    pairJoin(pairs, texts, texts, nPairs > BroadcastSafeRows)
      .withColumn("edits", TextFunctions.editDistanceWithin(col("__a"), col("__b"), maxEdits))
      .filter(col("edits") =!= -1)
      .drop("__a", "__b")
  }

  /** CROSS-CORPUS MinHash dedup: near-duplicate pairs BETWEEN two
    * datasets — the "dedup the new crawl against the existing training
    * set" operation. Same banding as [[minhashPairs]] (so the same
    * ~7e-15 miss probability at J=0.8 applies to cross pairs), but the
    * bucket join is BIPARTITE: each side groups to per-bucket bounded
    * id lists (O(cap) buffer under any skew, per side), buckets join
    * on the key, and only cross-side pairs are generated — never
    * in-corpus pairs, never an O(|corpus|×|ref|) product. Candidates
    * are exact-Jaccard verified per side against their own source, by
    * the same verify as [[minhashPairs]].
    * Output: (corpus_id, ref_id, jaccard) at jaccard ≥ threshold. */
  def minhashPairsAgainst(
      corpus: DataFrame, corpusId: String, corpusText: String,
      reference: DataFrame, refId: String, refText: String,
      shingleN: Int = 3, numHashes: Int = 64, bandRows: Int = 2,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame =
    minhashPairsAgainstCounted(corpus, corpusId, corpusText, reference, refId, refText,
      shingleN, numHashes, bandRows, threshold, maxBucketSize)
      .frame.toDF("corpus_id", "ref_id", "jaccard")

  /** [[minhashPairsAgainst]] as its [[Verified]] (a_id = corpus id,
    * b_id = reference id) pairs; tests pass a negative `budget` to force
    * the over-budget path. */
  private[graft] def minhashPairsAgainstCounted(
      corpus: DataFrame, corpusId: String, corpusText: String,
      reference: DataFrame, refId: String, refText: String,
      shingleN: Int = 3, numHashes: Int = 64, bandRows: Int = 2,
      threshold: Double = 0.8, maxBucketSize: Int = 1000,
      budget: Long = RepartitionVerifyRows): Verified = {
    def sided(df: DataFrame, id: String, text: String) = banded(df, col(id), col(text),
      TextFunctions.wordShingles(_, shingleN), shingleN, numHashes, bandRows)
    val (bandsA, a) = sided(corpus, corpusId, corpusText)
    val (bandsB, b) = sided(reference, refId, refText)
    val hot = corpus.sparkSession.sparkContext.longAccumulator("dedup.hotBuckets")
    // materialized: the candidate set is consumed by the verify; its
    // REAL count sizes every downstream decision — the static estimate
    // under the explode is bogus-small
    val (pairs, n) = described(corpus.sparkSession, "dedup.cross.candidates")(
      Materialize.withCount(bucketLists(bandsA, "a_ids", maxBucketSize, hot)
        .join(bucketLists(bandsB, "b_ids", maxBucketSize, hot), "bucket")
        .select(TextFunctions.idPairs(col("a_ids"), col("b_ids")))
        .dropDuplicates("a_id", "b_id")))
    minhashVerify(candidates(pairs, n, hot.value.longValue, maxBucketSize),
      Seq(a, b), shingleN, threshold, "dedup.cross", budget)
  }

  /** Build and PERSIST a MinHash dedup index over a reference corpus —
    * the incremental-dedup production shape ("dedup every new crawl
    * against the training set"): the reference is tokenized, shingled
    * and banded ONCE, ever; each probe batch afterwards computes only
    * its OWN signatures (cf. [[minhashPairsAgainst]], which re-derives
    * both sides per run — at 100 TB the reference pass dominates and
    * is pure waste after the first run).
    *
    * Layout: `$path/bands` = (bucket, ids) with the per-bucket skew
    * cap applied AT BUILD (a degenerate bucket is dropped once, not
    * re-dropped per probe; O(cap) aggregation buffer); `$path/shingles`
    * = (id, sh: array<long>) — the 64-bit shingle identities
    * ([[graft.functions.ShingleHashes]], hashed exactly as the
    * signatures hash them), 8 bytes per distinct shingle instead of
    * the shingle text; `$path/meta` pins the banding parameters so a
    * probe can never silently run with mismatched banding. Appends
    * ([[appendToMinhashIndex]]) accumulate flat (bucket, id) rows in a
    * `bandrows` side component (absent at build) that probes union in
    * and [[IndexMaintenance.compactIndex]] folds away. */
  def writeMinhashIndex(
      reference: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int = 3, numHashes: Int = 64, bandRows: Int = 2,
      maxBucketSize: Int = 1000): Unit = {
    val spark = reference.sparkSession
    import spark.implicits._
    Seq((shingleN, numHashes, bandRows, maxBucketSize))
      .toDF("shingleN", "numHashes", "bandRows", "maxBucketSize")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    reference
      .select(col(idCol).cast("long").as("id"),
        TextFunctions.shingleHashes(col(textCol), shingleN).as("sh"))
      .repartition(col("id"))
      .write.mode("overwrite").parquet(s"$path/shingles")
    reference
      .select(col(idCol).cast("long").as("id"),
        explode(TextFunctions.minhashBands(
          col(textCol), shingleN, numHashes, bandRows)).as("bucket"))
      .groupBy("bucket")
      .agg(graft.functions.BoundedCollect
        .bounded_long_list(col("id"), maxBucketSize).as("ids"))
      .filter(col("ids").isNotNull)
      .write.mode("overwrite").parquet(s"$path/bands")
    // an in-place REBUILD over a previously-appended index must not
    // resurrect the old lifecycle's pending band rows: `bandrows` is a
    // side component this build does not write, so the bare dir (and
    // any rows a pre-rebuild lifecycle left there) is deleted — after
    // resetToBare it is exactly "absent at build" again. Manifest-
    // mapped bandrows generations become vacuum-able orphans instead.
    val (fs, brPath) = {
      val p = new org.apache.hadoop.fs.Path(s"$path/bandrows")
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    fs.delete(brPath, true)
    IndexLayout.resetToBare(spark, path)
  }

  /** APPEND new reference documents to a persisted MinHash index —
    * build-once/increment-forever parity with
    * [[graft.operators.TextAnalysis.appendToBm25Index]] /
    * [[graft.operators.Similarity.appendToIvfIndex]], at true
    * INCREMENT cost: the increment shingles+bands ONCE under the
    * meta-pinned banding parameters (never the stored corpus), its
    * shingle rows append additively into `shingles`, and its band rows
    * land additively as FLAT (bucket, id) rows in the `bandrows` side
    * component instead of rewriting the grouped `bands` table — the
    * stored bands generation is never read or rewritten at append time
    * (spec-pinned: same generation dir, same files after the append).
    * Previously every crawl increment paid one FULL bands-table
    * shuffle, O(index) per append where the other two families pay
    * O(increment); with frequent small increments (the
    * [[graft.streaming.StreamingIndexDedup]] cadence) that was the
    * last index-sized per-append cost in the family.
    *
    * Probes union the pending rows in: [[probeMinhashIndexWith]]
    * groups `bandrows` per bucket (an increment-sized group-by) and
    * unions it with the stored buckets before the candidate join.
    * [[IndexMaintenance.compactIndex]] folds pending rows back
    * into one regrouped `bands` generation on the operator's cadence.
    *
    * Equivalence: probe(build(A) then append(B)) ≡ probe(build(A∪B))
    * as a row set (spec-pinned), with two honest cap caveats — both
    * recall-only, both confined to the degenerate-bucket regime the
    * build cap already documents as dropped: (1) a bucket the build's
    * skew cap dropped entirely cannot contribute its dropped ids back;
    * (2) until compaction the `maxBucketSize` cap applies PER
    * COMPONENT (stored list and pending group each ≤ cap), so a bucket
    * whose union exceeds the cap still contributes up to 2×cap
    * candidate ids where a union rebuild would drop it — compaction
    * regroups under the single cap. Either way the verify stage's
    * exact Jaccard keeps every emitted pair correct.
    *
    * Doc ids already present in the index REFUSE (one bounded
    * semi-join against the stored shingles): an overlapping id would
    * double its shingle rows and band entries. Re-ingesting a changed
    * reference doc is [[IndexMaintenance.deleteFromIndex]]
    * followed by an append (≡ rebuild on the modified reference,
    * spec-pinned). Crash window: shingles land before band rows, so a
    * crash in between leaves orphan shingle rows (unreachable without
    * a band entry, and a retry refuses on the overlap) — automated
    * ingest calls [[appendToMinhashIndexGuarded]], which converges
    * from any crash point. The closing manifest bump is the
    * lost-lease fence ([[IndexLayout.withIndexLock]]). */
  def appendToMinhashIndex(newDocs: DataFrame, idCol: String,
                           textCol: String, path: String): Unit = {
    val spark = newDocs.sparkSession
    IndexLayout.withIndexLock(spark, path, "append-minhash") {
      val snap = IndexLayout.snapshot(spark, path)
      appendToMinhashIndexBody(spark, snap, newDocs, idCol, textCol,
        stageDir = None)
    }
  }

  /** [[appendToMinhashIndex]] under the marker-fenced
    * [[IndexMaintenance.runGuardedAppend]] protocol: the increment's
    * shingle AND band-row files stage together and MOVE with atomic
    * deterministic renames — both components are additive, so a retry
    * from any crash point moves only the files still staged and
    * converges to exactly-once (no merge step exists to diverge).
    * Returns true iff this call performed (or completed) the append. */
  def appendToMinhashIndexGuarded(newDocs: DataFrame, idCol: String,
                                  textCol: String, path: String,
                                  appendId: String): Boolean = {
    val spark = newDocs.sparkSession
    IndexMaintenance.runGuardedAppend(spark, path, appendId) { stageDir =>
      val snap = IndexLayout.snapshot(spark, path)
      appendToMinhashIndexBody(spark, snap, newDocs, idCol, textCol,
        stageDir = Some(stageDir))
    } { () =>
      val snap = IndexLayout.snapshot(spark, path)
      for (c <- Seq("shingles", "bandrows"))
        spark.catalog.refreshByPath(snap.dir(c))
    }
  }

  /** Shared append body: validations + the two additive component
    * writes (direct for the unguarded form, into the staging dir for
    * the guarded one). Never touches the stored `bands` generation. */
  private def appendToMinhashIndexBody(
      spark: org.apache.spark.sql.SparkSession,
      snap: IndexLayout.Snapshot, newDocs: DataFrame,
      idCol: String, textCol: String,
      stageDir: Option[String]): Unit = {
    val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
    val shingleN = meta.getAs[Int]("shingleN")
    val numHashes = meta.getAs[Int]("numHashes")
    val bandRows = meta.getAs[Int]("bandRows")
    val inc = newDocs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("__text"))
    val overlap = IndexLayout.readComponent(spark, snap.dir("shingles"))
      .join(inc.select("id").distinct(), Seq("id"), "left_semi").count()
    require(overlap == 0,
      s"appendToMinhashIndex: $overlap doc id(s) already exist in the index " +
        s"at ${snap.path} — an overlapping id would double its shingle rows " +
        "and band entries; re-ingesting changed documents is " +
        "deleteFromIndex + append, not a bare append")
    if (inc.limit(1).count() == 0) return // empty increment
    val incShingles = inc
      .repartition(col("id"))
      .select(col("id"),
        TextFunctions.shingleHashes(col("__text"), shingleN).as("sh"))
    val incBandRows = inc
      .select(col("id"),
        explode(TextFunctions.minhashBands(
          col("__text"), shingleN, numHashes, bandRows)).as("bucket"))
      .select(col("bucket"), col("id"))
    stageDir match {
      case Some(stage) =>
        incShingles.write.parquet(s"$stage/shingles")
        incBandRows.write.parquet(s"$stage/bandrows")
      case None =>
        incShingles.write.mode("append").parquet(snap.dir("shingles"))
        incBandRows.write.mode("append").parquet(snap.dir("bandrows"))
        IndexLayout.commit(spark, snap, Map.empty) // lost-lease fence
        spark.catalog.refreshByPath(snap.dir("shingles"))
        spark.catalog.refreshByPath(snap.dir("bandrows"))
    }
  }

  /** Probe a persisted MinHash index: near-dup pairs between a NEW
    * batch and the indexed reference at exact Jaccard ≥ `threshold`
    * (verified over the 64-bit shingle identities — equal to string
    * Jaccard absent ~2⁻⁶⁴ collisions, which fail a string-keyed
    * oracle loudly). Banding parameters come from the index meta, so
    * probe and build cannot drift.
    *
    * Scale shape: the probe batch is banded and grouped to bounded
    * per-bucket id lists; sized on its REAL count, a small probe
    * side BROADCASTS into the bucket join — the stored band table
    * streams map-side and the reference never shuffles (the
    * build-once promise kept at probe time); an over-budget probe
    * falls back to a shuffle join. Candidates are materialized and
    * counted (the explode-estimate trap) and checked by the same verify
    * as [[minhashPairs]], over the stored shingle payload — read, not
    * recomputed. Output: (corpus_id = probe id, ref_id, jaccard). */
  def probeMinhashIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val st = loadMinhashIndex(spark, path)
    probeMinhashIndexWith(st, newDocs, idCol, textCol, threshold)
  }

  /** The driver-resident state of a persisted MinHash index: banding
    * parameters (one bounded meta read) plus the band/shingle
    * DataFrames (constructed once — file listing and plan reused by
    * every probe). Streaming callers load this ONCE at stream start
    * and probe per micro-batch via [[probeMinhashIndexWith]], instead
    * of paying a meta parquet job + two read plans per batch
    * (measured as ~4 fixed driver actions per batch at second-level
    * triggers). */
  case class MinhashIndexState(
      shingleN: Int, numHashes: Int, bandRows: Int, maxBucketSize: Int,
      bands: DataFrame, shingles: DataFrame,
      pendingBandRows: Option[DataFrame] = None)

  /** Read the index meta + construct the band/shingle readers, once —
    * every component resolved from ONE [[IndexLayout]] snapshot, so a
    * concurrent maintenance flip can never hand a probe mixed
    * generations. `pendingBandRows` is the flat (bucket, id) side
    * component appends accumulate ([[appendToMinhashIndex]]) until the
    * next [[IndexMaintenance.compactIndex]] folds it away;
    * absent (and the probe plan unchanged vs build) when no appends
    * are pending. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): MinhashIndexState = {
    val snap = IndexLayout.snapshot(spark, path)
    val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
    val brDir = snap.dir("bandrows")
    val pending =
      if (IndexMaintenance.dataFiles(spark, brDir).nonEmpty)
        Some(IndexLayout.readComponent(spark, brDir))
      else None
    MinhashIndexState(
      meta.getAs[Int]("shingleN"), meta.getAs[Int]("numHashes"),
      meta.getAs[Int]("bandRows"), meta.getAs[Int]("maxBucketSize"),
      IndexLayout.readComponent(spark, snap.dir("bands")),
      IndexLayout.readComponent(spark, snap.dir("shingles")),
      pending)
  }

  /** [[probeMinhashIndex]] with the index state already loaded — the
    * per-batch body for streaming probes. Identical plan and output
    * (the self-reading form delegates here). */
  def probeMinhashIndexWith(
      st: MinhashIndexState,
      newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame =
    probeMinhashIndexCounted(st, newDocs, idCol, textCol, threshold)
      .frame.toDF("corpus_id", "ref_id", "jaccard")

  /** [[probeMinhashIndexWith]] as its [[Verified]] (a_id = probe id,
    * b_id = reference id) pairs; tests pass a negative `budget` to force
    * the over-budget path. The stored side carries no byte bound, so a
    * small candidate set takes the small path's `InSet` filters but not
    * the driver verify. */
  private[graft] def probeMinhashIndexCounted(
      st: MinhashIndexState,
      newDocs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, budget: Long = RepartitionVerifyRows): Verified = {
    import st.{shingleN, numHashes, bandRows, maxBucketSize}
    val spark = newDocs.sparkSession
    // probe-side shingles are computed, as the index hashes them
    val (bands, probe) = banded(newDocs, col(idCol).cast("long"), col(textCol),
      TextFunctions.shingleHashes(_, shingleN), shingleN, numHashes, bandRows)
    val hot = spark.sparkContext.longAccumulator("dedup.hotBuckets")
    val (probeGrouped, nProbe) = described(spark, "dedup.index.candidates")(
      Materialize.withCount(bucketLists(bands, "a_ids", maxBucketSize, hot)))
    val pg = if (nProbe <= BroadcastSafeRows) broadcast(probeGrouped)
             else probeGrouped.hint("merge")

    // stored buckets ∪ the pending append rows grouped under the same
    // cap (increment-sized — bounded by rows appended since the last
    // compaction; a bucket present in both components joins the probe
    // twice and the pair-level dropDuplicates below unifies them)
    val bandsIdx = st.pendingBandRows.fold(st.bands)(pending =>
      st.bands.unionByName(bucketLists(pending, "ids", maxBucketSize, hot)))
    val (pairs, nCand) = described(spark, "dedup.index.candidates")(
      Materialize.withCount(pg
        .join(bandsIdx.withColumnRenamed("ids", "b_ids"), "bucket")
        .select(TextFunctions.idPairs(col("a_ids"), col("b_ids")))
        .dropDuplicates("a_id", "b_id")))
    // reference-side shingles: READ from the index, never recomputed
    val stored = Side(st.shingles.select(col("id"), col("sh").as("v")), identity)
    minhashVerify(
      candidates(pairs, nCand, hot.value.longValue, maxBucketSize),
      Seq(probe, stored), shingleN, threshold, "dedup.index", budget)
  }

  /** Near-duplicate CLUSTERS: connected components over the LSH pair
    * graph. Output: (id, cluster_id) where cluster_id = min id in the
    * component (singletons keep their id); "keep one per cluster"
    * dedup = filter id == cluster_id. */
  def clusters(df: DataFrame, idCol: String, textCol: String,
               threshold: Double = 0.8, maxIter: Int = 20): DataFrame =
    minhashClusters(df, idCol, textCol, threshold, maxIter)

  /** [[clusters]] with the small path's pairs handed to the components
    * stage: pairs verified on the driver (long ids) go straight into the
    * driver union-find, with no local relation and no collect; otherwise
    * the real candidate count sends a set that fits `driverEdgeLimit`
    * to the union-find. `budget` and `driverEdgeLimit` are the test
    * hooks that force the over-budget pairs and the star rounds. */
  private[graft] def minhashClusters(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxIter: Int = 20, carry: Seq[String] = Nil,
      budget: Long = RepartitionVerifyRows,
      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame =
    minhashPairsCounted(df, idCol, textCol, threshold = threshold, budget = budget) match {
      case OnDriver(pairs, _) if df.schema(idCol).dataType == LongType &&
          pairs.length <= driverEdgeLimit =>
        labelled(df, idCol, unionFindLabels(df.sparkSession, idCol, pairs.iterator.map(p =>
          (p._1.asInstanceOf[Long], p._2.asInstanceOf[Long]))), carry)
      case v => clustersFromBoundedPairs(df, idCol, v.frame, v.bound, maxIter,
        driverEdgeLimit, carry)
    }

  /** Canonical-document selection per near-dup cluster: within each
    * [[clusters]] component, keep the member maximizing
    * (`scoreCol` desc, id asc) — "best-quality duplicate wins", the
    * keep rule real dedup pipelines use instead of min-id (the
    * longest / highest-quality copy survives, truncated or boiler-
    * plated copies drop). Deterministic: the id tiebreak makes the
    * argmax total even under score ties.
    *
    * Returns one row per cluster: (cluster_id, keep_id, n_members).
    * Cost beyond clustering itself is ONE map-side-combined groupBy
    * over (cluster, score) — max_by with a (score, -id) struct key,
    * no window, no sort. */
  def canonicalPerCluster(df: DataFrame, idCol: String, textCol: String,
                          scoreCol: String, threshold: Double = 0.8): DataFrame =
    canonicalOf(minhashClusters(df, idCol, textCol, threshold, carry = Seq(scoreCol)),
      idCol, scoreCol)

  /** The keep pick over (id, cluster_id, score) labels. The score rides
    * the label join (carry), so the corpus is scanned and label-joined
    * ONCE — the previous clusters()-then-join-df form paid a second
    * corpus scan and a second id-keyed join for a column the label join
    * could carry for free. */
  private[graft] def canonicalOf(labels: DataFrame, idCol: String,
                                 scoreCol: String): DataFrame =
    labels.groupBy(col("cluster_id"))
      .agg(
        max_by(col(idCol), struct(col(scoreCol), negate(col(idCol)))).as("keep_id"),
        count(lit(1)).as("n_members"))

  /** Leakage-safe train/validation split: assign each document to a
    * split by hashing its NEAR-DUP CLUSTER label, never its own id —
    * all members of a [[clusters]] component land on the same side,
    * so a validation document can never have a near-duplicate in
    * train (the split-contamination mode a plain per-doc hash split
    * silently allows; decontamination-by-construction). `valPct` of
    * the hash buckets go to "val", the rest to "train"; the seeded
    * hash makes the split reproducible and re-rollable per seed.
    *
    * Cost beyond clustering itself is a pure projection over the
    * cluster labels (seeded xxhash64 → pmod bucket → flag): zero
    * additional shuffles or actions at any corpus size. Buckets are
    * uniform by avalanche, so split sizes track valPct in expectation
    * CLUSTER-wise (the unavoidable quantization: a giant cluster
    * moves as one unit — that is the point). */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8, valPct: Int = 10,
                       seed: Long = 7L): DataFrame = {
    require(valPct >= 0 && valPct <= 100, s"bad valPct $valPct")
    clusters(df, idCol, textCol, threshold = threshold)
      .withColumn("bucket",
        pmod(ShuffleOrder.seededHash(col("cluster_id"), seed), lit(100L))
          .cast("int"))
      .withColumn("split",
        when(col("bucket") < lit(100 - valPct), lit("train"))
          .otherwise(lit("val")))
  }

  /** Connected components from an existing (a_id, b_id) pair set —
    * lets callers reuse pairs they already computed (e.g. after
    * minhashPairs) instead of re-running the LSH pipeline.
    *
    * Algorithm: alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) —
    * converges in O(log n) rounds on ANY graph shape (min-label
    * propagation needs diameter rounds, a scale risk on chained
    * near-dup graphs), and each round touches only the edge set.
    * Convergence is detected from a count + order-independent hash
    * fingerprint of the materialized edge set — no extra pass over
    * unmaterialized data, no driver-side edge collection.
    *
    * Fault tolerance: when `spark.sparkContext.setCheckpointDir` is
    * configured (always, on a real cluster), per-round edge sets are
    * reliably checkpointed — an executor loss recomputes nothing.
    * Without one (tests, single node) it falls back to localCheckpoint.
    * Lineage is truncated either way, so per-round plans stay O(1). */
  def clustersFromPairs(df: DataFrame, idCol: String, pairsDf: DataFrame,
                        maxIter: Int = 20,
                        driverEdgeLimit: Long = DriverEdgeLimit,
                        carry: Seq[String] = Nil): DataFrame =
    clustersFromBoundedPairs(df, idCol, pairsDf, None, maxIter,
      driverEdgeLimit, carry)

  /** Edge count up to which [[clustersFromPairs]] labels components
    * with a driver union-find instead of distributed star rounds. */
  private[graft] val DriverEdgeLimit = 200000L

  /** [[clustersFromPairs]] over a pair set that may be known to hold
    * at most `pairsBound` rows. A bound within `driverEdgeLimit` (long ids)
    * collects the pairs straight into the driver union-find: no edge
    * dedup shuffle, no checkpoint, no fingerprint. */
  private def clustersFromBoundedPairs(
      df: DataFrame, idCol: String, pairsDf: DataFrame, pairsBound: Option[Long],
      maxIter: Int, driverEdgeLimit: Long, carry: Seq[String]): DataFrame = {
    // (count, order-independent hash xor) of the DISTINCT edge set —
    // equal fingerprints across a round ⇒ fixed point reached (xor is
    // overflow-free; edges are deduped, so no cancellation ambiguity)
    def fingerprint(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // checkpoint an edge set AND take its fingerprint in ONE action:
    // both Observation metrics ride the checkpoint's materialization
    // job, so every CC entry — and every star round — stops paying a
    // separate fingerprint pass over the edges it just wrote (the
    // withCount idiom, Materialize.withCount, extended to two metrics).
    // Fallback on a dropped listener event: the explicit aggregate.
    def materializeFp(d: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = Observation()
      val m = Materialize(d.observe(obs,
        count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("x")))
      val fp = Materialize.observed(obs, "clustersFromPairs fingerprint")
        .map(r => (r.getLong(0), r.getLong(1))).getOrElse(fingerprint(m))
      (m, fp)
    }

    // large-star: every node links its larger neighbors to the min of
    // its closed neighborhood; small-star: links its smaller neighbors
    // (and itself) to that min. Alternating the two contracts every
    // component to a star rooted at its global min.
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = und.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      und.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("src"), col("dst")).as("src"),
                        least(col("src"), col("dst")).as("dst"))
      val mins = or.groupBy("src").agg(min("dst").as("m"))
      or.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // ADAPTIVE: a near-dup edge set is orders smaller than the corpus
    // (it is O(duplicate pairs), already deduped and skew-capped). When
    // it fits the same size budget that justifies collecting a
    // broadcast-join side, a driver union-find replaces ~log(n) star
    // rounds × ~6 shuffles each with ONE collect + ONE broadcast join —
    // the exact runtime size-based strategy choice AQE makes for joins.
    // Past the bound (or for non-long ids) the distributed star rounds
    // run unchanged, so the operator never depends on the edges
    // fitting anywhere.
    val spark = df.sparkSession
    val idIsLong = df.schema(idCol).dataType == LongType
    // duplicate edges and self-loops are no-ops for the union-find, so
    // it takes raw pairs as well as the deduped edge set
    def collected(edges: DataFrame): DataFrame =
      unionFindLabels(spark, idCol, described(spark, "dedup.cc.unionFind")(edges.collect())
        .iterator.map(row => (row.getLong(0), row.getLong(1))))

    val labels: DataFrame =
      if (idIsLong && pairsBound.exists(_ <= driverEdgeLimit))
        collected(pairsDf.select(col("a_id"), col("b_id")))
      else {
        var (edges, fp) = described(spark, "dedup.cc.edges")(materializeFp(
          pairsDf.select(col("a_id").as("src"), col("b_id").as("dst"))
            .filter(col("src") =!= col("dst")).distinct()))
        if (fp._1 == 0L) edges.select(col("src").as(idCol), col("dst").as("cluster_id"))
        else if (idIsLong && fp._1 <= driverEdgeLimit) collected(edges)
        else {
          var converged = false
          var i = 0
          while (!converged && i < maxIter) {
            val (next, nfp) = described(spark, "dedup.cc.starRound")(
              materializeFp(smallStar(largeStar(edges))))
            converged = nfp == fp
            edges = next
            fp = nfp
            i += 1
          }
          // a silent partial contraction would return WRONG labels —
          // fail loudly instead (maxIter=20 covers component diameters
          // ~2^20; non-convergence means something pathological, not
          // "close enough")
          if (!converged) throw new IllegalStateException(
            s"connected components did not converge in $maxIter rounds; raise maxIter")
          // at the fixed point every edge is (node, component-min root);
          // the converged edge count is known — above the broadcast-safe
          // budget the label join must shuffle (the checkpoint's static
          // estimate can't be trusted to forbid a giant broadcast build)
          noStaticBroadcast(
            edges.select(col("src").as(idCol), col("dst").as("cluster_id")),
            fp._1 > BroadcastSafeRows)
        }
      }
    labelled(df, idCol, labels, carry)
  }

  /** (id, cluster_id) labels of the components of `edges` from a driver
    * union-find, broadcast: only non-root nodes get a row. */
  private def unionFindLabels(spark: SparkSession, idCol: String,
                              edges: Iterator[(Long, Long)]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != r) {
        val next = parent.getOrDefault(c, c); parent.put(c, r); c = next
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // root chains collapse to the min id per component because
    // unions always attach the larger root under the smaller
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet().forEach { n => val r = find(n); if (n != r) out += ((n, r)) }
    import spark.implicits._
    broadcast(out.toSeq.toDF(idCol, "cluster_id"))
  }

  /** `df`'s ids with their component labels: roots and singletons label
    * themselves via the left join; `carry` columns ride along so callers
    * that need them (canonical pick's score) never pay a second corpus
    * scan + id join. */
  private def labelled(df: DataFrame, idCol: String, labels: DataFrame,
                       carry: Seq[String]): DataFrame = {
    require(!carry.contains("cluster_id") && !carry.contains(idCol),
      s"carry columns collide with reserved output columns " +
        s"('cluster_id', '$idCol'): ${carry.mkString(", ")}")
    df.select((idCol +: carry).map(col): _*)
      .join(labels, Seq(idCol), "left")
      .select(col(idCol) +: coalesce(col("cluster_id"), col(idCol)).as("cluster_id")
        +: carry.map(col): _*)
  }

  /** Keep-one-per-cluster dedup: drop every near-duplicate except the
    * minimum-id representative of its cluster. */
  def dedupByMinhash(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.8): DataFrame = {
    val keep = clusters(df, idCol, textCol, threshold)
      .filter(col(idCol) === col("cluster_id"))
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** SimHash near-duplicate pairs with hamming distance ≤ maxHamming.
    *
    * The 64-bit signature is split into `numChunks` chunks; a pair at
    * hamming ≤ h has ≥ numChunks−h chunks equal (pigeonhole), so
    * bucketing on every (numChunks−h)-subset of chunks is lossless for
    * the exact-hamming verify. numChunks trades bucket cardinality
    * against keys per doc:
    *  - numChunks=4, h=3 → 4 single-chunk keys, only 4×2^16 possible
    *    buckets — cheapest fan-out but fine only to ~1M docs, quadratic
    *    beyond (expected bucket is N/65536 ids);
    *  - numChunks=6, h=3 → C(6,3)=20 three-chunk keys of ~32 bits —
    *    the DEFAULT, chosen for the 100 TB target: buckets stay tiny
    *    because the key space is ~10^9, at 5× the per-doc key fan-out.
    *    Pass numChunks=4 explicitly for small corpora where the extra
    *    fan-out costs more than it saves.
    *
    * `maxBucketSize` is the skew guard: buckets above it are dropped,
    * so a degenerate mass-duplicate value (e.g. the empty document)
    * cannot create a quadratic pair explosion. Recall consequence:
    * pairs whose ONLY shared buckets are oversized are lost — that
    * happens exactly when > maxBucketSize docs share those chunk
    * values, i.e. mass near-identical documents; run `exact` dedup
    * first (its output feeds smaller buckets here), as minhashPairs
    * documents for its identical guard. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, numChunks: Int = 6,
      maxBucketSize: Int = 10000): DataFrame = {
    require(numChunks > maxHamming,
      "chunk bucketing is lossless only when numChunks > maxHamming")
    require(numChunks <= 16, "more than 16 chunks of a 64-bit signature is pointless")
    // hash each document ONCE: the narrow (id, sh) pair — 16 bytes/doc
    // — is materialized and feeds BOTH the bucket keys (pure bit ops
    // via SimHashKeysFromHash) and the hamming verify joins. The
    // signature (token split + per-token fnv64 × 64 counters) is the
    // operator's dominant cost; deriving buckets from the stored hash
    // instead of re-hashing the text halves it, at the price of one
    // O(docs × 16B) checkpoint — the same trade minhashPairs makes for
    // its candidate shingle sets. Repartitioned first so the compute
    // and the checkpoint write spread across the cluster instead of
    // pinning the corpus scan's input partitions.
    val docs = described(df.sparkSession, "dedup.simhash.signatures")(Materialize(df
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .repartition(col("id"))
      .select(col("id"),
        TextFunctions.simhash64(split(col("__text"), " ")).as("sh"))))
    signaturePairs(docs, maxHamming, numChunks, maxBucketSize, SignatureBroadcastRows,
      "dedup.simhash")
  }

  /** Hamming-radius pairs over a PRE-COMPUTED 64-bit signature column
    * — [[simhashPairs]]' pairing stage for signatures the caller
    * already owns (an image perceptual hash, a stored simhash, any
    * 64-bit locality-sensitive code). Same guarantees: chunk-
    * combination buckets are LOSSLESS for `numChunks > maxHamming`,
    * bucket sizes hard-capped, exact xor/bit_count verify. NULL
    * signatures (undecodable blobs) drop out. */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3, numChunks: Int = 6,
                   maxBucketSize: Int = 10000): DataFrame = {
    require(numChunks > maxHamming,
      "chunk bucketing is lossless only when numChunks > maxHamming")
    require(numChunks <= 16, "more than 16 chunks of a 64-bit signature is pointless")
    val docs = described(df.sparkSession, "dedup.hamming.signatures")(Materialize(df
      .filter(col(hashCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(hashCol).cast("long").as("sh"))
      .repartition(col("id"))))
    signaturePairs(docs, maxHamming, numChunks, maxBucketSize, SignatureBroadcastRows,
      "dedup.hamming")
  }

  /** Signature rows up to which an over-budget hamming verify
    * broadcasts its (id, sh) payload: the rows are 16 bytes, so 2M ≈
    * 128 MB hashed. */
  private val SignatureBroadcastRows = 2000000L

  /** (id, sh) → hamming ≤ maxHamming pairs (shared tail of
    * [[simhashPairs]] / [[hammingPairs]]); its jobs run under
    * `$jobs.candidates` / `$jobs.verify`. Tests pass a small
    * `payloadRows` to force the pure shuffle joins. */
  private[graft] def signaturePairs(docs: DataFrame, maxHamming: Int,
                                    numChunks: Int, maxBucketSize: Int,
                                    payloadRows: Long, jobs: String): DataFrame = {
    val spark = docs.sparkSession
    val chunks = docs.select(
      col("id"),
      explode(TextFunctions.simhashKeysFromHash(
        col("sh"), numChunks, maxHamming)).as("bucket"))

    val Candidates(candidates, nCand, _) =
      described(spark, s"$jobs.candidates")(bucketPairs(chunks, maxBucketSize))
    val big = nCand > BroadcastSafeRows
    // docs is already materialized, so the payload count is free
    val payload = described(spark, s"$jobs.verify")(verifySideWrap(docs, big, payloadRows))(docs)
    pairJoin(candidates, payload, payload, big)
      .withColumn("hamming", bit_count(col("__a").bitwiseXOR(col("__b"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Exact n-gram Jaccard over all pairs in an id range — the
    * verification primitive by itself (bounded input: quadratic). */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.1, maxId: Long = Long.MaxValue): DataFrame = {
    val docs = df.filter(col(idCol) < maxId).select(
      col(idCol).as("id"), TextFunctions.wordShingles(col(textCol), shingleN).as("sh"))
    val a = docs.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val b = docs.select(col("id").as("b_id"), col("sh").as("b_sh"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("jaccard", TextFunctions.setJaccard(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "jaccard")
  }

  /** Embedding near-duplicate pairs via random-hyperplane LSH buckets +
    * exact cosine verify. Hyperplanes derive deterministically from the
    * seed and the vector dimension inside the expression — no
    * driver-side pass over the data to size them. */
  def embeddingPairs(
      df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.9, numPlanes: Int = 16, numTables: Int = 8,
      maxBucketSize: Int = 10000, seed: Long = 42L): DataFrame = {
    val vecs = df.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))

    val bands = vecs.select(col("id"),
      explode(graft.functions.VectorFunctions.hyperplaneBuckets(
        col("v"), seed, numTables, numPlanes)).as("bucket"))

    val spark = df.sparkSession
    val Candidates(candidates, nCand, _) =
      described(spark, "dedup.embedding.candidates")(bucketPairs(bands, maxBucketSize))
    val big = nCand > BroadcastSafeRows

    // the count is one columnar scan, trivial next to an over-budget
    // verify
    val payload = described(spark, "dedup.embedding.verify")(
      verifySideWrap(vecs, big, VectorBroadcastRows))(vecs)
    pairJoin(candidates, payload, payload, big)
      .withColumn("cosine", Similarity.cosine(col("__a"), col("__b")))
      .filter(col("cosine") >= minCosine)
      .select("a_id", "b_id", "cosine")
  }

  /** Vector rows up to which an over-budget embedding verify broadcasts
    * its (id, v) payload: ~0.5 KB/row at dim 64, so 500k ≈ 300 MB
    * hashed. */
  private val VectorBroadcastRows = 500000L
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{toColumn, toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text primitives for the large-scale data-pipeline operators:
  * shingling, MinHash signatures, SimHash, winnowing fingerprints,
  * token counts, language/quality heuristics.
  *
  * Everything is deterministic (fixed seeds) so distributed runs are
  * reproducible and the dedup operators' outputs are stable across
  * partitionings. The per-document hash work (k permutations × s
  * shingles) runs inside a single Catalyst expression evaluation —
  * one pass over the shingle array, no UDF serialization overhead.
  *
  * Codegen note: most custom expressions here are CodegenFallback —
  * each row pays one interpreted dispatch, then the tight primitive
  * loop inside nullSafeEval does the real work. The loop dominates
  * (thousands of hash ops per row), so a doGenCode would shave only
  * the per-row dispatch; measured cost is in the loop, not the glue.
  * The exception is [[RepetitionStats]] — the quality-filter path runs
  * it over the entire corpus, so it has a real doGenCode that keeps
  * the surrounding WholeStageCodegen stage intact.
  */
object TextFunctions {

  /** Word n-gram shingles (distinct), matching
    * `list_distinct(list_transform(...))` over `string_split` tokens in
    * the DuckDB oracle: split on single spaces, join n-grams with ' '.
    *
    * Fused into ONE expression ([[WordShingles]]): the composed form
    * (`transform(sequence(1, cnt), i -> concat_ws(..., element_at(
    * split(text), i+j)...))`) hits the lambda-inlining trap (§4) —
    * CollapseProject inlines `split(text)` into the lambda body and
    * interpreted HOFs do no subexpression elimination, so the text was
    * re-split per shingle position × n refs = O(tokens²·n) per doc
    * (caught live at sf1: one task pinned in StringSplit.nullSafeEval
    * through ConcatWs for minutes). The fused form splits once. */
  def wordShingles(text: Column, n: Int): Column =
    toColumn(WordShingles(toExpr(text), n))

  /** k-permutation MinHash signature of a string array → array<long>. */
  def minhashSig(shingles: Column, numHashes: Int = 128): Column =
    toColumn(MinHashSig(toExpr(shingles), numHashes))

  /** MinHash signature straight from text: split → n-gram shingle →
    * fnv64 → k-permutation minima in ONE expression eval, with no
    * intermediate Catalyst arrays. ~10× the throughput of
    * minhashSig(wordShingles(…)) — shingle identity is the 64-bit
    * shingle hash (collisions ~1e-13/doc, and the exact-Jaccard verify
    * step makes them harmless). */
  def minhashSigText(text: Column, shingleN: Int, numHashes: Int = 128): Column =
    toColumn(MinHashSigText(toExpr(text), shingleN, numHashes))

  /** LSH band bucket keys straight from text — signature computed once
    * per row (see [[MinHashBands]] for why composing this from lambdas
    * over minhashSigText recomputes the signature per band). */
  def minhashBands(text: Column, shingleN: Int, numHashes: Int, bandRows: Int): Column =
    toColumn(MinHashBands(toExpr(text), shingleN, numHashes, bandRows))

  /** SimHash combination-bucket keys straight from a token array —
    * simhash computed once per row (see [[SimHashKeys]]). */
  def simhashKeys(tokens: Column, numChunks: Int, maxHamming: Int): Column =
    toColumn(SimHashKeys(toExpr(tokens), numChunks, maxHamming))

  /** Combination-bucket keys from an ALREADY-COMPUTED 64-bit simhash —
    * pure bit ops, no text hashing. Lets a pipeline hash each document
    * once, store the narrow (id, sh) pair, and derive both the bucket
    * keys and the hamming verify from it (see Dedup.simhashPairs). */
  def simhashKeysFromHash(sh: Column, numChunks: Int, maxHamming: Int): Column =
    toColumn(SimHashKeysFromHash(toExpr(sh), numChunks, maxHamming))

  /** 64-bit SimHash over a token array → long. */
  def simhash64(tokens: Column): Column = toColumn(SimHash64(toExpr(tokens)))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): char k-gram
    * rolling hashes, minimum per sliding window → array<long> distinct. */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    toColumn(WinnowFingerprints(toExpr(text), k, w))

  /** Rolling polynomial hashes of every `w`-token window of the text
    * (1 window per token position, each an exact 64-bit content key for
    * `w` consecutive whitespace tokens) → array<long>. One O(tokens)
    * pass per document (see [[DupWindowHashes]]); feeds the exact
    * substring dedup operator. */
  def dupWindowHashes(text: Column, w: Int): Column =
    toColumn(DupWindowHashes(toExpr(text), w))

  /** Maximal spans (1-based struct<s,e>) of windows repeated WITHIN
    * the document — one zero-shuffle expression pass (see
    * [[SelfDupSpans]]); feeds self-repetition removal. */
  def selfDupSpans(text: Column, w: Int): Column =
    toColumn(SelfDupSpans(toExpr(text), w))

  /** Gopher-style repetition stats in one pass: struct<top_gram,
    * top_gram_frac, dup_gram_frac> (see [[RepetitionStats]]). */
  def repetitionStats(text: Column, topN: Int = 2, dupN: Int = 3): Column =
    toColumn(RepetitionStats(toExpr(text), topN, dupN))

  /** Accent stripping: NFD-decompose, drop combining marks — the same
    * mapping DuckDB's `strip_accents` applies on Latin text. */
  def stripAccents(text: Column): Column = toColumn(StripAccents(toExpr(text)))

  /** Hashed-linear classifier logit (see [[LinearTextScore]]).
    * Supply `weights` (one fixed-point long per bucket) to run a
    * TRAINED model's table; omit it for the hash-derived stub. */
  def linearTextScore(text: Column, buckets: Int = 1 << 16,
                      span: Int = 61,
                      weights: Option[Array[Long]] = None): Column =
    // defensive copy: the expression's structural-equality contract
    // must not alias a caller-held mutable buffer
    toColumn(LinearTextScore(toExpr(text), buckets, span,
      weights.map(w => scala.collection.immutable.ArraySeq.unsafeWrapArray(w.clone()))))

  /** The hashed-feature bucket stream [[LinearTextScore]] scores —
    * unigrams + adjacent bigrams, fnv64-hashed mod `buckets` — exposed
    * as array<long> so feature STATISTICS (per-bucket counts for
    * importance weighting, df, coverage) can be aggregated with the
    * guarantee that they describe exactly the features inference will
    * read (see [[FeatureBuckets]]). */
  def featureBuckets(text: Column, buckets: Int): Column =
    toColumn(FeatureBuckets(toExpr(text), buckets))

  /** Banded byte-level Levenshtein: the edit distance when it is
    * ≤ `maxEdits`, -1 beyond — O(len·maxEdits) per pair, not O(len²)
    * (see [[EditDistanceWithin]]). */
  def editDistanceWithin(a: Column, b: Column, maxEdits: Int): Column =
    toColumn(EditDistanceWithin(toExpr(a), toExpr(b), maxEdits))

  /** fnv64 of each adjacent word bigram → array<long>, fused (see
    * [[BigramHashes]] for why the composed HOF + string form loses). */
  def bigramHashes(text: Column): Column =
    toColumn(BigramHashes(toExpr(text)))

  /** Each adjacent word transition as struct<bg: fnv64("w1 w2"),
    * ctx: fnv64("w1")> → array<struct>, fused in one pass (see
    * [[TransitionHashes]]) — the 16-byte key pair the bigram-LM
    * scoring joins carry instead of two strings. `bg` is bit-identical
    * to [[bigramHashes]] (the ctx hash is fnv's running state after
    * w1, extended by ' ' + w2 for bg). */
  def transitionHashes(text: Column): Column =
    toColumn(TransitionHashes(toExpr(text)))

  /** Distinct 64-bit shingle identities — the persistable dedup-verify
    * payload (see [[ShingleHashes]]; identical hashing to
    * [[MinHashSigText]]). */
  def shingleHashes(text: Column, shingleN: Int): Column =
    toColumn(ShingleHashes(toExpr(text), shingleN))

  /** Exact set Jaccard of two array<string> or two array<bigint>
    * columns, repeats counted once: the value of
    * `size(array_intersect(a, b)) / size(array_union(a, b))` in one
    * pass (see [[SetJaccard]]). NULL when both sets are empty. */
  def setJaccard(a: Column, b: Column): Column =
    toColumn(SetJaccard(toExpr(a), toExpr(b)))

  /** Generator of one (a_id, b_id) row per element of `a` × `b`
    * (see [[IdPairs]]). */
  def idPairs(a: Column, b: Column): Column = toColumn(IdPairs(toExpr(a), toExpr(b)))

  /** The distinct word n-gram shingles of `text` in first-occurrence
    * order: split on single spaces (Spark `split` semantics — trailing
    * empty tokens kept), n-grams joined with ' '; empty when the text
    * has fewer than `n` tokens: [[WordShingles]]' shingle identity. */
  private[graft] def shingleSet(text: String, n: Int): java.util.LinkedHashSet[String] = {
    val toks = text.split(" ", -1)
    val cnt = toks.length - n + 1
    val seen = new java.util.LinkedHashSet[String](math.max(cnt, 0) * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  /** The distinct elements of `xs` as Catalyst values: the one element
    * set of [[SetJaccard]] and of the MinHash dedup's driver verify. */
  private[graft] def elementSet(xs: ArrayData, elementType: DataType): java.util.Set[Any] = {
    val set = new java.util.HashSet[Any](xs.numElements() * 2)
    var i = 0
    while (i < xs.numElements()) { set.add(xs.get(i, elementType)); i += 1 }
    set
  }

  /** |A ∩ B| / |A ∪ B| of two sets, NULL when both are empty: the one
    * division of [[SetJaccard]] and of the MinHash dedup's driver
    * verify, so both give the same double for every pair. */
  private[graft] def jaccard[T](a: java.util.Set[T], b: java.util.Set[T]): java.lang.Double = {
    val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
    var inter = 0
    val it = small.iterator()
    while (it.hasNext) if (large.contains(it.next())) inter += 1
    val union = a.size + b.size - inter
    if (union == 0) null else inter.toDouble / union
  }

  /** Every i < j pair of a sorted run of ids, lazily, in (i, j) order:
    * one bucket's candidate pairs in the MinHash, SimHash and embedding
    * dedup, which buffer each bucket's ids sorted. */
  private[graft] def runPairs[T](ids: scala.collection.IndexedSeq[T]): Iterator[(T, T)] =
    Iterator.range(0, ids.length).flatMap(i =>
      Iterator.range(i + 1, ids.length).map(j => (ids(i), ids(j))))

  /** Per-doc term counts: array<struct<term, tf>> in first-occurrence
    * order — the in-row (doc, term, tf) form (see [[TermCounts]]). */
  def termCounts(text: Column): Column =
    toColumn(TermCounts(toExpr(text)))

  /** Binary-ordered i<j vocab term pairs from one doc's term counts,
    * with the driver-collected vocab embedded (see [[VocabPairs]]). */
  def vocabPairs(tc: Column, vocab: Seq[(String, Long)]): Column =
    toColumn(VocabPairs(toExpr(tc), vocab.toIndexedSeq))

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(text) === 0, lit(0)).otherwise(size(split(text, " ")))

  /** BPE-ish token count: word pieces + digits + punctuation runs. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  // 64-bit FNV-1a over UTF-8 bytes — stable string hash for sketches.
  private[functions] def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  // splitmix64 finalizer — decorrelates permutation seeds.
  private[functions] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Fused word-shingle expression: split ONCE, emit the distinct
  * n-gram strings of [[TextFunctions.shingleSet]] — exactly what the
  * previous `array_distinct(transform(...))` composition produced,
  * without its per-element re-split. */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val seen = TextFunctions.shingleSet(v.asInstanceOf[UTF8String].toString, n)
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** MinHash: for permutation i, min over shingles of mix64(fnv64(s) ^
  * seed_i). One fnv64 per shingle, k mixes — O(s·k) with no allocation
  * beyond the signature. */
case class MinHashSig(child: Expression, numHashes: Int)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = TextFunctions.fnv64(arr.getUTF8String(i))
      var k = 0
      while (k < numHashes) {
        val hk = TextFunctions.mix64(h ^ MinHashSig.seeds(k))
        if (hk < sig(k)) sig(k) = hk
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

object MinHashSig {
  // fixed seeds: mix64 of the permutation index
  private[functions] val seeds: Array[Long] =
    Array.tabulate(1024)(i => TextFunctions.mix64(i.toLong * 0x9e3779b97f4a7c15L + 1))
  // multiply-shift permutation family for the text fast path: h_k(x) =
  // a_k·x + b_k over Z/2^64 with a_k odd (a bijection). 3 ops per
  // (shingle, k) vs mix64's ~10 — the k-loop is the signature's hot
  // loop (numHashes iterations per distinct shingle).
  private[functions] val permA: Array[Long] =
    seeds.map(s => TextFunctions.mix64(s) | 1L)
  private[functions] val permB: Array[Long] =
    seeds.map(s => TextFunctions.mix64(s ^ 0x5851f42d4c957f2dL))
}

/** Fused split+shingle+hash+minhash (see minhashSigText). */
case class MinHashSigText(child: Expression, shingleN: Int, numHashes: Int)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(MinHashSigText.sigOf(
      v.asInstanceOf[UTF8String].toString, shingleN, numHashes))
  override protected def withNewChildInternal(c: Expression): MinHashSigText = copy(child = c)
}

object MinHashSigText {
  private[functions] def sigOf(s: String, shingleN: Int, numHashes: Int): Array[Long] = {
    val words = s.split(" ", -1)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (words.length >= shingleN) {
      val seen = new java.util.HashSet[Long](words.length * 2)
      // encode each word's UTF-8 bytes ONCE — the old StringBuilder +
      // toString.getBytes per shingle re-encoded every word shingleN
      // times and allocated two objects per position
      val wb = new Array[Array[Byte]](words.length)
      var wi = 0
      while (wi < words.length) {
        wb(wi) = words(wi).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        wi += 1
      }
      val permA = MinHashSig.permA
      val permB = MinHashSig.permB
      var i = 0
      val last = words.length - shingleN
      while (i <= last) {
        // fnv64 over the UTF-8 bytes of the space-joined shingle,
        // streamed word-by-word — identical to hashing the joined
        // string (shingle identity unchanged)
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < shingleN) {
          if (j > 0) { h ^= 0x20L; h *= 0x100000001b3L }
          val bytes = wb(i + j)
          var bi = 0
          while (bi < bytes.length) {
            h ^= (bytes(bi) & 0xffL); h *= 0x100000001b3L; bi += 1
          }
          j += 1
        }
        if (seen.add(h)) { // distinct shingles only
          var k = 0
          while (k < numHashes) {
            val hk = permA(k) * h + permB(k)
            if (hk < sig(k)) sig(k) = hk
            k += 1
          }
        }
        i += 1
      }
    }
    sig
  }
}

/** The DISTINCT 64-bit shingle identities of a text — fnv64 of each
  * space-joined word n-gram, streamed word-by-word exactly as
  * [[MinHashSigText]] hashes them (same identity ⇒ a stored shingle
  * set and a freshly-signatured one agree by construction). This is
  * the PERSISTABLE verify payload for index-based dedup: 8 bytes per
  * distinct shingle instead of the shingle string, with the usual
  * ~2⁻⁶⁴ collision bound (a collision inflates Jaccard vs a
  * string-keyed mirror and fails the gate loudly). First-occurrence
  * order, deterministic; Jaccard consumers use sizes only. */
case class ShingleHashes(child: Expression, shingleN: Int)
  extends UnaryExpression with CodegenFallback {
  require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val words = v.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (words.length < shingleN) return new GenericArrayData(Array.emptyLongArray)
    val wb = new Array[Array[Byte]](words.length)
    var wi = 0
    while (wi < words.length) {
      wb(wi) = words(wi).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      wi += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long](words.length * 2)
    var i = 0
    val last = words.length - shingleN
    while (i <= last) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < shingleN) {
        if (j > 0) { h ^= 0x20L; h *= 0x100000001b3L }
        val bytes = wb(i + j)
        var bi = 0
        while (bi < bytes.length) {
          h ^= (bytes(bi) & 0xffL); h *= 0x100000001b3L; bi += 1
        }
        j += 1
      }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** Exact set Jaccard |A ∩ B| / |A ∪ B| over the DISTINCT elements of two
  * arrays of the same element type (string or bigint; a null element
  * is one more element, as in `array_intersect`/`array_union`). One
  * hash set per side replaces the composed
  * `size(array_intersect(a, b)) / size(array_union(a, b))`, whose two
  * interpreted calls each built their own set and result array per
  * pair. Same division ([[TextFunctions.jaccard]]), so the same double
  * on every non-empty union;
  * two empty sets give NULL (the non-ANSI 0/0) instead of ANSI mode's
  * DIVIDE_BY_ZERO, so a `jaccard >= t` filter drops the pair. */
case class SetJaccard(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _))
          if a == b && (a == StringType || a == LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"set_jaccard needs two array<string> or two array<bigint>, got " +
            s"${l.simpleString} and ${r.simpleString}")
    }

  private lazy val elementType = left.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextFunctions.jaccard(TextFunctions.elementSet(a.asInstanceOf[ArrayData], elementType),
      TextFunctions.elementSet(b.asInstanceOf[ArrayData], elementType))

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SetJaccard = copy(left = l, right = r)
}

/** Cross-list LSH candidate-pair generator: one row (a_id, b_id) per
  * x in `a`, y in `b`, in order — exactly the rows the
  * `explode(flatten(transform(a, x -> transform(b, …))))` lambdas
  * emitted, without their interpreted per-element lambda calls and the
  * per-bucket array-of-structs they built before the explode. A null
  * list emits nothing. Rows stream lazily. */
case class IdPairs(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.Generator with CodegenFallback
  with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  private def elementOf(e: Expression): ArrayType = e.dataType.asInstanceOf[ArrayType]

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    children.find(c => !c.dataType.isInstanceOf[ArrayType]) match {
      case None => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case Some(c) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"id_pairs needs array inputs, got ${c.dataType.simpleString}")
    }

  override def elementSchema: StructType = {
    val a = elementOf(left)
    val b = elementOf(right)
    StructType(Seq(
      StructField("a_id", a.elementType, a.containsNull),
      StructField("b_id", b.elementType, b.containsNull)))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    def values(e: Expression): Array[AnyRef] = e.eval(input) match {
      case null => Array.empty
      case arr: ArrayData => arr.toObjectArray(elementOf(e).elementType)
    }
    val xs = values(left)
    val ys = values(right)
    if (ys.isEmpty) Iterator.empty
    else xs.iterator.flatMap(x => ys.iterator.map(y =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](x, y))))
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): IdPairs = copy(left = l, right = r)
}

/** Per-document TERM COUNTS in one expression eval: split on single
  * spaces (Spark `split(text, " ")` semantics), drop empty tokens,
  * count occurrences per distinct term in FIRST-OCCURRENCE order.
  * Emits array<struct<term string, tf bigint>> — the in-row form of
  * `explode(words) → groupBy(doc, term) → count`, with the
  * corpus-wide (doc, term) shuffle that aggregation pays replaced by
  * per-row local counting (a doc's terms are already co-located on
  * its row; shuffling them to count them moves the corpus once for
  * nothing). Downstream consumers explode this array to recover the
  * exact (doc, term, tf) rows, and a doc's length is the tf sum —
  * also in-row. */
case class TermCounts(child: Expression)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)

  /** Real codegen (not CodegenFallback): this runs in the corpus-wide
    * Project of EVERY BM25/tf-idf path — a CodegenFallback marker
    * would kick that whole Project (scan → count → length math) out
    * of WholeStageCodegen (CollapseCodegenStages.supportCodegen
    * rejects the stage), de-compiling the surrounding expressions.
    * The generated code calls [[compute]] directly on the unboxed
    * UTF8String; the counting loop itself is the same tight kernel. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("termCounts", this, classOf[TermCounts].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  /** Shared by interpreted eval and generated code. */
  def compute(u: UTF8String): ArrayData = {
    val toks = u.toString.split(" ", -1)
    val counts = new java.util.LinkedHashMap[String, Long](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) counts.merge(t, 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(e.getKey), e.getValue)
      k += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): TermCounts =
    copy(child = c)
}

/** Ordered vocabulary term-pair generation for co-occurrence
  * counting, fully in-row: input is one doc's
  * array<struct<term string, tf long>> ([[TermCounts]] output — the
  * per-doc DISTINCT terms); `vocab` is the driver-collected
  * (term, n_docs) top-V table, embedded in the expression the way
  * [[LinearTextScore]] embeds its weight table. Each eval keeps the
  * doc's vocab members, sorts them by BINARY (UTF8String) order —
  * exactly Spark's string ordering, so pair orientation t1 < t2
  * matches a string-compared join filter bit-for-bit — and emits
  * every i<j pair as struct<t1, t2, n_a, n_b>. Replaces a broadcast
  * vocab join + per-doc collect_set shuffle + interpreted HOF pair
  * lambdas with one compiled pass; the only shuffle left in the
  * consumer is the ≤V²-key pair aggregation. The IndexedSeq param
  * keeps case-class STRUCTURAL equality (canonicalization safety —
  * same note as LinearTextScore). */
case class VocabPairs(child: Expression, vocab: IndexedSeq[(String, Long)])
  extends UnaryExpression {
  private val structType = StructType(Seq(
    StructField("t1", StringType, nullable = false),
    StructField("t2", StringType, nullable = false),
    StructField("n_a", LongType, nullable = false),
    StructField("n_b", LongType, nullable = false)))
  override def dataType: DataType = ArrayType(structType, containsNull = false)

  @transient private lazy val vocabMap: java.util.HashMap[UTF8String, java.lang.Long] = {
    // value type must stay BOXED: a primitive-Long map would unbox
    // get()'s null-on-miss to 0L and admit every non-vocab term
    val m = new java.util.HashMap[UTF8String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (t, n) =>
      m.put(UTF8String.fromString(t), java.lang.Long.valueOf(n)) }
    m
  }

  /** Real codegen — same rationale as [[TermCounts]]: keeps the
    * corpus-wide co-occurrence Project inside WholeStageCodegen. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("vocabPairs", this, classOf[VocabPairs].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var terms = new Array[UTF8String](math.min(n, vocab.size))
    var counts = new Array[Long](terms.length)
    var m = 0
    var i = 0
    while (i < n) {
      val t = arr.getStruct(i, 2).getUTF8String(0)
      val nd = vocabMap.get(t)
      if (nd != null) { terms(m) = t; counts(m) = nd.longValue; m += 1 }
      i += 1
    }
    // insertion sort by binary term order (m ≤ V by construction)
    var a = 1
    while (a < m) {
      val t = terms(a); val c = counts(a)
      var b = a - 1
      while (b >= 0 && terms(b).compareTo(t) > 0) {
        terms(b + 1) = terms(b); counts(b + 1) = counts(b); b -= 1
      }
      terms(b + 1) = t; counts(b + 1) = c
      a += 1
    }
    val out = new Array[Any](if (m < 2) 0 else m * (m - 1) / 2)
    var k = 0
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(
          terms(i), terms(j), counts(i), counts(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): VocabPairs =
    copy(child = c)
}

/** Fused text → LSH band bucket keys: the MinHash signature is computed
  * ONCE per row and hashed into one domain-separated key per band, all
  * inside a single expression evaluation. Composing this from
  * `explode(transform(sequence(...), b => hash(slice(sig, ...))))` is a
  * trap: CollapseProject inlines the signature expression into every
  * band lambda and higher-order lambdas run interpreted with no
  * subexpression elimination, so the signature gets recomputed once per
  * band (measured 8× the cost of the signature itself at 32 bands). */
case class MinHashBands(child: Expression, shingleN: Int, numHashes: Int, bandRows: Int)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val sig = MinHashSigText.sigOf(
      v.asInstanceOf[UTF8String].toString, shingleN, numHashes)
    val numBands = numHashes / bandRows
    val keys = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      // domain-separated per band: equal slices in DIFFERENT bands must
      // not land in the same bucket
      var h = TextFunctions.mix64(b.toLong + 0x9e3779b97f4a7c15L)
      var r = 0
      while (r < bandRows) {
        h = TextFunctions.mix64(h ^ sig(b * bandRows + r))
        r += 1
      }
      keys(b) = h
      b += 1
    }
    new GenericArrayData(keys)
  }
  override protected def withNewChildInternal(c: Expression): MinHashBands = copy(child = c)
}

/** SimHash-64: sign-sum of token-hash bits. */
case class SimHash64(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SimHash64.simhashOf(v.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

object SimHash64 {
  private[functions] def simhashOf(arr: ArrayData): Long = {
    val n = arr.numElements()
    val w = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = TextFunctions.fnv64(arr.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) w(b) += 1 else w(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (w(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Fused tokens → SimHash combination-bucket keys: the simhash is
  * computed ONCE per row, chunked, and every C(numChunks, numChunks −
  * maxHamming) chunk combination is hashed to a domain-separated key —
  * one expression evaluation per row. Same CollapseProject trap as
  * [[MinHashBands]]: composing this from an `explode(array(...))` of 20
  * key expressions recomputes the simhash 20× per row. */
case class SimHashKeys(child: Expression, numChunks: Int, maxHamming: Int)
  extends UnaryExpression with CodegenFallback {
  private val keyGen = new SimHashKeyGen(numChunks, maxHamming)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(keyGen.keysOf(SimHash64.simhashOf(v.asInstanceOf[ArrayData])))
  override protected def withNewChildInternal(c: Expression): SimHashKeys = copy(child = c)
}

/** Combination-bucket keys from a stored 64-bit simhash (LongType
  * input) — identical keys to [[SimHashKeys]] on the same signature,
  * without re-hashing the token array. */
case class SimHashKeysFromHash(child: Expression, numChunks: Int, maxHamming: Int)
  extends UnaryExpression with CodegenFallback {
  private val keyGen = new SimHashKeyGen(numChunks, maxHamming)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(keyGen.keysOf(v.asInstanceOf[Long]))
  override protected def withNewChildInternal(c: Expression): SimHashKeysFromHash = copy(child = c)
}

/** Shared signature → combination-key logic for [[SimHashKeys]] /
  * [[SimHashKeysFromHash]]: chunk the 64 bits into numChunks pieces,
  * hash every (numChunks − maxHamming)-subset of chunks to a
  * domain-separated key (pigeonhole: hamming ≤ h ⇒ some subset of
  * chunks is equal, so bucketing on all subsets is lossless). */
private[functions] final class SimHashKeyGen(numChunks: Int, maxHamming: Int)
  extends Serializable {
  require(numChunks > maxHamming,
    "chunk bucketing is lossless only when numChunks > maxHamming")
  require(numChunks <= 16, "more than 16 chunks of a 64-bit signature is pointless")

  // chunk i covers widths(i) bits starting at offsets(i); first
  // (64 % numChunks) chunks take the extra bit
  private val base = 64 / numChunks
  private val widths = Array.tabulate(numChunks)(i => if (i < 64 % numChunks) base + 1 else base)
  private val offsets = widths.scanLeft(0)(_ + _)
  private val combos: Array[Array[Int]] =
    (0 until numChunks).combinations(numChunks - maxHamming).map(_.toArray).toArray

  def keysOf(sh: Long): Array[Long] = {
    val keys = new Array[Long](combos.length)
    var ci = 0
    while (ci < combos.length) {
      var h = TextFunctions.mix64(ci.toLong + 0x9e3779b97f4a7c15L)
      val combo = combos(ci)
      var j = 0
      while (j < combo.length) {
        val i = combo(j)
        val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1L
        h = TextFunctions.mix64(h ^ ((sh >>> offsets(i)) & mask))
        j += 1
      }
      keys(ci) = h
      ci += 1
    }
    keys
  }
}

/** Winnowing: rolling FNV over CODEPOINT k-grams, per-window minimum
  * (rightmost on ties), consecutive duplicates collapsed. Hashing
  * Unicode codepoints (not UTF-16 code units, not UTF-8 bytes) makes
  * the fingerprint encoding-canonical AND exactly mirrorable in SQL:
  * DuckDB's character indexing + unicode() walk the same codepoint
  * sequence for any text, including astral-plane characters where
  * code-unit and codepoint positions diverge. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    if (cps.length < k) return new GenericArrayData(Array.empty[Long])
    val nGrams = cps.length - k + 1
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) {
        h ^= cps(i + j).toLong
        h *= 0x100000001b3L
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var lastIdx = -1
    var win = 0
    val lastWin = math.max(nGrams - w, 0)
    while (win <= lastWin) {
      var minIdx = win
      var j = win
      val end = math.min(win + w, nGrams)
      while (j < end) {
        if (hashes(j) <= hashes(minIdx)) minIdx = j // rightmost min
        j += 1
      }
      if (minIdx != lastIdx) {
        out += hashes(minIdx)
        lastIdx = minIdx
      }
      win += 1
    }
    new GenericArrayData(out.distinct.toArray)
  }
  override protected def withNewChildInternal(c: Expression): WinnowFingerprints = copy(child = c)
}

/** Window hashes for exact substring dedup: split on single spaces
  * (Spark `split(text, " ")` semantics — all empty tokens kept), hash
  * each token with FNV-1a over its UTF-8 bytes, then emit the
  * polynomial hash of every `w`-token window,
  * `wh(i) = Σ_j th(i+j)·B^(w-1-j) mod 2^64`, via the rolling
  * recurrence `wh(i+1) = (wh(i) − th(i)·B^(w-1))·B + th(i+w)` (Long
  * overflow IS the mod-2^64) — O(tokens) per document, not O(tokens·w).
  * Equal windows get equal hashes on every node and across runs;
  * distinct windows collide with probability ~2^-64 (B odd, so
  * token-position mixing is a bijection per step). The DuckDB oracle
  * replays the identical arithmetic (Horner rule in HUGEINT mod 2^64),
  * so the gate is value-exact, not approximate. */
case class DupWindowHashes(child: Expression, w: Int)
  extends UnaryExpression with CodegenFallback {
  require(w >= 1, "window must be >= 1 token")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(DupWindowHashes.hashesOf(
      v.asInstanceOf[UTF8String].toString.split(" ", -1), w))
  override protected def withNewChildInternal(c: Expression): DupWindowHashes = copy(child = c)
}

object DupWindowHashes {
  /** Polynomial base — odd (a unit mod 2^64), so each Horner step is a
    * bijection of the accumulator. Public splitmix64 gamma constant. */
  val B: Long = 0x9e3779b97f4a7c15L

  /** Rolling hash of every `w`-token window (1 per start position):
    * the shared O(tokens) pass behind [[DupWindowHashes]] and
    * [[SelfDupSpans]]. */
  private[functions] def hashesOf(toks: Array[String], w: Int): Array[Long] = {
    val n = toks.length
    if (n < w) return Array.emptyLongArray
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = TextFunctions.fnv64(UTF8String.fromString(toks(i)))
      i += 1
    }
    var bw = 1L // B^(w-1) mod 2^64
    i = 0
    while (i < w - 1) { bw *= B; i += 1 }
    val out = new Array[Long](n - w + 1)
    var acc = 0L
    i = 0
    while (i < w) { acc = acc * B + th(i); i += 1 }
    out(0) = acc
    i = 1
    while (i <= n - w) {
      acc = (acc - th(i - 1) * bw) * B + th(i + w - 1)
      out(i) = acc
      i += 1
    }
    out
  }
}

/** Maximal spans of tokens covered by `w`-token windows REPEATED
  * WITHIN the same document (1-based, struct<s, e>) — the per-doc
  * self-repetition regions (looped boilerplate, stutter artifacts).
  * Window identity is the same rolling hash as [[DupWindowHashes]];
  * island merge follows SubstringDedup's rule (starts merge when the
  * next is ≤ prev + w), so the emitted spans are maximal and
  * DISJOINT. Self-repetition is per-document local, so the whole
  * computation — hash, count, merge — is ONE expression pass with a
  * doc-local hashmap: zero shuffle at any corpus size (vs the
  * corpus-wide groupBy the cross-document variant genuinely needs). */
case class SelfDupSpans(child: Expression, w: Int)
  extends UnaryExpression with CodegenFallback {
  require(w >= 1, "window must be >= 1 token")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("s", LongType, nullable = false),
    StructField("e", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val whs = DupWindowHashes.hashesOf(
      v.asInstanceOf[UTF8String].toString.split(" ", -1), w)
    if (whs.isEmpty) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.HashMap[Long, Int](whs.length * 2)
    whs.foreach(h => counts.merge(h, 1, Integer.sum _))
    val spans = scala.collection.mutable.ArrayBuffer.empty[Any]
    var s = -1L
    var last = -1L
    var i = 0
    while (i < whs.length) {
      if (counts.get(whs(i)) >= 2) {
        val p = i + 1L
        if (s < 0) s = p
        else if (p > last + w) {
          spans += org.apache.spark.sql.catalyst.InternalRow(s, last + w - 1)
          s = p
        }
        last = p
      }
      i += 1
    }
    if (s >= 0)
      spans += org.apache.spark.sql.catalyst.InternalRow(s, last + w - 1)
    new GenericArrayData(spans.toArray)
  }
  override protected def withNewChildInternal(c: Expression): SelfDupSpans =
    copy(child = c)
}

/** Accent removal via Unicode NFD decomposition + combining-mark
  * strip (java.text.Normalizer — pure JDK). Real codegen like
  * [[RepetitionStats]]: normalization runs over the entire corpus in
  * the dedup pre-pass, so it must not break WholeStageCodegen. */
case class StripAccents(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("stripAccents", this, classOf[StripAccents].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $self.compute($c);")
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(u: UTF8String): UTF8String = {
    val s = u.toString
    // fast path: pure ASCII needs no decomposition
    var i = 0
    var ascii = true
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) u
    else UTF8String.fromString(
      StripAccents.Marks.matcher(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD))
        .replaceAll(""))
  }
  override protected def withNewChildInternal(c: Expression): StripAccents = copy(child = c)
}

object StripAccents {
  private val Marks = java.util.regex.Pattern.compile("\\p{M}+")
}

/** fastText-shaped hashed linear text scorer in ONE pass per row:
  * features are word unigrams + adjacent bigrams over the single-space
  * token stream (Spark `split(text, " ")` semantics, empties kept);
  * each feature hashes with FNV-1a over its UTF-8 bytes (bigrams as
  * `"a b"`), lands in bucket `h mod buckets` (unsigned), and
  * contributes that bucket's integer weight. The score is the Σ of
  * weights — a linear model's logit.
  *
  * The weight table is either CALLER-SUPPLIED (`weights`: one fixed-
  * point long per bucket — a trained fastText/logistic model's
  * quantized table; the real model-inference entry point) or, by
  * default, the deterministic hash-derived stub
  * `(bucket mod span) − span/2` (useful for gating the machinery with
  * no model at hand — the hashing trick means collisions behave
  * identically either way). A 2^16-bucket long table is 512 KB; it
  * rides to executors once per task binary via the expression's
  * reference object, the same way a broadcast scalar would.
  *
  * Integer end-to-end ⇒ the DuckDB oracle replays the exact score
  * (fnv1a in HUGEINT mod 2^64); O(tokens) per row, no allocation
  * beyond the token split, real codegen (static call, no
  * CodegenFallback). */
case class LinearTextScore(child: Expression, buckets: Int, span: Int,
                           weights: Option[IndexedSeq[Long]] = None)
  extends UnaryExpression {
  require(buckets > 0 && span > 0, "buckets and span must be positive")
  require(weights.forall(_.length == buckets),
    s"weight table must have exactly $buckets entries")
  override def dataType: DataType = LongType

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("linScore", this, classOf[LinearTextScore].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  // the IndexedSeq param gives the case class STRUCTURAL equality
  // (Array equality is by reference — two plans built with equal
  // tables would never compare equal, defeating canonicalization and
  // subexpression elimination); the hot loop reads a flat Array copy
  @transient private lazy val wtab: Array[Long] = weights.map(_.toArray).orNull

  private def weight(h: Long): Long = {
    val b = java.lang.Long.remainderUnsigned(h, buckets)
    if (wtab != null) wtab(b.toInt) else b % span - span / 2
  }

  def compute(u: UTF8String): Long = {
    val toks = u.toString.split(" ", -1)
    var score = 0L
    var i = 0
    while (i < toks.length) {
      score += weight(TextFunctions.fnv64(UTF8String.fromString(toks(i))))
      if (i + 1 < toks.length)
        score += weight(TextFunctions.fnv64(
          UTF8String.fromString(toks(i) + " " + toks(i + 1))))
      i += 1
    }
    score
  }
  override protected def withNewChildInternal(c: Expression): LinearTextScore =
    copy(child = c)
}

/** The feature-bucket stream of [[LinearTextScore]], reified: for the
  * token stream of `child` (split on single spaces, empties kept, same
  * as the scorer) emit `remainderUnsigned(fnv64(f), buckets)` for each
  * unigram and each adjacent bigram, as array<long>. Exists so that
  * TRAINING-side statistics (per-bucket occurrence counts for DSIR
  * importance weights, document frequencies, coverage audits) are
  * computed over the EXACT feature stream the inference expression
  * will read — one definition of "feature", shared by construction,
  * instead of two hand-kept-in-sync tokenizations. The DuckDB mirror
  * replays fnv1a over UTF-8 bytes in HUGEINT mod 2^64 and `% buckets`
  * (unsigned remainder ≡ HUGEINT remainder on [0, 2^64)). Bucket
  * count order: u₀, b₀₁, u₁, b₁₂, … — callers aggregate, so order is
  * immaterial, but it is deterministic. */
case class FeatureBuckets(child: Expression, buckets: Int)
  extends UnaryExpression with CodegenFallback {
  require(buckets > 0, s"buckets must be positive, got $buckets")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[UTF8String].toString.split(" ", -1)
    val out = new Array[Long](2 * toks.length - 1)
    var i = 0
    var p = 0
    while (i < toks.length) {
      out(p) = java.lang.Long.remainderUnsigned(
        TextFunctions.fnv64(UTF8String.fromString(toks(i))), buckets)
      p += 1
      if (i + 1 < toks.length) {
        out(p) = java.lang.Long.remainderUnsigned(
          TextFunctions.fnv64(
            UTF8String.fromString(toks(i) + " " + toks(i + 1))), buckets)
        p += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): FeatureBuckets =
    copy(child = c)
}

/** 64-bit FNV-1a hashes of the adjacent word bigrams of the token
  * stream (split on single spaces, empties kept): one array<long> per
  * row, position i = fnv64(tok_i + " " + tok_i+1). Fused on purpose:
  * the composed HOF form (`transform(sequence(...), i ->
  * concat(toks[i], ' ', toks[i+1]))`) hits the lambda-inlining trap
  * (SURVEY §4 — the split re-evaluates per element) AND materializes
  * every bigram STRING only to hash or shuffle it later. Hashing at
  * the source keeps the downstream (id, bigram) tables 8 bytes per
  * key — at web scale that's the difference between a count shuffle
  * that spills and one that doesn't. Hash identity stands in for
  * string identity: two DISTINCT bigrams collide with probability
  * ~2⁻⁶⁴ (≈ distinct-pairs/2⁶⁵ corpus-wide), and a collision in a
  * gated run FAILS the gate loudly (counts merge high vs the
  * string-keyed mirror) rather than passing silently. No allocation
  * beyond the token split; hashes bytes of tok_i, ' ', tok_i+1
  * directly — no concatenated string is built. */
case class BigramHashes(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[UTF8String].toString.split(" ", -1)
    val n = toks.length
    if (n < 2) return new GenericArrayData(Array.emptyLongArray)
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      bytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    val out = new Array[Long](n - 1)
    i = 0
    while (i < n - 1) {
      var h = 0xcbf29ce484222325L
      val a = bytes(i)
      var j = 0
      while (j < a.length) { h ^= (a(j) & 0xffL); h *= 0x100000001b3L; j += 1 }
      h ^= ' '.toLong; h *= 0x100000001b3L
      val b = bytes(i + 1)
      j = 0
      while (j < b.length) { h ^= (b(j) & 0xffL); h *= 0x100000001b3L; j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): BigramHashes =
    copy(child = c)
}

/** Fused per-transition key pair for bigram-LM scoring: for each
  * adjacent word pair (w1, w2) emit struct<bg: fnv64("w1 w2"),
  * ctx: fnv64(w1)>. The ctx hash is fnv's running state after w1's
  * bytes, so both keys come out of ONE byte pass per transition —
  * and `bg` is bit-identical to [[BigramHashes]]. Splits with the
  * same `split(text, " ", -1)` convention (empty tokens kept) so the
  * string-keyed DuckDB mirror sees the same transition multiset. */
case class TransitionHashes(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bg", LongType, nullable = false),
    StructField("ctx", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[UTF8String].toString.split(" ", -1)
    val n = toks.length
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val bytes = new Array[Array[Byte]](n)
    val wordHash = new Array[Long](n)
    var i = 0
    while (i < n) {
      bytes(i) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var h = 0xcbf29ce484222325L
      val a = bytes(i)
      var j = 0
      while (j < a.length) { h ^= (a(j) & 0xffL); h *= 0x100000001b3L; j += 1 }
      wordHash(i) = h
      i += 1
    }
    val out = new Array[Any](n - 1)
    i = 0
    while (i < n - 1) {
      var h = wordHash(i)
      h ^= ' '.toLong; h *= 0x100000001b3L
      val b = bytes(i + 1)
      var j = 0
      while (j < b.length) { h ^= (b(j) & 0xffL); h *= 0x100000001b3L; j += 1 }
      out(i) = org.apache.spark.sql.catalyst.InternalRow(h, wordHash(i))
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): TransitionHashes =
    copy(child = c)
}

/** Banded (Ukkonen) Levenshtein over UTF-8 BYTES with an edit budget:
  * returns the exact distance when ≤ `maxEdits`, -1 beyond. Byte-level
  * on purpose, twice over: (a) the DP band costs O(len·maxEdits)
  * instead of O(len²) — the difference between a verify step and a
  * blow-up when candidate texts are long; (b) DuckDB's `levenshtein`
  * is byte-based (a 2-byte codepoint substitution counts 2), so the
  * oracle replays this distance EXACTLY, where Spark's codepoint-based
  * builtin would diverge on any non-ASCII pair. For ASCII text the two
  * conventions coincide. Within the band the DP is the full Wagner-
  * Fischer recurrence (cells outside the band pinned to maxEdits+1, a
  * sound upper-bound cap since no path through them can win); the
  * early row-min exit is the standard Ukkonen argument (row minima are
  * non-decreasing). */
case class EditDistanceWithin(left: Expression, right: Expression,
                              maxEdits: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
  with CodegenFallback {
  // < MaxValue: banded() computes inf = k + 1, which must not overflow
  require(maxEdits >= 0 && maxEdits < Int.MaxValue,
    s"maxEdits must be in [0, ${Int.MaxValue}), got $maxEdits")
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    EditDistanceWithin.banded(
      a.asInstanceOf[UTF8String].getBytes,
      b.asInstanceOf[UTF8String].getBytes, maxEdits)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): EditDistanceWithin =
    copy(left = l, right = r)
}

object EditDistanceWithin {
  /** Exact Levenshtein over byte arrays if ≤ k0, else -1. */
  def banded(s: Array[Byte], t: Array[Byte], k0: Int): Int = {
    val n = s.length
    val m = t.length
    if (math.abs(n - m) > k0) return -1
    // distance ≤ max(n, m) always, so capping the budget there keeps
    // the semantics AND keeps inf = k + 1 overflow-free for any k0
    val k = math.min(k0, math.max(n, m))
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      // reset only the band (± the cells the next row reads): O(k)
      java.util.Arrays.fill(cur, math.max(0, lo - 2),
        math.min(m, hi + 2) + 1, inf)
      if (i <= k) cur(0) = i
      // i > k ⇒ column 0 is outside the band (cost i > k): seed at inf
      var rowMin = if (i <= k) i else inf
      j = lo
      while (j <= hi) {
        var v = prev(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1)
        val del = cur(j - 1) + 1
        if (del < v) v = del
        val ins = prev(j) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= inf) return -1
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(m) <= k) prev(m) else -1
  }
}

/** Gopher-style repetition statistics (Rae et al. 2021, appendix A1)
  * in ONE pass per row — no per-document shuffle. Word n-grams over
  * the single-space token stream:
  *  - top_gram / top_gram_frac: the most frequent `topN`-gram
  *    (ties: smallest gram in codepoint order — UTF-8 byte order,
  *    matching the DuckDB oracle's string collation) and the fraction
  *    of characters its occurrences cover, counted WITH overlap
  *    (count × gram chars / text chars) as Gopher does;
  *  - dup_gram_frac: fraction of characters covered by `dupN`-grams
  *    occurring ≥ 2 times (sum of count × gram chars / text chars).
  * Short texts (< n tokens) yield ('', 0.0, 0.0); char counts are
  * codepoints (Spark length() / DuckDB length() semantics). Each
  * fraction is a single int-derived double division — bit-identical
  * across engines. */
case class RepetitionStats(child: Expression, topN: Int, dupN: Int)
  extends UnaryExpression {
  require(topN >= 1 && dupN >= 1, "n-gram sizes must be >= 1")
  override def dataType: DataType = StructType(Seq(
    StructField("top_gram", StringType, nullable = false),
    StructField("top_gram_frac", DoubleType, nullable = false),
    StructField("dup_gram_frac", DoubleType, nullable = false)))

  /** Real codegen (not CodegenFallback): this is the hottest custom
    * expression in the quality-filter path — the one run over ALL the
    * data — so it must not break the surrounding WholeStageCodegen
    * stage or pay per-row InternalRow boxing. The generated code calls
    * [[compute]] directly on the unboxed UTF8String; the n-gram
    * hashmap passes themselves are already tight JVM loops. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("repStats", this, classOf[RepetitionStats].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $self.compute($c);")
  }

  // codepoint-order comparison = UTF-8 byte order (UTF-16 compareTo
  // misorders astral planes vs U+E000..U+FFFF)
  private def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return java.lang.Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    java.lang.Integer.compare(a.length - i, b.length - j)
  }

  private def gramCounts(toks: Array[String], n: Int): java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]()
    val last = toks.length - n
    var i = 0
    val sb = new java.lang.StringBuilder(64)
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      m.merge(sb.toString, 1, (a, b) => a + b)
      i += 1
    }
    m
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  /** Shared by interpreted eval and generated code (monomorphic,
    * UTF8String in — no row boxing). */
  def compute(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val text = u.toString
    val textChars = text.codePointCount(0, text.length)
    val toks = text.split(" ", -1)

    var topGram = ""
    var topFrac = 0.0
    if (toks.length >= topN && textChars > 0) {
      val m = gramCounts(toks, topN)
      var bestCnt = 0
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > bestCnt ||
            (e.getValue == bestCnt && cpCompare(e.getKey, topGram) < 0)) {
          bestCnt = e.getValue; topGram = e.getKey
        }
      }
      topFrac = (bestCnt.toLong * topGram.codePointCount(0, topGram.length)).toDouble / textChars
    }

    var dupFrac = 0.0
    if (toks.length >= dupN && textChars > 0) {
      val m = gramCounts(toks, dupN)
      var covered = 0L
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue >= 2)
          covered += e.getValue.toLong * e.getKey.codePointCount(0, e.getKey.length)
      }
      dupFrac = covered.toDouble / textChars
    }

    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(topGram), topFrac, dupFrac)
  }
  override protected def withNewChildInternal(c: Expression): RepetitionStats = copy(child = c)
}

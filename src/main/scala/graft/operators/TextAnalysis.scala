package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text statistics for corpus curation: token counts, quality scoring,
  * stopword-ratio language ID, winnowing fingerprints. All pure
  * column expressions (codegen'd, no UDFs) except the fingerprint
  * expression, and every ratio is a single int/int double division —
  * deterministic and oracle-matchable bit-for-bit.
  */
object TextAnalysis {

  /** Function-word lists per language (standard high-frequency words —
    * public knowledge). The SQL oracle is GENERATED from this same map
    * (PipelineQueries.langIdSql/textQualitySql), so list changes stay
    * oracle-consistent automatically. Overlapping words (e.g. "la" in
    * es+fr, "in" in en+de) are fine: the argmax over per-language
    * ratios decides, ties break alphabetically in both engines. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that",
      "was", "for", "on", "are", "as", "with", "his", "they", "at", "be",
      "this", "have", "from", "or", "had", "by", "not", "but", "what", "were"),
    "es" -> Seq("el", "la", "de", "los", "las", "y", "en", "que", "un", "una",
      "es", "no", "se", "del", "por", "con", "para", "su", "al", "lo",
      "como", "mas", "pero", "sus", "le", "ya", "o", "este", "si", "porque"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "den", "von", "sie",
      "mit", "dem", "nicht", "ein", "eine", "als", "auch", "es", "an", "auf",
      "fur", "man", "aber", "aus", "durch", "wenn", "nur", "war", "noch",
      "werden", "bei"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "un", "des", "du", "de",
      "en", "que", "qui", "dans", "pour", "pas", "sur", "ne", "se", "ce",
      "il", "elle", "au", "aux", "par", "plus", "mais", "ou", "avec", "son"))

  private def words(text: Column): Column = split(text, " ")

  private def nWords(text: Column): Column = size(words(text))

  private def hits(text: Column, ws: Seq[String]): Column =
    size(filter(words(text), w => w.isin(ws: _*)))

  /** Per-language stopword ratios + argmax prediction. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val n = greatest(nWords(t), lit(1)).cast("double")
    val scored = df.select(
      col(idCol) +:
      stopwords.keys.toSeq.sorted.map(l => (hits(t, stopwords(l)).cast("double") / n).as(s"score_$l")): _*)
    val langs = stopwords.keys.toSeq.sorted // de, en, es, fr
    val best = greatest(langs.map(l => col(s"score_$l")): _*)
    // first language (alphabetical) reaching the max wins — same CASE
    // order as the SQL oracle
    val pred = langs.foldRight(lit("und"): Column) { (l, acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Quality metrics: sizes + punctuation/digit/stopword ratios and a
    * simple composite score in [0,1]. */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val chars = length(t).cast("double")
    val charsSafe = greatest(chars, lit(1.0))
    val n = nWords(t).cast("double")
    val nSafe = greatest(n, lit(1.0))
    val punct = length(regexp_replace(t, "[A-Za-z0-9 ]", "")).cast("double")
    val digits = length(regexp_replace(t, "[^0-9]", "")).cast("double")
    val stop = hits(t, stopwords("en")).cast("double")
    df.select(
      col(idCol),
      chars.cast("long").as("n_chars"),
      n.cast("long").as("n_words"),
      (chars / nSafe).as("avg_word_len"),
      (punct / charsSafe).as("punct_ratio"),
      (digits / charsSafe).as("digit_ratio"),
      (stop / nSafe).as("stopword_ratio"))
  }

  /** Whitespace + BPE-ish regex token counts. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      TextFunctions.tokenCount(col(textCol)).as("ws_tokens"),
      TextFunctions.regexTokenCount(col(textCol)).as("re_tokens"))

  /** Gopher-style repetition metrics (Rae et al. 2021): the most
    * frequent word `topN`-gram with the character fraction its
    * occurrences cover, and the character fraction covered by
    * duplicated `dupN`-grams. ONE pass per row inside a single
    * expression — no per-document shuffle, so at 100 TB this is a pure
    * map over the corpus scan. */
  def repetition(df: DataFrame, idCol: String, textCol: String,
                 topN: Int = 2, dupN: Int = 3): DataFrame =
    df.select(col(idCol),
        TextFunctions.repetitionStats(col(textCol), topN, dupN).as("r"))
      .select(col(idCol), col("r.top_gram").as("top_gram"),
        col("r.top_gram_frac").as("top_gram_frac"),
        col("r.dup_gram_frac").as("dup_gram_frac"))

  /** Composed training-data quality filter — the standard cleaning
    * pass (token-count bounds, English stopword floor, repetition
    * ceilings) as ONE scan: every predicate is a column expression
    * over the same projection, so the whole filter is a single map
    * stage with no shuffle and full pushdown below it. */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 10, maxWords: Int = 100000,
                    minStopRatio: Double = 0.01,
                    maxTopGramFrac: Double = 0.20,
                    maxDupGramFrac: Double = 0.40): DataFrame = {
    val t = col(textCol)
    val n = nWords(t).cast("double")
    val nSafe = greatest(n, lit(1.0))
    val stopRatio = hits(t, stopwords("en")).cast("double") / nSafe
    df.select(col(idCol),
        n.cast("long").as("n_words"),
        stopRatio.as("stopword_ratio"),
        TextFunctions.repetitionStats(t).as("r"))
      .select(col(idCol), col("n_words"), col("stopword_ratio"),
        col("r.top_gram_frac").as("top_gram_frac"),
        col("r.dup_gram_frac").as("dup_gram_frac"))
      .filter(col("n_words").between(minWords, maxWords) &&
        col("stopword_ratio") >= minStopRatio &&
        col("top_gram_frac") <= maxTopGramFrac &&
        col("dup_gram_frac") <= maxDupGramFrac)
  }

  /** Winnowing fingerprints, exploded to (id, fingerprint) for
    * index-style joins (shared fingerprint ⇒ shared k-gram). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4): DataFrame =
    df.select(col(idCol),
        explode(TextFunctions.winnowFingerprints(col(textCol), k, w)).as("fp"))

  /** PII redaction: emails, international-format phone numbers, and
    * URLs replaced with typed placeholders. Patterns stay in the
    * RE2-compatible subset (no backrefs/lookahead) so Spark and the
    * DuckDB oracle agree byte-for-byte. */
  def redact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), redactText(col(textCol)).as("text"))

  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+[0-9]{1,3}[- ]?[0-9]{3}[- ]?[0-9]{3,4}[- ]?[0-9]{3,4}"
  val urlRe = "https?://[^ ]+"

  def redactText(t: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(t, emailRe, "<EMAIL>"),
        urlRe, "<URL>"),
      phoneRe, "<PHONE>")

  /** Benchmark decontamination: flag corpus documents sharing ≥
    * `minMatches` winnowing fingerprints with any probe (benchmark)
    * document — the n-gram-overlap contamination check run before
    * training. Scale shape: corpus fingerprints are an exploded
    * index; probes are tiny and broadcast; the join output carries
    * only (doc, probe, fp) hits, aggregated to match counts. No
    * text-to-text comparison ever happens. */
  def contamination(corpus: DataFrame, corpusId: String, corpusText: String,
                    probes: DataFrame, probeId: String, probeText: String,
                    k: Int = 8, w: Int = 4, minMatches: Int = 2): DataFrame = {
    val corpusFp = fingerprints(corpus, corpusId, corpusText, k, w)
      .select(col(corpusId).as("doc_id"), col("fp"))
    val probeFp = fingerprints(probes, probeId, probeText, k, w)
      .select(col(probeId).as("probe_id"), col("fp")).distinct()
    corpusFp.join(broadcast(probeFp), Seq("fp"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minMatches)
  }

  /** Corpus vocabulary (the tokenizer-training precursor): token →
    * total occurrences + document frequency, min-count filtered, top-k
    * by (count desc, token asc — the deterministic tiebreak). ONE
    * shuffle: explode is map-side, the token groupBy partially
    * aggregates before shuffling, and the top-k plans as
    * TakeOrderedAndProject (never a global sort). Empty tokens (from
    * consecutive separators / empty docs) are dropped. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 minCount: Long = 1L, topK: Int = 1000): DataFrame =
    df.select(col(idCol), explode(words(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("n"), count_distinct(col(idCol)).as("n_docs"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("word").asc)
      .limit(topK)

  /** Per-document top-k distinctive terms by TF-IDF — the classic
    * keyword/topic signal over a corpus (term frequent in THIS doc,
    * rare across docs). Scoring uses the rational-idf variant
    * `score = tf × 10⁹ div df` (idf = 1/df, fixed-point): integer
    * arithmetic end-to-end, so ranking is deterministic and the SQL
    * oracle is bit-exact — log-idf (`tf·ln(N/df)`) re-weights tf
    * against idf but `ln` is not correctly rounded on either engine,
    * which would make a cross-engine hash gate dishonest. N (the doc
    * count) scales all scores equally and cancels from per-doc ranks.
    *
    * Scale shape: explode is map-side; the (doc, term) tf aggregate is
    * ONE corpus shuffle, and the tf table is MATERIALIZED before its
    * two consumers (the df aggregate and the join) — otherwise each
    * re-derives it from a full corpus re-scan + re-shuffle
    * (spec-pinned: exactly one corpus FileScan in the executed plan).
    * A window `count() over (partition by term)` would avoid the
    * second pass entirely but buffers each term's partition on one
    * task — a hot stopword at corpus scale is a one-task skew trap, so
    * df stays a (partial-aggregating, skew-immune) groupBy. df is
    * vocabulary-sized, so the tf⋈df join is AQE-broadcast at moderate
    * vocabularies and a token-keyed shuffle beyond; rank ≤ k plans as
    * WindowGroupLimit (bounded per-task heaps). */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 5): DataFrame = {
    require(k >= 1, s"bad k $k")
    // per-doc term counts IN-ROW (TermCounts — no corpus-wide
    // (doc, term) shuffle; see bm25DocTc for the shape rationale),
    // materialized once for the df aggregate + scoring join consumers
    val tf = Materialize(
      df.select(col(idCol),
          explode(graft.functions.TextFunctions.termCounts(col(textCol)))
            .as("p"))
        .select(col(idCol), col("p.term").as("term"), col("p.tf").as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .withColumn("score", expr("tf * CAST(1000000000 AS BIGINT) div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Vocabulary-bounded term co-occurrence with an exact lift score —
    * the corpus-analysis signal behind collocation mining and
    * topic-drift checks. For the top-`vocabSize` terms by document
    * frequency, counts documents containing both terms of each pair
    * and scores lift = P(ab) / (P(a)·P(b)) = (n_ab/n_a)·(N/n_b),
    * computed as two correctly-rounded double divisions and one
    * multiply — identical operand bits on any engine, and no
    * BIGINT-product overflow at any corpus size (a direct
    * n_ab·N·scale product would overflow 2⁶³ past ~10⁹ docs). log of
    * the lift (true PMI) is monotone, so ranking by lift ranks by PMI
    * without either engine's un-correctly-rounded `ln`.
    *
    * Scale shape: pass 1 aggregates document frequencies (corpus
    * explode → vocab-sized agg, map-side combined) WITH the corpus
    * doc count riding the same shuffle as a marker-term row (one
    * `""` row per document — `""` cannot be a real term — whose
    * group count is N), and collects marker + top-V in ONE bounded
    * TakeOrdered action (V+1 rows); pass 2 RE-SCANS the corpus
    * restricted to the collected vocabulary (broadcast local
    * relation) — re-scanning beats materializing a corpus-sized
    * incidence list — generating each doc's i<j vocab-member pairs
    * fully IN-ROW (the collected top-V table rides inside the
    * VocabPairs expression): the pair space stays bounded by V² per
    * document, never |doc|², with no vocab join, no per-doc
    * aggregation and no self-join. Pair aggregation is the ONLY
    * shuffle — map-side-combined over ≤V² keys. Two corpus scans
    * total; no separate count() action. */
  def cooccurrence(df: DataFrame, idCol: String, textCol: String,
                   vocabSize: Int = 50, minPairDocs: Long = 5L,
                   topK: Int = 100): DataFrame = {
    require(vocabSize >= 2, s"bad vocabSize $vocabSize")
    require(topK >= 1, s"bad topK $topK")
    // per-doc DISTINCT terms in-row (TermCounts — no (doc, term)
    // distinct shuffle; the counts map holds each term once per doc)
    def docTerms = df
      .select(col(idCol),
        explode(graft.functions.TextFunctions.termCounts(col(textCol)))
          .as("p"))
      .select(col(idCol), col("p.term").as("term"))
    // one action: (marker row carrying N) + top-V vocabulary terms
    val head = docTerms
      .union(df.select(col(idCol), lit("").as("term")))
      .groupBy("term").agg(count(lit(1)).as("n_docs"))
      .orderBy((col("term") === "").desc, col("n_docs").desc, col("term").asc)
      .limit(vocabSize + 1)
      .collect()
    val n: Long = head.find(_.getString(0) == "").map(_.getLong(1)).getOrElse(0L)
    val vocabLocal = head.filter(_.getString(0) != "")
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // pass 2, fully IN-ROW until the pair aggregation: the collected
    // top-V table rides inside the VocabPairs expression, which keeps
    // each doc's vocab members, binary-sorts them (⇒ t1 < t2 by
    // string order, as the previous join filter compared) and emits
    // the i<j pairs — identical pair set and counts to the previous
    // doc-keyed self-join of the distinct incidence list, which paid
    // two aggregate exchanges plus a corpus-sized sort-merge join for
    // the same ≤V²-per-doc pair space. The ONLY shuffle left is the
    // map-side-combined ≤V²-key pair aggregation.
    df.select(explode(graft.functions.TextFunctions.vocabPairs(
        graft.functions.TextFunctions.termCounts(col(textCol)),
        vocabLocal)).as("p"))
      .select(col("p.t1").as("t1"), col("p.t2").as("t2"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      .groupBy("t1", "t2", "n_a", "n_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairDocs)
      .withColumn("lift",
        (col("n_ab").cast("double") / col("n_a")) *
          (lit(n).cast("double") / col("n_b")))
      .orderBy(col("lift").desc, col("t1"), col("t2")).limit(topK)
      .select("t1", "t2", "n_ab", "n_a", "n_b", "lift")
  }

  /** Overlapping token-window chunks for training-sequence prep:
    * window `window` tokens, stride `stride` (< window ⇒ overlap of
    * window − stride). Chunk grid = ceil((n − window)/stride) + 1, so
    * every token is covered and a short doc yields exactly one chunk.
    * The token array materializes ONCE per doc as Generate (explode)
    * INPUT and is sliced per chunk downstream — keeping the split out
    * of the generator expression avoids re-splitting per chunk, and
    * chunking is pure per-row projection: NO shuffle at any scale. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  window: Int, stride: Int): DataFrame = {
    require(stride >= 1 && window >= stride,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    val n = size(col("__words"))
    val nChunks = (lit(1) +
      floor(greatest(n - window + stride - 1, lit(0)) / stride)).cast("int")
    df.select(col(idCol), words(col(textCol)).as("__words"))
      .select(col(idCol), col("__words"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(
        col(idCol),
        col("chunk_id"),
        array_join(slice(col("__words"), col("chunk_id") * stride + 1, lit(window)), " ")
          .as("chunk_text"),
        least(lit(window), n - col("chunk_id") * stride).cast("int").as("chunk_tokens"))
  }

  /** CCNet-style normalization for dedup hashing (Wenzek et al. 2020
    * §3.1: lowercase, digits → 0, strip accents — so trivial variants
    * of the same document hash identically). Pure single-scan
    * projection, zero shuffle, all codegen'd; run it BEFORE
    * exact/minhash dedup and hash `text_norm` instead of `text`.
    * Order matters and is mirrored verbatim in SQL: lowercase →
    * digit-fold → accent-strip → whitespace collapse + trim. */
  def normalizeForDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      trim(regexp_replace(
        TextFunctions.stripAccents(
          regexp_replace(lower(col(textCol)), "[0-9]", "0")),
        "\\s+", " ")).as("text_norm"))

  /** CCNet-style line-level dedup / boilerplate removal (Wenzek et al.
    * 2020 §3.1 deduplicate paragraphs; every crawl pipeline's "drop
    * the cookie banner" pass): a line whose CORPUS-WIDE occurrence
    * count exceeds `maxOccurrences` is removed from every document it
    * appears in; surviving lines reassemble in original order.
    * Returns one row per input document:
    * `(<idCol>, text_clean, n_kept, n_dropped)` — fully-boilerplate
    * docs come back with `text_clean = ''`, never vanish.
    *
    * Scale shape: shuffle 1 is the line-frequency count (map-side
    * partial agg — distinct lines per partition cross the wire, not
    * occurrences); the hot-line set (count > k) is tiny by nature
    * (it IS the boilerplate), so the anti-join broadcasts under AQE
    * instead of re-shuffling the corpus on line text; shuffle 2
    * reassembles on the document id. No step is quadratic and no
    * per-line state outlives its aggregation. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                delim: String = "\n", maxOccurrences: Long = 1L): DataFrame = {
    require(maxOccurrences >= 1, s"maxOccurrences must be >= 1")
    val d = java.util.regex.Pattern.quote(delim)
    val base = docs.select(col(idCol).as("__id"), col(textCol).as("__text"),
      size(split(col(textCol), d)).cast("long").as("__total"))
    val lines = base.select(col("__id"),
      posexplode(split(col("__text"), d)).as(Seq("__pos", "__line")))
    val hot = lines.groupBy("__line").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > maxOccurrences)
      .select("__line")
    val kept = lines.join(hot, Seq("__line"), "left_anti")
    val agg = kept.groupBy("__id").agg(
      concat_ws(delim, transform(
        array_sort(collect_list(struct(col("__pos"), col("__line")))),
        s => s("__line"))).as("text_clean"),
      count(lit(1)).as("n_kept"))
    base.join(agg, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  // ---- inverted index ----

  /** Inverted-index build: term → PAGED posting lists of doc ids.
    * The search/retrieval-side artifact of a corpus (and the dual of
    * `vocabulary`): one output row per (term, page) with the page's
    * sorted postings joined as a comma string, plus the term's total
    * document frequency. `minDf` drops hapax terms; `pageSize` bounds
    * every output row.
    *
    * Scale shape: distinct (doc, term) pairs are map-side
    * (`array_distinct` before explode); df is a partial-aggregating
    * groupBy (skew-immune — a hot stopword never buffers on one
    * task); the df cut joins back AQE-broadcast (vocab-sized table);
    * global posting order comes from a streaming `row_number` window
    * (sort-based, spills; it never materializes a term's postings as
    * one object), and only then does a (term, page) groupBy collect —
    * every collected array is ≤ pageSize by construction, so NO row
    * is unbounded no matter how hot the term. A naive
    * `collect_list(doc) GROUP BY term` would OOM on exactly the
    * terms an index cares about. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 2L, pageSize: Int = 1024): DataFrame = {
    require(pageSize >= 1, "pageSize must be >= 1")
    import org.apache.spark.sql.expressions.Window
    // Materialized: the (doc, term) table feeds BOTH the df aggregate
    // and the join side — unmaterialized, each re-tokenizes the whole
    // corpus (same convention as tfidf's tf table)
    val postings = Materialize(df
      .select(col(idCol).cast("long").as("__doc"),
        explode(array_distinct(words(lower(col(textCol))))).as("term"))
      .filter(col("term") =!= ""))
    val dfs = postings.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val w = Window.partitionBy("term").orderBy("__doc")
    postings.join(dfs, "term")
      .withColumn("__rn", row_number().over(w))
      .withColumn("page", ((col("__rn") - 1) / pageSize).cast("long"))
      .groupBy(col("term"), col("page"), col("df"))
      .agg(count(lit(1)).as("n"),
        array_join(transform(sort_array(collect_list(col("__doc"))),
          x => x.cast("string")), ",").as("postings"))
  }

  // ---- hashed linear quality classifier ----

  /** fastText-shaped quality-classifier INFERENCE at corpus scale:
    * per-doc logit from hashed unigram+bigram features
    * ([[graft.functions.TextFunctions.linearTextScore]] — one-pass
    * codegen'd Expression, zero shuffle), `keep = score >= threshold`.
    * Pass `weights` (bucket → fixed-point long, e.g. a trained
    * fastText/logistic table quantized to integers) to run a REAL
    * model; with no table the deterministic hash-derived stub scores
    * instead. Either way the MACHINERY — tokenize, hash, bucket,
    * weigh, sum, threshold — is the same scale path and is
    * value-exactly mirrored by the DuckDB oracle. */
  def classifierScore(df: DataFrame, idCol: String, textCol: String,
                      buckets: Int = 1 << 16, span: Int = 61,
                      threshold: Long = 0L,
                      weights: Option[Array[Long]] = None): DataFrame = {
    val score =
      TextFunctions.linearTextScore(lower(col(textCol)), buckets, span, weights)
    df.select(col(idCol),
      score.as("score"),
      (size(split(col(textCol), " ", -1)) * 2 - 1).cast("long").as("n_features"),
      (score >= threshold).as("keep"))
  }

  // ---- HTML text extraction ----

  /** Tag-strip passes in order: script/style bodies first (they may
    * contain bare `<`), then comments, then any remaining tag. All in
    * the RE2 ∩ Java dialect (inline (?is) flags + lazy .*? are common
    * to both; no lookaround). */
  val htmlStripPasses: Seq[(String, String)] = Seq(
    ("(?is)<script[^>]*>.*?</script>", " "),
    ("(?is)<style[^>]*>.*?</style>", " "),
    ("(?s)<!--.*?-->", " "),
    ("<[^>]*>", " "))

  /** Entity decodes, LITERAL replaces in order — `&amp;` last, so an
    * escaped entity (`&amp;lt;`) decodes to the literal text `&lt;`
    * (HTML semantics), not to `<`. */
  val htmlEntities: Seq[(String, String)] = Seq(
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'"),
    ("&nbsp;", " "), ("&amp;", "&"))

  /** HTML → text extraction (the crawl-ingest "strip the markup"
    * pass): drop script/style/comments, strip tags, decode the common
    * entities, collapse whitespace. Returns the input plus
    * `<outCol>` (extracted text) and `n_tags` (tags stripped, an
    * audit/quality signal — markup-heavy pages filter on it).
    *
    * Scale shape: pure per-row projection over codegen'd
    * regexp_replace/replace — zero shuffle; at 100 TB it pipelines
    * inside whole-stage codegen behind the scan, same as [[Pii]]. */
  /** BM25 top-k retrieval — the lexical ranking function behind
    * every search/RAG retrieval stage (Robertson–Spärck Jones;
    * public formula): per matched term,
    * `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) × idf`, summed per doc,
    * top k docs. Two documented deviations keep the cross-engine
    * hash gate honest: idf is the same RATIONAL fixed-point
    * `10⁹ div df` as [[tfidfTopTerms]] (no un-correctly-rounded
    * `ln`), and `dl/avgdl` is spelled `dl·N/total_len` (both
    * operand conversions exact, one IEEE multiply + divide — the
    * same bits on any engine, no intermediate avgdl rounding).
    * Ranking quality is preserved: idf stays monotone in df and the
    * tf saturation curve is untouched.
    *
    * Scale shape: the (doc, term, tf) table is Materialized ONCE
    * (the tokenize pass) and doc lengths once more (two consumers
    * each); the query filter `term IN (…)` prunes the postings
    * BEFORE any join, so everything downstream is
    * matched-postings-sized, not corpus-sized; per-term df and the
    * 1-row corpus stats are broadcast; the per-doc score sum runs
    * through DECIMAL(38,6) (order-independent — a double sum would
    * hash differently per partitioning); top-k is one bounded
    * TakeOrdered, ties broken on doc id. */
  /** The ONE BM25 corpus pass shared by the inline operators and the
    * index BUILD: per-doc term counts computed IN-ROW
    * ([[graft.functions.TermCounts]] — a doc's terms are already
    * co-located on its row, so the (doc, term) count needs no
    * shuffle) and Materialized once for the multiple consumers.
    * Replaces the previous explode → groupBy(doc, term) corpus
    * shuffle (and the second doc-keyed shuffle that re-aggregated
    * `dl` from it): every BM25 path now runs ZERO corpus-sized
    * exchanges — the only remaining shuffles are over matched
    * postings / vocab-sized tables. (doc, term, tf) rows and values
    * are bit-identical to the aggregated form. */
  private def bm25DocTc(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Materialize(df.select(col(idCol).cast("long").as("__doc"),
      graft.functions.TextFunctions.termCounts(col(textCol)).as("__tc")))

  /** (__doc, term, tf) from the materialized per-doc counts. */
  private def bm25TfFromTc(docTc: DataFrame): DataFrame =
    docTc.select(col("__doc"), explode(col("__tc")).as("p"))
      .select(col("__doc"), col("p.term").as("term"), col("p.tf").as("tf"))

  /** (__doc, dl) from the materialized per-doc counts — docs with no
    * non-empty term are EXCLUDED, exactly as the aggregated form
    * (they contributed no tf rows, so no dl row and no n_docs
    * count). */
  private def bm25DlFromTc(docTc: DataFrame): DataFrame =
    docTc.filter(size(col("__tc")) > 0)
      .select(col("__doc"),
        expr("aggregate(__tc, CAST(0 AS BIGINT), (a, x) -> a + x.tf)").as("dl"))

  /** Per-term BM25 contribution (classic saturation curve × the
    * rational fixed-point idf) — ONE definition for every path. */
  private def bm25Contrib(k1: Double, b: Double): Column =
    (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) * (lit(1.0 - b) +
        lit(b) * (col("dl").cast("double") * col("n_docs") / col("total_len")))) *
      expr("CAST(1000000000 AS BIGINT) div df").cast("double")

  /** maxDf hot-term guard shared by all paths: a stopword-grade term
    * matches most of the corpus yet contributes ≈0 idf — at web scale
    * its postings dominate the scoring join for nothing. The cut
    * applies BEFORE the scoring joins (semi-join on the surviving term
    * set), so guarded terms never fan out. Default = no cut (exact
    * classic BM25). */
  private def bm25MaxDfCut(qtfAll: DataFrame, maxDf: Long): (DataFrame, DataFrame) = {
    val qdf0 = qtfAll.groupBy(col("term")).agg(count(lit(1)).as("df"))
    if (maxDf == Long.MaxValue) (qtfAll, qdf0)
    else {
      val cut = qdf0.filter(col("df") <= maxDf)
      (qtfAll.join(broadcast(cut.select("term")), Seq("term"), "left_semi"),
        cut)
    }
  }

  /** Single-query scoring TAIL over corpus state `(tf, dl, stats)` —
    * shared verbatim by [[bm25TopK]] (state derived inline) and
    * [[scoreWithBm25State]] (state read from the persisted index), so
    * indexed ≡ inline scores bit-for-bit by construction. */
  private def bm25ScoreSingle(tf: DataFrame, dl: DataFrame, stats: DataFrame,
                              queryTerms: Seq[String], k: Int,
                              k1: Double, b: Double, maxDf: Long): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    require(k >= 1, s"bad k $k")
    require(maxDf >= 1, s"bad maxDf $maxDf")
    import graft.queries.Exact
    val qtfAll = tf.filter(col("term").isin(queryTerms: _*))
    val (qtf, qdf) = bm25MaxDfCut(qtfAll, maxDf)
    val scored = qtf
      .join(broadcast(qdf), "term")
      .join(dl, "__doc")
      .crossJoin(broadcast(stats))
      .withColumn("__c", bm25Contrib(k1, b))
      .groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_terms"), Exact.dsum(col("__c")).as("score"))
      .orderBy(col("score").desc, col("__doc").asc)
      .limit(k)
    // rank over the k collected rows — bounded single-partition window
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("__doc").asc)
    scored.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("__doc").as("doc_id"),
        col("n_terms"), col("score"))
  }

  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               maxDf: Long = Long.MaxValue): DataFrame = {
    val docTc = bm25DocTc(df, idCol, textCol)
    val (tf, dl) = (bm25TfFromTc(docTc), bm25DlFromTc(docTc))
    val stats = dl.agg(sum(col("dl")).as("total_len"),
      count(lit(1)).as("n_docs"))
    bm25ScoreSingle(tf, dl, stats, queryTerms, k, k1, b, maxDf)
  }

  /** Multi-query BM25 top-k — [[bm25TopK]] for a TABLE of queries
    * (`queryIdCol`, `termCol`), the retrieval-stage shape: a RAG/eval
    * batch serves thousands of queries off ONE corpus read, where
    * looping the single-query operator would re-tokenize and re-scan
    * the corpus per query. Scoring is identical per query (same
    * saturation curve, rational fixed-point idf, DECIMAL sum), with
    * `df` counted over the corpus per term — so for any one query the
    * result rows equal [[bm25TopK]]'s (spec-pinned).
    *
    * Scale shape: tf and dl Materialize ONCE (the only corpus-sized
    * passes); the postings prune to the UNION of all query terms via
    * one broadcast semi-join BEFORE any scoring join, so everything
    * downstream is matched-postings × queries-per-term sized; per-term
    * df and the 1-row corpus stats broadcast; the query fan-out join
    * is against the (tiny, broadcast) query table; the per-query
    * top-k is `rank ≤ k` over a (query, doc) window, which plans as
    * WindowGroupLimit — bounded per-task heaps, never a per-query
    * sort of the corpus. Duplicate (query, term) rows are collapsed
    * (a term contributes once per query, as in [[bm25TopK]]). */
  def bm25TopKMulti(df: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, queryIdCol: String, termCol: String,
                    k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                    maxDf: Long = Long.MaxValue): DataFrame = {
    val docTc = bm25DocTc(df, idCol, textCol)
    val (tf, dl) = (bm25TfFromTc(docTc), bm25DlFromTc(docTc))
    val stats = dl.agg(sum(col("dl")).as("total_len"),
      count(lit(1)).as("n_docs"))
    bm25ScoreMulti(tf, dl, stats, queries, queryIdCol, termCol, k, k1, b, maxDf)
  }

  /** Multi-query scoring TAIL over corpus state `(tf, dl, stats)` —
    * shared verbatim by [[bm25TopKMulti]] (state derived inline) and
    * [[scoreWithBm25StateMulti]] (state read from the persisted
    * index), so indexed ≡ inline scores bit-for-bit by construction. */
  private def bm25ScoreMulti(tf: DataFrame, dl: DataFrame, stats: DataFrame,
                             queries: DataFrame, queryIdCol: String,
                             termCol: String, k: Int, k1: Double, b: Double,
                             maxDf: Long): DataFrame = {
    require(k >= 1, s"bad k $k")
    require(maxDf >= 1, s"bad maxDf $maxDf")
    import graft.queries.Exact
    val q = queries
      .select(col(queryIdCol).cast("long").as("__q"), col(termCol).as("term"))
      .distinct()
    // ONE postings prune on the union of every query's terms — the
    // per-query corpus re-scan a bm25TopK loop would pay is gone
    val qtfAll = tf.join(broadcast(q.select("term").distinct()),
      Seq("term"), "left_semi")
    // hot-term guard (see bm25MaxDfCut): in the MULTI form a stopword
    // shared by thousands of queries multiplies its corpus-wide
    // postings by every query carrying it — the one quadratic-ish
    // surface this operator has. Terms over maxDf (≈0 idf anyway) are
    // cut before the query fan-out. Default = no cut.
    val (qtf, qdf) = bm25MaxDfCut(qtfAll, maxDf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__q").orderBy(col("score").desc, col("__doc").asc)
    qtf
      .join(broadcast(qdf), "term")
      .join(dl, "__doc")
      .crossJoin(broadcast(stats))
      .join(broadcast(q), "term") // fan out to (query, doc, term)
      .withColumn("__c", bm25Contrib(k1, b))
      .groupBy(col("__q"), col("__doc"))
      .agg(count(lit(1)).as("n_terms"), Exact.dsum(col("__c")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__q").as("query_id"), col("rank"),
        col("__doc").as("doc_id"), col("n_terms"), col("score"))
  }

  /** Tokenization convention pinned into the BM25 index meta — a
    * probe against an index built under a different convention must
    * fail loudly, not score garbage. */
  private[graft] val Bm25Tokenization = "split-space-fnv-free-v1"

  /** The RECOMMENDED production `maxDf` for the serving paths:
    * `n_docs / 2` — the point where classic BM25 idf
    * `log((N - df + 0.5) / (df + 0.5))` turns NEGATIVE, i.e. the term
    * is in more documents than not and carries no selectivity. The
    * rational fixed-point idf used here keeps such terms merely
    * near-zero instead of negative, so cutting them perturbs rankings
    * only where near-zero noise was the tiebreak (ranking invariance
    * on non-hot queries is spec-pinned — a query with no over-half
    * term scores IDENTICALLY under the cut). What the cut buys is the
    * fan-out bound: with `df ≤ N/2` no term's postings exceed half
    * the corpus, so the multi-query scoring join is bounded by
    * matched-selective-postings × queries rather than
    * corpus × stopword-queries — at web scale the difference between
    * a bounded serving join and one hot term dragging the whole
    * corpus through every query that mentions it. Default remains
    * NO cut (exact classic BM25): selectivity loss is a product
    * decision the caller opts into. */
  def bm25RecommendedMaxDf(nDocs: Long): Long = math.max(1L, nDocs / 2)

  /** Build and PERSIST the BM25 index — build-once/score-many parity
    * with [[writeLmIndex]] / [[graft.operators.Dedup.writeMinhashIndex]]
    * / [[graft.operators.Similarity.writeIvfIndex]]: the corpus is
    * tokenized and aggregated ONCE, ever; each later probe (a query, a
    * query batch, a streaming micro-batch of queries) pays only its
    * matched postings. [[bm25TopK]]/[[bm25TopKMulti]] re-tokenize the
    * corpus every CALL — pure waste after the first run on the fixed
    * serving corpus lexical retrieval usually runs against.
    *
    * Layout: `$path/postings` = (term, __doc, tf), clustered on term
    * (repartition + sortWithinPartitions) so a probe's term filter
    * prunes parquet row groups by min/max stats instead of scanning
    * the vocabulary — partitionBy(term) would mint a vocab-sized
    * directory tree, the small-files failure mode; `$path/dl` =
    * (__doc, dl) doc lengths; `$path/meta` pins n_docs, total_len,
    * the SCORING parameters (k1, b — one index serves one scoring
    * config, so every consumer ranks identically), and the
    * tokenization convention. Meta is written LAST: its _SUCCESS is
    * the build-complete sentinel. */
  def writeBm25Index(df: DataFrame, idCol: String, textCol: String,
                     path: String, k1: Double = 1.2, b: Double = 0.75): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val docTc = bm25DocTc(df, idCol, textCol)
    bm25TfFromTc(docTc)
      .repartition(col("term")).sortWithinPartitions("term", "__doc")
      .write.mode("overwrite").parquet(s"$path/postings")
    bm25DlFromTc(docTc)
      .write.mode("overwrite").parquet(s"$path/dl")
    val st = spark.read.parquet(s"$path/dl")
      .agg(sum(col("dl")).as("total_len"), count(lit(1)).as("n_docs"))
      .collect()(0)
    val nDocs = st.getLong(1)
    // check BEFORE touching total_len: over an empty corpus the sum is
    // NULL and the gate must be the loud require, not a null unbox
    require(nDocs > 0, "writeBm25Index: corpus contributes no non-empty " +
      "terms — cannot build a BM25 index")
    val totalLen = st.getLong(0)
    Seq((nDocs, totalLen, k1, b, Bm25Tokenization))
      .toDF("n_docs", "total_len", "k1", "b", "tokenization")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    IndexLayout.resetToBare(spark, path)
  }

  /** APPEND new documents to a persisted BM25 index — incremental
    * lexical-index maintenance, the [[graft.operators.Similarity
    * .appendToIvfIndex]] analogue: the increment tokenizes ONCE
    * (its own size, never the corpus), its postings and lengths
    * append into the existing layout, and the corpus stats in meta
    * are replaced by the EXACT integer sums (old + increment) — so
    * probes over (build ∪ append) are bit-identical to a from-scratch
    * rebuild on the union (spec-pinned): BM25's global state is just
    * (n_docs, total_len), and integer addition is exact. Scoring
    * params and the tokenization convention stay the build's
    * (tokenization mismatch refuses loudly — same pin as probes).
    *
    * Doc ids already present in the index are REFUSED (one bounded
    * semi-join against the stored lengths): an overlapping id would
    * double its dl row and postings, silently corrupting every score.
    * Re-ingesting a changed document is
    * [[graft.operators.IndexMaintenance.deleteFromIndex]] followed
    * by an append (≡ rebuild, spec-pinned), not a bare append. Crash
    * window: an append that dies between the postings/dl append and
    * the meta rewrite leaves stats stale and a RETRY would double the
    * increment — automated ingest should call
    * [[appendToBm25IndexGuarded]], whose staged-move protocol makes a
    * retried increment converge to exactly-once from any crash point.
    * Maintenance: accumulated append files fold back to the
    * build-shaped layout via
    * [[graft.operators.IndexMaintenance.compactIndex]] (probe ≡
    * pre-compaction bit-for-bit — unlike a rebuild, nothing
    * re-fits). */
  def appendToBm25Index(newDocs: DataFrame, idCol: String, textCol: String,
                        path: String): Unit = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    IndexLayout.withIndexLock(spark, path, "append-bm25") {
      val snap = IndexLayout.snapshot(spark, path)
      val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
      val tok = meta.getAs[String]("tokenization")
      require(tok == Bm25Tokenization,
        s"BM25 index at $path uses tokenization '$tok'; this build appends " +
          s"'$Bm25Tokenization' — rebuild the index")
      val docTc = bm25DocTc(newDocs, idCol, textCol)
      val (tf, dlInc) = (bm25TfFromTc(docTc), bm25DlFromTc(docTc))
      val overlap = IndexLayout.readComponent(spark, snap.dir("dl"))
        .join(dlInc.select("__doc"), Seq("__doc"), "left_semi").count()
      require(overlap == 0,
        s"appendToBm25Index: $overlap doc id(s) already exist in the index " +
          "at " + path + " — an overlapping id would double-count its " +
          "postings; re-ingesting changed documents is a rebuild, not an append")
      val st = dlInc.agg(sum(col("dl")).as("total_len"),
        count(lit(1)).as("n_docs")).collect()(0)
      val incDocs = st.getLong(1)
      if (incDocs == 0) return // empty increment — nothing to merge
      val incLen = st.getLong(0)
      tf.repartition(col("term")).sortWithinPartitions("term", "__doc")
        .write.mode("append").parquet(snap.dir("postings"))
      dlInc.write.mode("append").parquet(snap.dir("dl"))
      val newMeta = Seq((meta.getAs[Long]("n_docs") + incDocs,
          meta.getAs[Long]("total_len") + incLen,
          meta.getAs[Double]("k1"), meta.getAs[Double]("b"), tok))
        .toDF("n_docs", "total_len", "k1", "b", "tokenization")
      // meta rewrites ALWAYS publish as a fresh generation + manifest
      // flip (a legacy bare index becomes managed on its first append):
      // never an in-place overwrite a concurrent reader could catch
      // half-written — and the commit doubles as the manifest FENCE, so
      // a maintenance op that raced past the lease collides loudly
      // instead of silently dropping the appended postings at its flip
      val mRel = snap.nextGenRel("meta")
      newMeta.coalesce(1).write.mode("overwrite").parquet(s"$path/$mRel")
      IndexLayout.commit(spark, snap, Map("meta" -> mRel))
      // drop any file-listing caches this session holds for the mutated
      // paths — a same-session probe must see the merged index
      for (p <- Seq("postings", "dl", "meta"))
        spark.catalog.refreshByPath(snap.dir(p))
    }
  }

  /** [[appendToBm25Index]] under the marker-fenced
    * [[graft.operators.IndexMaintenance.runGuardedAppend]] protocol —
    * the form automated ingest should call: `appendId` names this
    * logical increment forever, and a job that crashed ANYWHERE
    * (mid-stage, mid-move, before the meta rewrite) and retried with
    * the same id converges to exactly-once — staged files move into
    * `postings/`/`dl/` by atomic per-file renames with deterministic
    * names (an already-moved file cannot move twice), and the corpus
    * stats are RECOMPUTED from the live dl as exact integer sums (so
    * a retry repairs a stale meta instead of double-counting the
    * increment, which is why this recomputes where the unguarded
    * append merges). Same validations as the unguarded form, run at
    * stage time: tokenization pin, overlapping-id refusal. Returns
    * true iff this call performed (or completed) the append; false =
    * the id was already committed (replay no-op). */
  def appendToBm25IndexGuarded(newDocs: DataFrame, idCol: String,
                               textCol: String, path: String,
                               appendId: String): Boolean = {
    val spark = newDocs.sparkSession
    IndexMaintenance.runGuardedAppend(spark, path, appendId) { stageDir =>
      val snap = IndexLayout.snapshot(spark, path)
      val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
      val tok = meta.getAs[String]("tokenization")
      require(tok == Bm25Tokenization,
        s"BM25 index at $path uses tokenization '$tok'; this build appends " +
          s"'$Bm25Tokenization' — rebuild the index")
      val docTc = bm25DocTc(newDocs, idCol, textCol)
      val (tf, dlInc) = (bm25TfFromTc(docTc), bm25DlFromTc(docTc))
      val overlap = IndexLayout.readComponent(spark, snap.dir("dl"))
        .join(dlInc.select("__doc"), Seq("__doc"), "left_semi").count()
      require(overlap == 0,
        s"appendToBm25IndexGuarded: $overlap doc id(s) already exist in the " +
          s"index at $path — an overlapping id would double-count its " +
          "postings; changed documents are deleteFromIndex + append")
      tf.repartition(col("term")).sortWithinPartitions("term", "__doc")
        .write.parquet(s"$stageDir/postings")
      dlInc.write.parquet(s"$stageDir/dl")
    } { () => bm25RecomputeMeta(spark, path) }
  }

  /** Recompute the BM25 meta corpus stats from the LIVE dl — exact
    * integer sums, idempotent (the guarded append's finalize step:
    * converges on any retry, where an increment-merge would
    * double-count). k1/b and the tokenization pin are preserved. */
  private[graft] def bm25RecomputeMeta(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val snap = IndexLayout.snapshot(spark, path)
    val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
    spark.catalog.refreshByPath(snap.dir("dl"))
    val newMeta = bm25MetaFor(IndexLayout.readComponent(spark, snap.dir("dl")), meta)
    // always a fresh generation + flip (fence; see appendToBm25Index)
    val mRel = snap.nextGenRel("meta")
    newMeta.coalesce(1).write.mode("overwrite").parquet(s"$path/$mRel")
    IndexLayout.commit(spark, snap, Map("meta" -> mRel))
    for (p <- Seq("postings", "dl", "meta"))
      spark.catalog.refreshByPath(snap.dir(p))
  }

  /** The meta row of an index holding exactly the documents of `dl`:
    * the corpus stats as exact integer sums over it, `meta`'s k1/b and
    * tokenization pin. Refuses an empty `dl` (an empty index cannot
    * score). */
  private[graft] def bm25MetaFor(dl: DataFrame,
                                 meta: org.apache.spark.sql.Row): DataFrame = {
    val spark = dl.sparkSession
    import spark.implicits._
    val st = dl.agg(sum(col("dl")).as("total_len"), count(lit(1)).as("n_docs"))
      .collect()(0)
    require(st.getLong(1) > 0, "BM25 index holds no documents")
    Seq((st.getLong(1), st.getLong(0), meta.getAs[Double]("k1"),
        meta.getAs[Double]("b"), meta.getAs[String]("tokenization")))
      .toDF("n_docs", "total_len", "k1", "b", "tokenization")
  }

  /** Driver-side BM25 index state: the postings/dl READERS (file
    * listing + plan, constructed once) plus the meta-pinned corpus
    * stats and scoring parameters — streaming callers keep it across
    * micro-batches instead of re-reading `meta/` and re-planning the
    * index side per batch (the [[readLmMeta]]/[[scoreWithLmState]]
    * hoist, uniformly). */
  final case class Bm25IndexState(postings: DataFrame, dl: DataFrame,
                                  nDocs: Long, totalLen: Long,
                                  k1: Double, b: Double) {
    /** The 1-row (total_len, n_docs) stats relation the scoring tails
      * crossJoin — identical values to the inline `dl.agg(...)`, so
      * the shared tails score identically. */
    private[graft] def stats: DataFrame = {
      val spark = postings.sparkSession
      import spark.implicits._
      Seq((totalLen, nDocs)).toDF("total_len", "n_docs")
    }
  }

  /** Load the [[writeBm25Index]] state: ONE bounded meta read (refuses
    * loudly on a tokenization-convention mismatch), readers
    * constructed once. The corpus is never touched — every probe plan
    * reads only `postings`/`dl` parquet (spec-pinned). */
  def loadBm25Index(spark: org.apache.spark.sql.SparkSession,
                    path: String): Bm25IndexState = {
    // ONE snapshot resolves postings+dl+meta — a maintenance flip
    // between these reads can never hand a probe mixed generations
    val snap = IndexLayout.snapshot(spark, path)
    val meta = IndexLayout.collectSmallComponent(spark, snap.dir("meta"))(0)
    val tok = meta.getAs[String]("tokenization")
    require(tok == Bm25Tokenization,
      s"BM25 index at $path uses tokenization '$tok'; this build scores " +
        s"'$Bm25Tokenization' — rebuild the index")
    Bm25IndexState(
      IndexLayout.readComponent(spark, snap.dir("postings")),
      IndexLayout.readComponent(spark, snap.dir("dl")),
      meta.getAs[Long]("n_docs"), meta.getAs[Long]("total_len"),
      meta.getAs[Double]("k1"), meta.getAs[Double]("b"))
  }

  /** Single-query probe of a persisted BM25 index — identical joins
    * and arithmetic to [[bm25TopK]] via the shared scoring tail, under
    * the index's meta-pinned k1/b. Only matched postings flow: the
    * term filter pushes down to the term-clustered postings parquet. */
  def scoreWithBm25Index(spark: org.apache.spark.sql.SparkSession,
                         path: String, queryTerms: Seq[String], k: Int = 10,
                         maxDf: Long = Long.MaxValue): DataFrame =
    scoreWithBm25State(loadBm25Index(spark, path), queryTerms, k, maxDf)

  /** [[scoreWithBm25Index]] over caller-held state — the per-batch
    * body for streaming probes ([[graft.streaming.StreamingBm25Score]]):
    * zero per-batch index-side driver work. */
  def scoreWithBm25State(state: Bm25IndexState, queryTerms: Seq[String],
                         k: Int = 10, maxDf: Long = Long.MaxValue): DataFrame =
    bm25ScoreSingle(state.postings, state.dl, state.stats,
      queryTerms, k, state.k1, state.b, maxDf)

  /** Multi-query probe of a persisted BM25 index — [[bm25TopKMulti]]'s
    * tail over the persisted state: one postings prune on the union of
    * the batch's terms, per-query WindowGroupLimit top-k, and the
    * corpus never re-tokenizes. */
  def scoreWithBm25IndexMulti(spark: org.apache.spark.sql.SparkSession,
                              path: String, queries: DataFrame,
                              queryIdCol: String, termCol: String,
                              k: Int = 10,
                              maxDf: Long = Long.MaxValue): DataFrame =
    scoreWithBm25StateMulti(loadBm25Index(spark, path), queries,
      queryIdCol, termCol, k, maxDf)

  /** [[scoreWithBm25IndexMulti]] over caller-held state. */
  def scoreWithBm25StateMulti(state: Bm25IndexState, queries: DataFrame,
                              queryIdCol: String, termCol: String,
                              k: Int = 10,
                              maxDf: Long = Long.MaxValue): DataFrame =
    bm25ScoreMulti(state.postings, state.dl, state.stats,
      queries, queryIdCol, termCol, k, state.k1, state.b, maxDf)

  /** Per-document n-gram familiarity — the cheap LM-free fluency
    * proxy quality pipelines run when a real language model is too
    * expensive (CCNet-style filtering at web scale): score each
    * document by how common its word bigrams are in the corpus
    * itself. Fluent prose reuses frequent transitions; gibberish,
    * boilerplate-mangled and wrong-language text sit in the rare
    * tail. Output per doc: `n_bigrams`, `sum_freq` (sum over the
    * doc's bigram OCCURRENCES of that bigram's corpus count) and
    * `familiarity = sum_freq / n_bigrams` (mean corpus frequency of
    * the doc's transitions). Counts, not log-probabilities, on
    * purpose: the integer arithmetic is order-independent and makes
    * the cross-engine hash gate exact, where `ln` would not be —
    * same rationale as [[tfidfTopTerms]]'s rational idf; ranking by
    * mean count and by mean log-count agree on what they flag at the
    * filtering tails.
    *
    * Scale shape: the exploded (doc, bigram) occurrence table is
    * token-count-sized and MATERIALIZED once for its two consumers
    * (the corpus count aggregate and the scoring join) — the
    * re-derive-per-consumer trap would scan the corpus twice. Bigram
    * identity is the 64-bit fnv hash, fused at the source
    * ([[graft.functions.BigramHashes]]): the materialized table,
    * count shuffle and scoring join all carry 8-BYTE keys instead of
    * bigram strings (~2.5× narrower — at the 150M-occurrence scale
    * where the string-keyed count join was measured spilling, the
    * difference between disk and memory), and the per-row HOF
    * re-split the composed transform() form paid is gone. Two
    * distinct bigrams collide with probability ≈ distinct-pairs/2⁶⁵
    * corpus-wide; the DuckDB mirror stays STRING-keyed, so any
    * collision in a gated run fails the gate loudly (merged counts
    * read high) instead of passing silently — hash-vs-string count
    * equality is also spec-pinned on the fixture corpus. The count
    * aggregate is a partial-aggregating groupBy (a hot bigram
    * combines map-side, never buffers one task); the scoring join is
    * keyed on the hash with both sides hash-partitioned (AQE
    * broadcasts the count table at small vocabularies and splits
    * skewed probe partitions beyond); the final per-doc aggregate is
    * one doc-keyed shuffle. No window ever holds a bigram's full
    * posting list. */
  def ngramFamiliarity(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val id = col(idCol)
    // docs with < 2 words have no transitions — excluded, matching
    // the mirror's WHERE (BigramHashes emits an empty array there)
    val bg = df
      .select(id, TextFunctions.bigramHashes(col(textCol)).as("bgh"))
      .filter(size(col("bgh")) >= 1)
      .select(id, explode(col("bgh")).as("bg"))
    val mat = Materialize(bg)
    val counts = mat.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
    mat.join(counts, "bg")
      .groupBy(id)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cnt")).as("sum_freq"))
      .withColumn("familiarity",
        col("sum_freq").cast("double") / col("n_bigrams"))
  }

  /** Fixed-point piecewise-linear log2 of a positive integer SQL
    * expression, templated for both engines (only the integer-div and
    * shift spellings differ):
    *
    *   lg2fp(x) = il·2²⁰ + ⌊x·2²⁰ / 2^il⌋ − 2²⁰,  il = len(bin(x))−1
    *
    * This is the bit-length + linear-mantissa log2: exact at powers of
    * two, strictly monotone, absolute error ≤ 0.0861 bits, and —
    * unlike `ln`/`log2`, which neither engine correctly rounds — every
    * operation is integer, so Spark and DuckDB produce IDENTICAL bits
    * and a cross-engine hash gate on LM scores is honest. The il ≥ 20
    * branch divides instead of multiplying (⌊x·2²⁰/2^il⌋ =
    * ⌊x/2^(il−20)⌋ exactly), so no intermediate exceeds
    * max(x, 2⁴⁰) — overflow-free for any BIGINT count. */
  def lg2fpSql(x: String, spark: Boolean): String = {
    val il = s"(length(bin($x)) - 1)"
    val one = "CAST(1 AS BIGINT)"
    if (spark)
      s"(CAST($il AS BIGINT) * 1048576 + CASE WHEN $il >= 20 " +
        s"THEN ($x) div shiftleft($one, $il - 20) " +
        s"ELSE ($x) * shiftleft($one, 20 - $il) END - 1048576)"
    else
      s"(CAST($il AS BIGINT) * 1048576 + CASE WHEN $il >= 20 " +
        s"THEN ($x) // ($one << ($il - 20)) " +
        s"ELSE ($x) * ($one << (20 - $il)) END - 1048576)"
  }

  /** Bigram-LM cross-entropy scoring — the CCNet-style "perplexity
    * against a reference corpus" quality signal: train an add-one-
    * smoothed bigram model on `ref`, score every document of `df` by
    * the mean negative log2-probability of its word transitions
    * (cross-entropy in bits/transition; ranking by it ranks by
    * perplexity, since 2^x is monotone). p(w2|w1) = (c(w1 w2)+1) /
    * (c(w1·)+V) with V = |context vocabulary|; unseen contexts score
    * the uniform floor 1/V. log2 is [[lg2fpSql]]'s fixed-point
    * piecewise-linear form, so every per-transition contribution is an
    * exact BIGINT and per-doc scores are bit-identical cross-engine
    * (the one double is the final sum/count division of exact longs —
    * exact conversions below 2⁵³, i.e. up to ~10⁸ transitions/doc).
    *
    * Scale shape: transitions are fused 16-byte key pairs
    * ([[TextFunctions.transitionHashes]] — bg + ctx hashes in one byte
    * pass; the mirror stays STRING-keyed so a collision fails the gate
    * loudly, as with ngramFamiliarity). The model is ONE map-side-
    * combined groupBy of the reference transitions (vocab²-bounded
    * output, never corpus-sized), MATERIALIZED once for its three
    * consumers; c(w1·) derives from the model by a model-sized agg —
    * no second reference scan — and V rides a 1-row broadcast
    * crossJoin (the bounded-grid pattern), never a driver action.
    * Scoring is two left joins against model-sized right sides (AQE
    * broadcasts them at moderate vocabularies, hash-partitions on the
    * 8-byte keys beyond) and ONE doc-keyed final aggregate, map-side
    * combined. No window ever buffers a context's posting list. */
  def bigramCrossEntropy(ref: DataFrame, df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val model = Materialize(lmTransitions(ref, textCol, Nil)
      .groupBy(col("bg"), col("ctx")).agg(count(lit(1)).as("c12")))
    val c1 = model.groupBy(col("ctx")).agg(sum(col("c12")).as("c1"))
    val vDf = c1.agg(count(lit(1)).as("v"))
    scoreAgainstLm(df, idCol, textCol, model, c1, vDf)
  }

  /** The fused (bg, ctx) transition stream of `textCol` — shared by
    * the inline trainer, the index builder and the scorer so the three
    * cannot drift on tokenization. */
  private def lmTransitions(src: DataFrame, textCol: String,
                            keep: Seq[Column]): DataFrame =
    src.select((keep :+ explode(
        TextFunctions.transitionHashes(col(textCol))).as("t")): _*)
      .select(keep :+ col("t.bg").as("bg") :+ col("t.ctx").as("ctx"): _*)

  /** Scoring tail shared by [[bigramCrossEntropy]] (model derived
    * inline) and [[scoreWithLmIndex]] (model read from parquet):
    * identical joins and arithmetic, so indexed ≡ inline scores by
    * construction. `model` = (bg, c12), `c1` = (ctx, c1), `vDf` = one
    * (v) row. */
  private def scoreAgainstLm(df: DataFrame, idCol: String, textCol: String,
                             model: DataFrame, c1: DataFrame,
                             vDf: DataFrame): DataFrame =
    lmTransitions(df, textCol, Seq(col(idCol)))
      .join(model.select(col("bg"), col("c12")), Seq("bg"), "left")
      .join(c1, Seq("ctx"), "left")
      .crossJoin(broadcast(vDf))
      .withColumn("num", coalesce(col("c12"), lit(0L)) + lit(1L))
      // degenerate model guard: an empty / all-short reference gives
      // V = 0, den = 0, and lg2fp's bin(0) path would emit nonsense
      // (negative cross-entropy) — fail loudly instead
      .withColumn("den",
        when(col("v") === 0L, raise_error(lit(
          "bigramCrossEntropy: reference corpus contributes no word " +
            "transitions (V = 0) — cannot train a bigram model")))
          .otherwise(coalesce(col("c1"), lit(0L)) + col("v")))
      .withColumn("lp_fp", expr(
        s"${lg2fpSql("den", spark = true)} - ${lg2fpSql("num", spark = true)}"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trans"), sum(col("lp_fp")).as("sum_lp_fp"))
      .withColumn("cross_entropy_bits",
        col("sum_lp_fp").cast("double") /
          (col("n_trans") * lit(1048576L)).cast("double"))

  /** Tokenization convention pinned into the LM index meta — a probe
    * against an index built under a different convention must fail
    * loudly, not score garbage. */
  private[graft] val LmTokenization = "split-space-fnv64-transitions-v1"

  /** Build and PERSIST the add-one bigram LM — build-once/score-many
    * parity with [[graft.operators.Dedup.writeMinhashIndex]]: the
    * reference corpus is tokenized and aggregated ONCE, ever; each
    * later scoring batch (or streaming micro-batch) pays only its own
    * transitions. [[bigramCrossEntropy]] re-trains on `ref` every
    * call — pure waste after the first run when the reference is the
    * fixed quality corpus it usually is.
    *
    * Layout: `$path/model` = (bg, ctx, c12) — the vocab²-bounded
    * transition counts (8-byte fused keys, same as inline);
    * `$path/ctx` = (ctx, c1) context totals; `$path/meta` pins V and
    * the tokenization convention. The model aggregation is the only
    * reference-sized pass; V is one bounded count over the
    * model-sized ctx table. */
  def writeLmIndex(ref: DataFrame, textCol: String, path: String): Unit = {
    val spark = ref.sparkSession
    import spark.implicits._
    val model = Materialize(lmTransitions(ref, textCol, Nil)
      .groupBy(col("bg"), col("ctx")).agg(count(lit(1)).as("c12")))
    model.write.mode("overwrite").parquet(s"$path/model")
    val c1 = model.groupBy(col("ctx")).agg(sum(col("c12")).as("c1"))
    c1.write.mode("overwrite").parquet(s"$path/ctx")
    val v = spark.read.parquet(s"$path/ctx").count()
    require(v > 0, "writeLmIndex: reference corpus contributes no word " +
      "transitions (V = 0) — cannot train a bigram model")
    Seq((v, LmTokenization)).toDF("v", "tokenization")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Score documents against a PERSISTED bigram LM (the
    * [[writeLmIndex]] layout) — identical joins and arithmetic to
    * [[bigramCrossEntropy]] via the shared scoring tail, so indexed ≡
    * inline scores bit-for-bit (spec-pinned). The reference corpus is
    * never touched: the plan reads only `model`/`ctx` parquet (both
    * model-sized — AQE broadcasts them at moderate vocabularies) plus
    * the documents being scored. Meta is ONE bounded driver read per
    * call; streaming callers should hoist it via [[readLmMeta]] +
    * [[scoreWithLmState]]. */
  def scoreWithLmIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       df: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreWithLmState(spark, path, readLmMeta(spark, path), df, idCol, textCol)

  /** The driver-side LM index state: V (for add-one smoothing), read
    * once — streaming callers keep it across micro-batches instead of
    * re-reading `meta/` per batch. */
  def readLmMeta(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val meta = IndexLayout.collectSmallComponent(spark, s"$path/meta")(0)
    val tok = meta.getAs[String]("tokenization")
    require(tok == LmTokenization,
      s"LM index at $path uses tokenization '$tok'; this build scores " +
        s"'$LmTokenization' — rebuild the index")
    meta.getAs[Long]("v")
  }

  /** [[scoreWithLmIndex]] with the meta already read (`v` from
    * [[readLmMeta]]) — constructs the model/ctx readers fresh; batch
    * callers use this. Streaming callers hoist the READERS too via
    * [[scoreWithLm]] (a reader carries the file listing — rebuilt per
    * micro-batch it is wasted fixed driver work, the same class of
    * overhead the meta hoist removes). */
  def scoreWithLmState(spark: org.apache.spark.sql.SparkSession, path: String,
                       v: Long, df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    scoreWithLm(IndexLayout.readComponent(spark, s"$path/model"),
      IndexLayout.readComponent(spark, s"$path/ctx"), v, df, idCol, textCol)

  /** Scoring over caller-held model state: `model` = (bg, ctx, c12)
    * and `c1` = (ctx, c1) DataFrames (from the [[writeLmIndex]]
    * layout, constructed ONCE by the caller), `v` from [[readLmMeta]].
    * The per-micro-batch body for streaming scorers — zero per-batch
    * index-side driver work. */
  def scoreWithLm(model: DataFrame, c1: DataFrame, v: Long, df: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val spark = model.sparkSession
    import spark.implicits._
    scoreAgainstLm(df, idCol, textCol, model, c1, Seq(v).toDF("v"))
  }

  def htmlExtract(df: DataFrame, htmlCol: String = "html",
                  outCol: String = "text_extracted"): DataFrame = {
    val stripped = htmlStripPasses.foldLeft(col(htmlCol)) {
      case (c, (re, repl)) => regexp_replace(c, lit(re), lit(repl))
    }
    val decoded = htmlEntities.foldLeft(stripped) {
      case (c, (from, to)) => replace(c, lit(from), lit(to))
    }
    df.withColumn("n_tags",
        regexp_count(col(htmlCol), lit("<[^>]*>")).cast("long"))
      .withColumn(outCol,
        trim(regexp_replace(decoded, lit("[ \\t\\r\\n]+"), lit(" "))))
  }

  /** DuckDB mirror of [[htmlExtract]]'s text expression. */
  def htmlExtractMirror(htmlCol: String): String = {
    val stripped = htmlStripPasses.foldLeft(htmlCol) {
      case (e, (re, repl)) => s"regexp_replace($e, '$re', '$repl', 'g')"
    }
    val decoded = htmlEntities.foldLeft(stripped) {
      case (e, (from, to)) =>
        s"replace($e, '${from.replace("'", "''")}', '${to.replace("'", "''")}')"
    }
    s"trim(regexp_replace($decoded, '[ \\t\\r\\n]+', ' ', 'g'))"
  }
}

package graft.plans

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension registering graft's custom expressions as SQL
  * functions, so `spark.sql(...)` users get the full surface:
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)   // on a session builder, or
  * builder.config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * GraftExtensions.register(spark)               // on a running session
  * ...
  * spark.sql("SELECT theta_estimate(theta_sketch_agg(user_id)) FROM t")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage,
          "", "", "", "", "", "", "built-in"),
        builder))
    }
    ext.injectOptimizerRule(ApproxCountDistinctRewrite)
  }
}

object GraftExtensions {

  /** Register into an already-built session (temp functions +
    * experimental optimizer rules) — for sessions that were not created
    * with the extension config. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[ApproxCountDistinctRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ApproxCountDistinctRewrite(spark)
  }

  private[plans] lazy val functions: Seq[(String, String, Seq[Expression] => Expression)] = {
    val out = Seq.newBuilder[(String, String, Seq[Expression] => Expression)]
    def reg(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      out += ((name, usage, builder))

    def intArg(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case x => throw new IllegalArgumentException(s"$what must be an integer literal, got $x")
    }

    // Full 64-bit range (hash seeds) — intArg(...).toLong would truncate.
    def longArg(e: Expression, what: String): Long = e match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case x => throw new IllegalArgumentException(s"$what must be an integer literal, got $x")
    }

    reg("theta_sketch_agg", "theta_sketch_agg(col) - mergeable theta sketch bytes") {
      case Seq(c) => ThetaSketchAgg(c).toAggregateExpression()
      case args => throw new IllegalArgumentException(s"theta_sketch_agg takes 1 arg, got ${args.size}")
    }
    reg("theta_estimate", "theta_estimate(sketch) - distinct estimate") {
      case Seq(c) => ThetaEstimate(c)
      case args => throw new IllegalArgumentException(s"theta_estimate takes 1 arg, got ${args.size}")
    }
    reg("theta_union", "theta_union(a, b) - union of sketches") {
      case Seq(a, b) => ThetaSetOp(a, b, "union")
      case args => throw new IllegalArgumentException(s"theta_union takes 2 args, got ${args.size}")
    }
    reg("theta_intersect", "theta_intersect(a, b) - intersection of sketches") {
      case Seq(a, b) => ThetaSetOp(a, b, "intersect")
      case args => throw new IllegalArgumentException(s"theta_intersect takes 2 args, got ${args.size}")
    }
    reg("theta_anotb", "theta_anotb(a, b) - difference of sketches") {
      case Seq(a, b) => ThetaSetOp(a, b, "anotb")
      case args => throw new IllegalArgumentException(s"theta_anotb takes 2 args, got ${args.size}")
    }
    reg("minhash_sig", "minhash_sig(text, shingleN, numHashes) - MinHash signature from text") {
      case Seq(t) => MinHashSigText(t, 3, 128)
      case Seq(t, n) => MinHashSigText(t, intArg(n, "shingleN"), 128)
      case Seq(t, n, k) => MinHashSigText(t, intArg(n, "shingleN"), intArg(k, "numHashes"))
      case args => throw new IllegalArgumentException(s"minhash_sig takes 1-3 args, got ${args.size}")
    }
    reg("simhash64", "simhash64(tokens) - 64-bit SimHash of a string array") {
      case Seq(c) => SimHash64(c)
      case args => throw new IllegalArgumentException(s"simhash64 takes 1 arg, got ${args.size}")
    }
    reg("winnow_fingerprints", "winnow_fingerprints(text, k, w) - winnowing fingerprints") {
      case Seq(t) => WinnowFingerprints(t, 8, 4)
      case Seq(t, k, w) => WinnowFingerprints(t, intArg(k, "k"), intArg(w, "w"))
      case args => throw new IllegalArgumentException(s"winnow_fingerprints takes 1 or 3 args, got ${args.size}")
    }
    reg("repetition_stats",
        "repetition_stats(text, topN, dupN) - Gopher repetition struct") {
      case Seq(t) => RepetitionStats(t, 2, 3)
      case Seq(t, n1, n2) => RepetitionStats(t, intArg(n1, "topN"), intArg(n2, "dupN"))
      case args => throw new IllegalArgumentException(s"repetition_stats takes 1 or 3 args, got ${args.size}")
    }
    reg("strip_accents",
        "strip_accents(text) - NFD decompose + combining-mark removal (DuckDB-compatible)") {
      case Seq(t) => StripAccents(t)
      case args => throw new IllegalArgumentException(s"strip_accents takes 1 arg, got ${args.size}")
    }
    reg("linear_text_score",
        "linear_text_score(text, buckets, span) - hashed unigram+bigram linear logit") {
      case Seq(t) => LinearTextScore(t, 1 << 16, 61)
      case Seq(t, b, s) =>
        LinearTextScore(t, intArg(b, "buckets"), intArg(s, "span"))
      case args => throw new IllegalArgumentException(s"linear_text_score takes 1 or 3 args, got ${args.size}")
    }
    reg("edit_within",
        "edit_within(a, b, maxEdits) - banded byte Levenshtein, -1 beyond the budget") {
      case Seq(a, b, k) => EditDistanceWithin(a, b, intArg(k, "maxEdits"))
      case args => throw new IllegalArgumentException(s"edit_within takes 3 args, got ${args.size}")
    }
    reg("feature_buckets",
        "feature_buckets(text, buckets) - hashed unigram+bigram feature buckets (the linear_text_score stream)") {
      case Seq(t, b) => FeatureBuckets(t, intArg(b, "buckets"))
      case args => throw new IllegalArgumentException(s"feature_buckets takes 2 args, got ${args.size}")
    }
    reg("bigram_hashes",
        "bigram_hashes(text) - fnv64 of each adjacent word bigram") {
      case Seq(t) => BigramHashes(t)
      case args => throw new IllegalArgumentException(s"bigram_hashes takes 1 arg, got ${args.size}")
    }
    reg("transition_hashes",
        "transition_hashes(text) - per-transition struct<bg, ctx> fnv64 pair (bigram-LM keys)") {
      case Seq(t) => TransitionHashes(t)
      case args => throw new IllegalArgumentException(s"transition_hashes takes 1 arg, got ${args.size}")
    }
    reg("sign_projection",
        "sign_projection(vec, k, seed) - Johnson-Lindenstrauss sign random projection") {
      case Seq(v, k) => SignProjection(v, intArg(k, "k"), 0L)
      case Seq(v, k, s) => SignProjection(v, intArg(k, "k"), longArg(s, "seed"))
      case args => throw new IllegalArgumentException(s"sign_projection takes 2 or 3 args, got ${args.size}")
    }
    out.result()
  }
}

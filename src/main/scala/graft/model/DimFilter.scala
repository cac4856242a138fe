package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Druid `DimFilter` JSON algebra compiled to Catalyst `Column`s.
  *
  * The reference passes an optional `filter` in its load spec
  * (druid-pig/PigSegmentLoadSpec.java:40, druid-mr uses it through
  * `DatasourceIngestionSpec`); Druid evaluates it inside the segment
  * scan. Here each filter node becomes a boolean `Column`, so Catalyst
  * pushes the supported conjuncts into the parquet scan
  * (`PushedFilters` in explain) — the Spark-native equivalent of
  * Druid's in-segment filtering.
  *
  * Multi-value dimensions (`ArrayType` columns) get Druid semantics:
  * a selector/in/bound on a multi-value dim matches if ANY value
  * matches (Druid docs, "Multi-value dimensions: filtering").
  */
sealed trait DimFilter {
  def compile(schema: StructType): Column

  /** Column names this filter reads, or None when statically unknown
    * (the free-form `expression` filter). */
  def referencedDims: Option[Set[String]] = this match {
    case DimFilter.Selector(d, _) => Some(Set(d))
    case DimFilter.In(d, _) => Some(Set(d))
    case DimFilter.Bound(d, _, _, _, _, _) => Some(Set(d))
    case DimFilter.Like(d, _) => Some(Set(d))
    case DimFilter.Regex(d, _) => Some(Set(d))
    case DimFilter.Search(d, _, _) => Some(Set(d))
    case DimFilter.Intervals(d, _) => Some(Set(d))
    case DimFilter.ColumnComparison(ds) => Some(ds.toSet)
    case DimFilter.Extracted(d, _, _) => Some(Set(d))
    case DimFilter.And(fs) =>
      fs.foldLeft(Option(Set.empty[String])) {
        case (Some(a), f) => f.referencedDims.map(a ++ _)
        case (None, _) => None
      }
    case DimFilter.Or(fs) => DimFilter.And(fs).referencedDims
    case DimFilter.Not(f) => f.referencedDims
    case DimFilter.True => Some(Set.empty)
    case DimFilter.Expr(_) => None
  }
}

/** A predicate over DICTIONARY values — the unit of bitmap-index row
  * pruning in segment readers. Soundness contract: `matches(v)` must
  * be true for every non-null string `v` the compiled Spark filter
  * could accept on that dimension. OVER-matching is always safe (the
  * extra rows decode and the residual filter drops them);
  * UNDER-matching never is (a bitmap-pruned row is never decoded, so
  * the residual filter cannot resurrect it). */
sealed trait DictPred extends Serializable {
  def matches(value: String): Boolean
}

object DictPred {
  /** selector / in: exact membership. */
  final case class Values(vs: Set[String]) extends DictPred {
    def matches(v: String): Boolean = vs.contains(v)
  }

  /** Lexicographic bound over Spark's binary string order (UTF-8
    * byte-wise — `UTF8String.binaryCompare`, what `col > lit` does),
    * NOT Java's UTF-16 `String.compareTo` (they disagree on
    * supplementary characters). */
  final case class LexBound(lower: Option[String], lowerStrict: Boolean,
                            upper: Option[String], upperStrict: Boolean)
      extends DictPred {
    private def cmp(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    def matches(v: String): Boolean =
      lower.forall(l => if (lowerStrict) cmp(v, l) > 0 else cmp(v, l) >= 0) &&
        upper.forall(u => if (upperStrict) cmp(v, u) < 0 else cmp(v, u) <= 0)
  }

  /** DSv2 StringContains pushdown. */
  final case class Contains(value: String) extends DictPred {
    def matches(v: String): Boolean = v.contains(value)
  }

  /** DSv2 StringStartsWith pushdown. */
  final case class Prefix(value: String) extends DictPred {
    def matches(v: String): Boolean = v.startsWith(value)
  }

  /** DSv2 StringEndsWith pushdown. */
  final case class Suffix(value: String) extends DictPred {
    def matches(v: String): Boolean = v.endsWith(value)
  }
}

object DimFilter {

  /** True if `dim` is a multi-value (array) column in `schema`. */
  private def isMv(schema: StructType, dim: String): Boolean =
    schema.fields.exists(f => f.name == dim && f.dataType.isInstanceOf[ArrayType])

  /** Apply a scalar predicate to a possibly multi-value dimension. */
  private def dimPred(schema: StructType, dim: String)(pred: Column => Column): Column =
    if (isMv(schema, dim)) exists(col(dim), pred) else pred(col(dim))

  final case class Selector(dimension: String, value: Option[String]) extends DimFilter {
    def compile(schema: StructType): Column = value match {
      case Some(v) => dimPred(schema, dimension)(_ === lit(v))
      case None => col(dimension).isNull // Druid: selector with null value matches null/missing
    }
  }

  final case class In(dimension: String, values: Seq[String]) extends DimFilter {
    def compile(schema: StructType): Column =
      dimPred(schema, dimension)(_.isin(values: _*))
  }

  /** Bound filter: lexicographic by default, numeric when ordering=numeric
    * (or legacy alphaNumeric=true). */
  final case class Bound(
      dimension: String, lower: Option[String], upper: Option[String],
      lowerStrict: Boolean, upperStrict: Boolean, numeric: Boolean) extends DimFilter {
    private[model] def pred(raw: Column): Column = {
      def side(c: Column): Column = if (numeric) c.cast("double") else c
      val c = side(raw)
      val lo = lower.map { v =>
        if (lowerStrict) c > side(lit(v)) else c >= side(lit(v))
      }
      val hi = upper.map { v =>
        if (upperStrict) c < side(lit(v)) else c <= side(lit(v))
      }
      (lo ++ hi).reduceOption(_ && _).getOrElse(lit(true))
    }
    def compile(schema: StructType): Column = dimPred(schema, dimension)(pred)
  }

  /** A value filter whose dimension is transformed by an
    * `extractionFn` first (Druid: selector/in/bound/like/regex all
    * accept one). Per Druid semantics the extraction applies PER
    * VALUE of a multi-value dim. The compiled Column is not
    * pushable (extraction changes values, so no dictionary
    * short-circuit either) — it filters post-scan, same as Druid
    * evaluates it post-dictionary. */
  final case class Extracted(dimension: String, fn: JValue, test: DimFilter)
      extends DimFilter {
    def compile(schema: StructType): Column = {
      def t(c: Column): Column = DimensionSpec.applyExtraction(fn, c)
      val inner: Column => Column = test match {
        case Selector(_, Some(v)) => c => t(c) === lit(v)
        case Selector(_, None) => c => t(c).isNull
        case In(_, vs) => c => t(c).isin(vs: _*)
        case Like(_, p) => c => t(c).like(p)
        case Regex(_, p) => c => t(c).rlike(p)
        case b: Bound => c => b.pred(t(c))
        case other => throw new IllegalArgumentException(
          s"extractionFn unsupported on ${other.getClass.getSimpleName}")
      }
      if (isMv(schema, dimension)) exists(col(dimension), inner)
      else inner(col(dimension))
    }
  }

  final case class Like(dimension: String, pattern: String) extends DimFilter {
    def compile(schema: StructType): Column = dimPred(schema, dimension)(_.like(pattern))
  }

  final case class Regex(dimension: String, pattern: String) extends DimFilter {
    def compile(schema: StructType): Column = dimPred(schema, dimension)(_.rlike(pattern))
  }

  /** search filter with contains / insensitive_contains query. */
  final case class Search(dimension: String, value: String, caseSensitive: Boolean) extends DimFilter {
    def compile(schema: StructType): Column = dimPred(schema, dimension) { c =>
      if (caseSensitive) c.contains(lit(value))
      else lower(c).contains(lit(value.toLowerCase))
    }
  }

  /** interval filter over a timestamp column (Druid __time). */
  final case class Intervals(dimension: String, intervals: Seq[(Long, Long)]) extends DimFilter {
    def compile(schema: StructType): Column = {
      val ms = unix_millis(col(dimension))
      intervals.map { case (s, e) => ms >= lit(s) && ms < lit(e) }
        .reduceOption(_ || _).getOrElse(lit(false))
    }
  }

  final case class ColumnComparison(dimensions: Seq[String]) extends DimFilter {
    def compile(schema: StructType): Column =
      dimensions.sliding(2).map { case Seq(a, b) => col(a) === col(b) }
        .reduceOption(_ && _).getOrElse(lit(true))
  }

  final case class And(fields: Seq[DimFilter]) extends DimFilter {
    def compile(schema: StructType): Column = fields.map(_.compile(schema)).reduce(_ && _)
  }
  final case class Or(fields: Seq[DimFilter]) extends DimFilter {
    def compile(schema: StructType): Column = fields.map(_.compile(schema)).reduce(_ || _)
  }
  final case class Not(field: DimFilter) extends DimFilter {
    def compile(schema: StructType): Column = !field.compile(schema)
  }

  /** Druid expression filter — the expression dialect is Spark SQL's
    * (documented deviation; arithmetic/comparison subset is spelled
    * identically). */
  final case class Expr(expression: String) extends DimFilter {
    def compile(schema: StructType): Column = expr(expression)
  }

  /** True constant — used when a query has no filter. */
  case object True extends DimFilter {
    def compile(schema: StructType): Column = lit(true)
  }

  // ---- JSON parsing (same dialect as Druid's DimFilter) ----

  def parse(json: String): DimFilter = fromJson(JsonMethods.parse(json))

  def fromJson(j: JValue): DimFilter = j match {
    case JNothing | JNull => True
    case obj: JObject =>
      def str(k: String): Option[String] = (obj \ k) match {
        case JString(s) => Some(s)
        case JInt(i) => Some(i.toString)
        case JDouble(d) => Some(d.toString)
        case _ => None
      }
      def bool(k: String): Boolean = (obj \ k) match {
        case JBool(b) => b
        case _ => false
      }
      val parsed = str("type").getOrElse(throw new IllegalArgumentException(s"filter missing type: $j")) match {
        case "selector" => Selector(str("dimension").get, str("value"))
        case "in" =>
          val vals = (obj \ "values") match {
            case JArray(xs) => xs.collect {
              case JString(s) => s
              case JInt(i) => i.toString
              case JDouble(d) => d.toString
            }
            case _ => Nil
          }
          In(str("dimension").get, vals)
        case "bound" =>
          val numeric = bool("alphaNumeric") || str("ordering").contains("numeric")
          Bound(str("dimension").get, str("lower"), str("upper"),
            bool("lowerStrict"), bool("upperStrict"), numeric)
        case "like" => Like(str("dimension").get, str("pattern").get)
        case "regex" => Regex(str("dimension").get, str("pattern").get)
        case "search" =>
          val q = obj \ "query"
          val value = (q \ "value") match { case JString(s) => s; case _ => "" }
          val cs = (q \ "type") match { case JString("contains") => (q \ "caseSensitive") match {
              case JBool(b) => b
              case _ => true
            }
            case _ => false // insensitive_contains
          }
          Search(str("dimension").get, value, cs)
        case "interval" =>
          val ivs = (obj \ "intervals") match {
            case JArray(xs) => xs.collect { case JString(s) =>
              val Array(a, b) = s.split("/")
              (java.time.Instant.parse(a).toEpochMilli, java.time.Instant.parse(b).toEpochMilli)
            }
            case _ => Nil
          }
          Intervals(str("dimension").getOrElse("__time"), ivs)
        case "columnComparison" =>
          val dims = (obj \ "dimensions") match {
            case JArray(xs) => xs.collect { case JString(s) => s }
            case _ => Nil
          }
          ColumnComparison(dims)
        case "and" => And(children(obj, "fields"))
        case "or" => Or(children(obj, "fields"))
        case "not" => Not(fromJson(obj \ "field"))
        case "expression" => Expr(str("expression").getOrElse(
          throw new IllegalArgumentException("expression filter needs expression")))
        case "true" => True
        case other => throw new IllegalArgumentException(s"unsupported filter type $other")
      }
      // Druid: selector/in/bound/like/regex accept an extractionFn —
      // the value test then applies to the EXTRACTED value
      (obj \ "extractionFn") match {
        case JNothing | JNull => parsed
        case fn => parsed match {
          case v @ (_: Selector | _: In | _: Bound | _: Like | _: Regex) =>
            Extracted(v.referencedDims.get.head, fn, v)
          case other => throw new IllegalArgumentException(
            s"extractionFn not supported on filter type ${other.getClass.getSimpleName}")
        }
      }
    case x => throw new IllegalArgumentException(s"bad filter json $x")
  }

  private def children(obj: JObject, key: String): Seq[DimFilter] =
    (obj \ key) match {
      case JArray(xs) => xs.map(fromJson)
      case _ => Nil
    }
}

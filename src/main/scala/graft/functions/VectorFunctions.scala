package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{toColumn, toExpr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Vector primitives for the similarity operators. */
object VectorFunctions {

  /** All hyperplane-LSH table signatures for a double vector in ONE
    * pass: the inner loop walks the vector once and accumulates every
    * (table × plane) dot product — versus evaluating tables × planes
    * separate fold expressions (which made the LSH bucketing the
    * dominant cost of embedding dedup). Output: array<string> of
    * "t:bitstring" bucket keys, one per table.
    *
    * The hyperplanes are derived deterministically from `seed` and the
    * vector dimension at eval time (java.util.Random's specified
    * gaussian sequence), so no driver-side pass over the data is
    * needed to size them — the dimension is read off the first row
    * each executor sees and the matrix is cached per instance. */
  def hyperplaneBuckets(vec: Column, seed: Long,
                        numTables: Int, numPlanes: Int): Column =
    toColumn(HyperplaneBuckets(toExpr(vec), seed, numTables, numPlanes))

  /** Nearest-centroid cell id for a vector — the IVF assignment as ONE
    * fused per-row argmax over the (bounded, driver-collected) centroid
    * table. Replaces the broadcast-NLJ × centroids + `groupBy(n_id)`
    * argmax form, whose Exchange re-shuffled the ENTIRE corpus
    * (vectors included) to merge groups of size one — at 100 TB a
    * full-corpus shuffle per assignment pass. This form is a pure
    * projection: no join, no Exchange. Tie-break matches the old
    * `max_by(c_id, struct(cos, -c_id))`: cosine desc, then c_id asc.
    * `cellIds` must be sorted ascending. */
  def nearestCell(vec: Column, cellIds: Seq[Long], cellVecs: Seq[Seq[Double]]): Column =
    toColumn(NearestCell(toExpr(vec), cellIds, cellVecs))

  /** Sign random projection (see [[SignProjection]]). */
  def signProjection(vec: Column, k: Int, seed: Long = 0L): Column =
    toColumn(SignProjection(toExpr(vec), k, seed))
}

/** Johnson–Lindenstrauss sign random projection: dim-D float/double
  * vector → k-dim double vector, `y[j] = (1/√k) · Σ_d s(j,d) · v[d]`
  * with `s(j,d) ∈ {±1}` the low bit of `splitmix64(seed + j·65536 + d)`
  * (Steele/Lea/Flood 2014 — public mixing constants). Projection-
  * matrix-free: signs derive from the hash at eval time, so nothing is
  * broadcast and any executor reproduces the identical matrix. The
  * (j, d) packing gives each output coordinate a 65536-wide hash lane,
  * so input dimension must be < 65536 (enforced; beyond it lanes would
  * overlap and coordinates silently correlate).
  *
  * Accumulation is d-ascending per output coordinate and every term is
  * an exact IEEE op (±1 multiply, sequential adds, power-of-two 1/√k
  * when k is an even power of two), so the DuckDB oracle replays the
  * EXACT doubles (splitmix64 in HUGEINT mod 2^64). One pass, O(dim·k)
  * per row, zero shuffle. */
case class SignProjection(child: Expression, k: Int, seed: Long)
  extends UnaryExpression {
  require(k > 0, "k must be positive")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // lazy: child.dataType is unresolvable at construction time
  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private val scale: Double = 1.0 / math.sqrt(k.toDouble)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("signProj", this, classOf[SignProjection].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): ArrayData = {
    val dim = arr.numElements()
    // The hash input packs (j, d) as seed + j·65536 + d; at dim ≥ 65536
    // the pairs (j, d) and (j+1, d−65536) would collide and silently
    // correlate output coordinates. Refuse rather than degrade.
    require(dim < 65536,
      s"sign_projection supports input dimension < 65536, got $dim")
    val out = new Array[Double](k)
    var d = 0
    while (d < dim) {
      val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
      var j = 0
      while (j < k) {
        val h = SignProjection.mix64(seed + j * 65536L + d)
        out(j) += (if ((h & 1L) == 1L) x else -x)
        j += 1
      }
      d += 1
    }
    var j = 0
    while (j < k) { out(j) *= scale; j += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): SignProjection =
    copy(child = c)
}

object SignProjection {
  /** splitmix64 finalizer+stream increment (public constants). */
  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

case class NearestCell(
    child: Expression,
    cellIds: Seq[Long],
    cellVecs: Seq[Seq[Double]])
  extends UnaryExpression {

  require(cellIds.nonEmpty && cellIds.length == cellVecs.length,
    s"need matching non-empty centroid ids/vectors, got ${cellIds.length}/${cellVecs.length}")

  override def dataType: DataType = LongType

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_cell needs array<double>, got ${other.simpleString(10)}")
    }

  @transient private lazy val ids: Array[Long] = cellIds.toArray
  @transient private lazy val vecs: Array[Array[Double]] = cellVecs.map(_.toArray).toArray

  /** Same double ordering Spark's max_by used on the struct key:
    * -0.0 == 0.0, NaN greater than everything (SQL total order). */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a > b) 1 else if (a < b) -1
    else {
      val an = java.lang.Double.isNaN(a); val bn = java.lang.Double.isNaN(b)
      if (an == bn) 0 else if (an) 1 else -1
    }

  /** Public so generated code can call it via a reference object —
    * the centroid loop stays one virtual call inside whole-stage
    * codegen; its cells × dim multiply-adds dominate the call cost. */
  def assign(v: ArrayData): Long = {
    var bestId = 0L
    var bestCos = java.lang.Double.NEGATIVE_INFINITY
    var first = true
    val n = v.numElements()
    var cIdx = 0
    while (cIdx < vecs.length) {
      val cv = vecs(cIdx)
      // a prefix cosine would route a wrong-size vector silently
      if (n != cv.length) throw new IllegalArgumentException(
        s"nearest_cell: cannot assign a $n-d vector — the centroid table stores ${cv.length}-d vectors")
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = v.getDouble(i); val yi = cv(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      val cos = dot / (math.sqrt(nx) * math.sqrt(ny))
      // ids ascend, so strict > keeps the LOWEST id on ties
      if (first || cmpDouble(cos, bestCos) > 0) {
        bestCos = cos; bestId = ids(cIdx); first = false
      }
      cIdx += 1
    }
    bestId
  }

  override def nullSafeEval(v: Any): Any = assign(v.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode):
      org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("nearestCell", this, classOf[NearestCell].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.assign($x);")
  }

  override protected def withNewChildInternal(c: Expression): NearestCell = copy(child = c)
}

case class HyperplaneBuckets(
    child: Expression,
    seed: Long,
    numTables: Int,
    numPlanes: Int)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // Lazily-built (numTables*numPlanes) × dim plane matrix. Each task
  // deserializes its own expression instance, and a racing rebuild
  // computes identical values (pure function of seed × dim), so the
  // unsynchronized cache is benign. Vectors of differing dims within
  // one dataset get per-dim plane sets — their buckets simply never
  // collide, which is correct (cross-dim cosine is undefined anyway).
  @transient private var cachedDim: Int = -1
  @transient private var cachedPlanes: Array[Array[Double]] = _

  private def planesFor(dim: Int): Array[Array[Double]] = {
    if (cachedDim != dim) {
      val rng = new java.util.Random(seed)
      cachedPlanes = Array.fill(numTables * numPlanes, dim)(rng.nextGaussian())
      cachedDim = dim
    }
    cachedPlanes
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val planes = planesFor(dim)
    val nAll = numTables * numPlanes
    val dots = new Array[Double](nAll)
    var d = 0
    while (d < dim) {
      val x = arr.getDouble(d)
      var p = 0
      while (p < nAll) {
        dots(p) += x * planes(p)(d)
        p += 1
      }
      d += 1
    }
    val out = new Array[AnyRef](numTables)
    var t = 0
    while (t < numTables) {
      val sb = new java.lang.StringBuilder(numPlanes + 4)
      sb.append(t).append(':')
      var p = 0
      while (p < numPlanes) {
        sb.append(if (dots(t * numPlanes + p) >= 0) '1' else '0')
        p += 1
      }
      out(t) = UTF8String.fromString(sb.toString)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneBuckets = copy(child = c)
}

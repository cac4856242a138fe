package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{toColumn, toExpr}
import org.apache.spark.sql.types._

/** Hard-capped per-group value collection for the LSH bucket id lists
  * that are joined or persisted (cross-corpus MinHash, the persisted
  * MinHash index's build, probe and compaction); in-corpus bucket
  * pairs come from sorted runs instead (`Dedup.bucketPairs`).
  *
  * `collect_list` + a post-hoc size filter drops oversized buckets from
  * the PAIR space but only after materializing the full list in the
  * aggregation buffer — at 100 TB one degenerate bucket (an empty-text
  * band key, a mass-duplicated boilerplate shingle) can hold 10⁸ ids
  * and OOM an executor before the filter ever sees it. This aggregate
  * enforces the cap inside the buffer: once a group exceeds `cap`
  * occurrences it saturates at cap+1 stored values, further inputs are
  * discarded, merges of saturated partials stay saturated, and the
  * final value is NULL (= "bucket dropped", exactly the post-filter
  * semantics) — so buffer memory is O(cap) regardless of skew, with no
  * separate bucket-size pre-pass.
  */
object BoundedCollect {

  /** Collect up to `cap` LONG values per group (sorted ascending);
    * NULL for groups with more than `cap` values. */
  def bounded_long_list(c: Column, cap: Int): Column =
    toColumn(BoundedLongList(toExpr(c), cap).toAggregateExpression())
}

/** Growable long buffer with a saturation point at cap+1 elements. */
final class BoundedLongBuf(var arr: Array[Long], var n: Int) {
  def add(v: Long, cap: Int): Unit = {
    if (n <= cap) { // store up to cap+1 values; cap+1st marks overflow
      if (n == arr.length) {
        val na = new Array[Long](math.min(math.max(arr.length * 2, 8), cap + 1))
        System.arraycopy(arr, 0, na, 0, n)
        arr = na
      }
      arr(n) = v
      n += 1
    }
  }
}

case class BoundedLongList(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedLongBuf] with UnaryLike[Expression] {

  require(cap >= 1, "cap must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): BoundedLongBuf =
    new BoundedLongBuf(new Array[Long](8), 0)

  override def update(buffer: BoundedLongBuf, input: InternalRow): BoundedLongBuf = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long], cap)
    buffer
  }

  override def merge(buffer: BoundedLongBuf, other: BoundedLongBuf): BoundedLongBuf = {
    var i = 0
    while (i < other.n && buffer.n <= cap) {
      buffer.add(other.arr(i), cap)
      i += 1
    }
    buffer
  }

  override def eval(buffer: BoundedLongBuf): Any =
    if (buffer.n > cap) null
    else {
      val out = java.util.Arrays.copyOf(buffer.arr, buffer.n)
      java.util.Arrays.sort(out)
      new GenericArrayData(out)
    }

  override def serialize(buffer: BoundedLongBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buffer.n)
    bb.putInt(buffer.n)
    var i = 0
    while (i < buffer.n) { bb.putLong(buffer.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BoundedLongBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val arr = new Array[Long](math.max(n, 8))
    var i = 0
    while (i < n) { arr(i) = bb.getLong; i += 1 }
    new BoundedLongBuf(arr, n)
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedLongList =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedLongList =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BoundedLongList =
    copy(child = c)
}

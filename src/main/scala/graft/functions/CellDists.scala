package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Squared-L2 distances of one (sub)vector against a codebook group of
  * an executor-broadcast [[CellTable]], in one primitive loop: the
  * [[CellSims]] sibling behind [[graft.llm.Quant]]'s PQ training and
  * encode argmin (`dists[j] = Σ (vec[i] − c_j[i])²`, the same
  * left-to-right fold as the `zip_with` subDist; CellKernelsSpec pins
  * the parity).
  *
  * Null semantics: null vector or null element → null; a centroid whose
  * length mismatches → that entry null; a group id absent from the
  * table → null.
  */
case class CellDists(left: Expression, right: Expression,
                     table: Broadcast[CellTable])
  extends BinaryExpression with CodegenFallback {

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def vecOk(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (vecOk(left.dataType) && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "cell_dists expects (array<float>|array<double>, int), got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cells", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("dists", ArrayType(DoubleType, containsNull = true),
      nullable = false)))

  override def nullable: Boolean = true

  @transient private lazy val groups = table.value.groups

  override protected def nullSafeEval(vecAny: Any, grpAny: Any): Any = {
    groups.get(grpAny.asInstanceOf[Int]) match {
      case None => null
      case Some(g) =>
        val cents = g.cents
        val v = vecAny.asInstanceOf[ArrayData]
        val n = v.numElements()
        var i = 0
        while (i < n) { if (v.isNullAt(i)) return null; i += 1 }
        val x = new Array[Double](n)
        val isF = elemType == FloatType
        i = 0
        while (i < n) {
          x(i) = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
          i += 1
        }
        val k = cents.length
        val dists = new Array[Any](k)
        var j = 0
        while (j < k) {
          val c = cents(j)
          if (c.length != n) dists(j) = null
          else {
            var s = 0.0
            var t = 0
            while (t < n) { val d = x(t) - c(t); s += d * d; t += 1 }
            dists(j) = s
          }
          j += 1
        }
        InternalRow(g.cells, new GenericArrayData(dists))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cell_dists"
}

object CellDists {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column API. */
  def dists(vec: Column, grp: Column, table: Broadcast[CellTable]): Column =
    ColumnBridge.column(CellDists(
      ColumnBridge.expression(vec), ColumnBridge.expression(grp), table))
}

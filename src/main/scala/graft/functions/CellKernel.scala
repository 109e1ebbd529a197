package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Scores of one vector against a centroid group of an
  * executor-broadcast [[CellTable]], in one primitive loop: the per-row
  * kernel behind every centroid assignment in [[graft.llm.Ivf]] (cosine,
  * plan name `cell_sims`) and [[graft.llm.Quant]]'s PQ codes (squared
  * L2, plan name `cell_dists`).
  *
  * For a row `(vec, grp)` the result is
  * `struct(cells: array<int>, sims|dists: array<double>)` over the
  * group's entries, computed by [[CellTable.Group.scores]]. Every fold
  * runs left-to-right in double exactly like the
  * `aggregate(zip_with(...))` built-in formulations ([[graft.llm.Ann.dot]]
  * and the PQ `subDist`), so the downstream round(·, 9) fold sees
  * bit-identical inputs (CellKernelsSpec pins the parity against the
  * broadcast-join argmax and the `zip_with` distance).
  *
  * Null semantics: null vector or null element → null; a centroid whose
  * length mismatches the vector → that entry's score is null; a group id
  * absent from the table → null.
  *
  * Why an expression and not `aggregate` over the centroids: HOF lambdas
  * evaluate interpreted per ELEMENT and re-evaluate embedded subtrees
  * per reference (measured 13× slower than a broadcast-join assign).
  * This kernel is one compiled k·d loop per row; the argmax/argmin stays
  * in (cheap, scalar) SQL so the round/tiebreak semantics are Spark's
  * own. The plan carries only the broadcast handle.
  */
case class CellKernel(left: Expression, right: Expression,
                      table: Broadcast[CellTable], metric: CellTable.Metric)
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
      s"$prettyName expects (array<float>|array<double>, int), got " +
        s"${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cells", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField(metric.field, ArrayType(DoubleType, containsNull = true),
      nullable = false)))

  override def nullable: Boolean = true

  @transient private lazy val groups = table.value.groups

  override protected def nullSafeEval(vecAny: Any, grpAny: Any): Any = {
    groups.get(grpAny.asInstanceOf[Int]) match {
      case None => null
      case Some(g) =>
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
        InternalRow(g.cells, new GenericArrayData(g.scores(x, metric)))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = metric.kernel
}

object CellKernel {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column API: `metric` scores of `vec` against group `grp`. */
  def column(vec: Column, grp: Column, table: Broadcast[CellTable],
             metric: CellTable.Metric): Column =
    ColumnBridge.column(CellKernel(
      ColumnBridge.expression(vec), ColumnBridge.expression(grp), table, metric))
}

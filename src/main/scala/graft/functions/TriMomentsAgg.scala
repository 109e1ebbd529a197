package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One-pass upper-triangle second moments over a quantized vector
  * column: `sums[p] = Σ_rows q[i]·q[j]` for the row-major upper
  * triangle (i ≤ j), plus the contributing row count — the fused form
  * of [[graft.llm.EmbeddingOps.secondMoments]]'s d(d+1)/2-struct
  * per-row explode into a decimal hash aggregate (the
  * [[CkaMomentsAgg]] recipe: a primitive multiply-add loop per row
  * over an [[ExactMomentsAgg]] buffer, which fails loudly on overflow
  * where decimal had silent headroom). Rows with a null
  * array contribute nothing (explode-of-null semantics); zero
  * contributing rows → null (the caller filters to an empty frame,
  * matching the aggregate-over-empty-explode shape). A length
  * mismatch throws — upstream checkedVec raises first in practice.
  */
case class TriMomentsAgg(
    q: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ExactMomentsAgg {

  protected def bufLen: Int = 1 + dim * (dim + 1) / 2

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    q.dataType match {
      case ArrayType(LongType, _) if dim >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"tri_moments needs array<bigint> and dim >= 1, got ${q.dataType.sql}, dim=$dim")
    }
  }

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val xa = q.eval(input)
    if (xa == null) return buffer
    val x = ExactMomentsAgg.longs(xa.asInstanceOf[ArrayData], "tri_moments",
      "the vector")
    if (x.length != dim)
      throw new IllegalStateException(
        s"tri_moments: vector length ${x.length} != dim $dim")
    buffer(0) = Math.addExact(buffer(0), 1L)
    ExactMomentsAgg.addUpperTriangle(buffer, 1, x)
    buffer
  }

  override def eval(buffer: Array[Long]): Any = {
    if (buffer(0) == 0L) return null
    InternalRow(buffer(0),
      new GenericArrayData(java.util.Arrays.copyOfRange(buffer, 1, bufLen)))
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType),
    StructField("sums", ArrayType(LongType, containsNull = false))))
  override def children: Seq[Expression] = Seq(q)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(q = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): TriMomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TriMomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "tri_moments"
}

object TriMomentsAgg {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column API: struct(n, sums) with sums the row-major upper
    * triangle of Σ q_i·q_j.
    */
  def triMoments(q: Column, dim: Int): Column =
    ColumnBridge.column(
      TriMomentsAgg(ColumnBridge.expression(q), dim).toAggregateExpression())
}

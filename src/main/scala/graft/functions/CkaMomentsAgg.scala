package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** One-pass linear-CKA scatter moments over two quantized vector
  * columns — the fused form of [[graft.llm.EmbeddingOps.linearCka]]'s
  * second pass. Per row it accumulates ALL dx·dy + dx(dx+1)/2 +
  * dy(dy+1)/2 second-moment products into one mutable Long buffer
  * (exact integer sums — order-independent like the decimal
  * formulation it replaces), instead of exploding that many struct
  * rows per vector through a hash aggregate (measured at sf0.1:
  * 2,000 × 8,256 = 16.5 M exploded rows, 10.5 s; this kernel is one
  * 8,256-slot multiply-add loop per row).
  *
  * eval() centers each cell with the collected first moments
  * (n·Sab − Sa·Sb in BigInteger — the decimal(38,0) headroom — cast
  * to double per cell exactly like the SQL form) and folds the three
  * Frobenius sums; the caller keeps the final hxy/√(hxx·hyy) and
  * round(,6) in SQL. Summation order of the (already-double) cell
  * terms differs from the hash-aggregate plan's partial-merge order —
  * both are absorbed by the round(,6) contract (the linearCka
  * scaladoc's stance). The [[ExactMomentsAgg]] buffer uses
  * addExact/multiplyExact, so integer overflow fails LOUDLY like the
  * ANSI decimal path instead of wrapping.
  *
  * Null semantics: a row with either array null contributes nothing
  * (the flatten(array(...)) explode form dropped such rows from all
  * three families at once); zero contributing rows → null result
  * (matches aggregating over an empty cells frame). A length mismatch
  * throws — upstream checkedVec raises first in practice.
  */
case class CkaMomentsAgg(
    qx: Expression, qy: Expression,
    dimX: Int, dimY: Int,
    sx: IndexedSeq[Long], sy: IndexedSeq[Long],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ExactMomentsAgg {

  private def triLen(d: Int) = d * (d + 1) / 2
  // buffer layout: [0] = n rows, then xy sums (i-major dx·dy), then
  // xx upper-triangle (i ≤ j, row-major), then yy upper-triangle
  protected def bufLen: Int = 1 + dimX * dimY + triLen(dimX) + triLen(dimY)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (!ok(qx.dataType) || !ok(qy.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"cka_moments needs two array<bigint> columns, got " +
          s"${qx.dataType.sql}, ${qy.dataType.sql}")
    else if (dimX < 1 || dimY < 1 || sx.length != dimX || sy.length != dimY)
      TypeCheckResult.TypeCheckFailure(
        s"cka_moments dims/first-moments mismatch: dimX=$dimX (sx ${sx.length}), dimY=$dimY (sy ${sy.length})")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val xa = qx.eval(input)
    val ya = qy.eval(input)
    if (xa == null || ya == null) return buffer
    val x = ExactMomentsAgg.longs(xa.asInstanceOf[ArrayData], "cka_moments", "x")
    val y = ExactMomentsAgg.longs(ya.asInstanceOf[ArrayData], "cka_moments", "y")
    if (x.length != dimX || y.length != dimY)
      throw new IllegalStateException(
        s"cka_moments: vector lengths (${x.length}, ${y.length}) != dims ($dimX, $dimY)")
    buffer(0) = Math.addExact(buffer(0), 1L)
    var p = 1
    var i = 0
    while (i < dimX) {
      val xi = x(i)
      var j = 0
      while (j < dimY) {
        buffer(p) = Math.addExact(buffer(p), Math.multiplyExact(xi, y(j)))
        p += 1; j += 1
      }
      i += 1
    }
    ExactMomentsAgg.addUpperTriangle(buffer,
      ExactMomentsAgg.addUpperTriangle(buffer, p, x), y)
    buffer
  }

  override def eval(buffer: Array[Long]): Any = {
    val n = buffer(0)
    if (n == 0L) return null
    val bn = BigInteger.valueOf(n)
    // c = (n·S − Sa·Sb) exactly, then ONE cast to double per cell —
    // identical per-cell value to the decimal SQL form; weight 2 for
    // off-diagonal triangle cells applied as (w·c)·c like the SQL
    def cell(s: Long, a: Long, b: Long): Double =
      bn.multiply(BigInteger.valueOf(s))
        .subtract(BigInteger.valueOf(a).multiply(BigInteger.valueOf(b)))
        .doubleValue()
    var p = 1
    var hxy = 0.0
    var i = 0
    while (i < dimX) {
      var j = 0
      while (j < dimY) {
        val c = cell(buffer(p), sx(i), sy(j)); hxy += c * c
        p += 1; j += 1
      }
      i += 1
    }
    var hxx = 0.0
    i = 0
    while (i < dimX) {
      var j = i
      while (j < dimX) {
        val c = cell(buffer(p), sx(i), sx(j))
        val w = if (i == j) 1.0 else 2.0
        hxx += (w * c) * c
        p += 1; j += 1
      }
      i += 1
    }
    var hyy = 0.0
    i = 0
    while (i < dimY) {
      var j = i
      while (j < dimY) {
        val c = cell(buffer(p), sy(i), sy(j))
        val w = if (i == j) 1.0 else 2.0
        hyy += (w * c) * c
        p += 1; j += 1
      }
      i += 1
    }
    InternalRow(n, hxy, hxx, hyy)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType), StructField("hxy", DoubleType),
    StructField("hxx", DoubleType), StructField("hyy", DoubleType)))
  override def children: Seq[Expression] = Seq(qx, qy)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(qx = newChildren(0), qy = newChildren(1))
  override def withNewMutableAggBufferOffset(newOffset: Int): CkaMomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CkaMomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "cka_moments"
}

object CkaMomentsAgg {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column API: struct(n, hxy, hxx, hyy) for the group. */
  def ckaMoments(qx: Column, qy: Column, dimX: Int, dimY: Int,
                 sx: IndexedSeq[Long], sy: IndexedSeq[Long]): Column =
    ColumnBridge.column(
      CkaMomentsAgg(ColumnBridge.expression(qx), ColumnBridge.expression(qy),
        dimX, dimY, sx, sy).toAggregateExpression())
}

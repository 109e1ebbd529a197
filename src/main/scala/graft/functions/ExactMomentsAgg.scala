package graft.functions

import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData

/** The exact-Long buffer of the fused moment aggregates
  * ([[TriMomentsAgg]], [[CkaMomentsAgg]]): slot 0 counts the
  * contributing rows, every other slot is an exact Long sum of
  * products. Merge uses addExact, so integer overflow fails LOUDLY
  * instead of wrapping.
  */
private[functions] abstract class ExactMomentsAgg extends TypedImperativeAggregate[Array[Long]] {

  protected def bufLen: Int

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bufLen)

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < bufLen) {
      buffer(i) = Math.addExact(buffer(i), other(i))
      i += 1
    }
    buffer
  }

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(storageFormat: Array[Byte]): Array[Long] = {
    val out = new Array[Long](storageFormat.length / 8)
    java.nio.ByteBuffer.wrap(storageFormat).asLongBuffer().get(out)
    out
  }

  override def nullable: Boolean = true
}

private[functions] object ExactMomentsAgg {

  /** The elements of a non-null vector as Longs. toLongArray on
    * UnsafeArrayData copies raw memory, reading null elements as 0
    * SILENTLY — scan first so the loud-failure contract also covers
    * null-element vectors.
    */
  def longs(a: ArrayData, op: String, which: String): Array[Long] = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) throw new IllegalStateException(
        s"$op: null element at index $i of $which (elements must be non-null)")
      i += 1
    }
    a.toLongArray()
  }

  /** Adds the row-major upper triangle (i ≤ j) of x·xᵀ into `buffer`
    * from slot `p0` with multiplyExact/addExact; returns the next slot.
    */
  def addUpperTriangle(buffer: Array[Long], p0: Int, x: Array[Long]): Int = {
    var p = p0
    var i = 0
    while (i < x.length) {
      val xi = x(i)
      var j = i
      while (j < x.length) {
        buffer(p) = Math.addExact(buffer(p), Math.multiplyExact(xi, x(j)))
        p += 1; j += 1
      }
      i += 1
    }
    p
  }
}

package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** The centroid table behind [[CellSims]] and [[CellDists]], already in
  * the form the kernels read. For each group id (level-1 cell for the
  * two-level leaf assign, subspace for PQ, 0 for a flat quantizer) it
  * holds the group's cell ids ascending, their centroids as primitive
  * arrays and each centroid's l2 norm.
  *
  * The table reaches the executors as a [[Broadcast]] value, like the
  * [[SetOverlapBroadcast]] set and the [[BloomProbeBroadcast]] filter:
  * the plan carries only the handle, and the table moves and
  * deserializes once per executor. A plan literal would instead ride
  * every task binary and be deserialized once per task, so a quantizer
  * of any size takes this one path.
  *
  * A table built with [[CellTable.apply]] and never broadcast serves the
  * driver-side assignment of a sample-trained quantizer
  * ([[graft.llm.Ivf.fitTwoLevel]]); it runs the same [[CellTable.Group.sims]]
  * loop as the kernel, so both sides see bit-identical similarities.
  */
final class CellTable private (
    private[graft] val groups: Map[Int, CellTable.Group])
  extends Serializable

object CellTable {

  /** One group: shared immutable cell-id ArrayData (every result row
    * reuses it), centroids, and their norms.
    */
  private[graft] final class Group(
      val cells: GenericArrayData,
      val cents: Array[Array[Double]],
      val norms: Array[Double]) extends Serializable {

    /** Cosine similarity of `x` against each of the group's centroids, in
      * cell order: `Σ x[i]·c[i] / (‖x‖ · ‖c‖)`, every fold left-to-right
      * in double exactly like [[graft.llm.Ann.dot]] and
      * [[graft.llm.Ann.l2norm]]. A centroid whose length differs from
      * `x` gets a null entry.
      */
    def sims(x: Array[Double]): Array[Any] = {
      val n = x.length
      var vnAcc = 0.0
      var i = 0
      while (i < n) { vnAcc += x(i) * x(i); i += 1 }
      val vn = math.sqrt(vnAcc)
      val k = cents.length
      val out = new Array[Any](k)
      var j = 0
      while (j < k) {
        val c = cents(j)
        if (c.length != n) out(j) = null
        else {
          var s = 0.0
          var t = 0
          while (t < n) { s += x(t) * c(t); t += 1 }
          out(j) = s / (vn * norms(j))
        }
        j += 1
      }
      out
    }
  }

  /** A table given as `(group, cell, centroid)` rows. Each group's
    * entries are sorted by cell id here, so the callers' ascending
    * argmax/argmin folds keep the lowest cell on ties. Norms use the
    * same left-to-right fold as [[graft.llm.Ann.l2norm]], so they are
    * bit-identical to the column form.
    */
  def apply(rows: Seq[(Int, Int, Seq[Double])]): CellTable =
    new CellTable(rows.groupBy(_._1).map { case (g, entries) =>
      val sorted = entries.sortBy(_._2)
      val cents = sorted.map(_._3.toArray).toArray
      g -> new Group(new GenericArrayData(sorted.map(_._2).toArray), cents,
        cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))))
    })

  /** Broadcast a table given as `(group, cell, centroid)` rows. */
  def broadcast(spark: SparkSession,
                rows: Seq[(Int, Int, Seq[Double])]): Broadcast[CellTable] =
    spark.sparkContext.broadcast(apply(rows))

  /** [[broadcast]] for a frame that is collected inside `f` (a Lloyd
    * step): the table is destroyed as soon as `f` returns instead of
    * waiting for the ContextCleaner, so an iterative fit holds one
    * table at a time.
    */
  def scoped[T](spark: SparkSession, rows: Seq[(Int, Int, Seq[Double])])
               (f: Broadcast[CellTable] => T): T = {
    val table = broadcast(spark, rows)
    try f(table) finally table.destroy()
  }
}

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
  */
final class CellTable private (
    private[functions] val groups: Map[Int, CellTable.Group])
  extends Serializable

object CellTable {

  /** One group: shared immutable cell-id ArrayData (every result row
    * reuses it), centroids, and their norms.
    */
  private[functions] final class Group(
      val cells: GenericArrayData,
      val cents: Array[Array[Double]],
      val norms: Array[Double]) extends Serializable

  /** Broadcast a table given as `(group, cell, centroid)` rows. Each
    * group's entries are sorted by cell id here, so the callers'
    * ascending argmax/argmin folds keep the lowest cell on ties. Norms
    * use the same left-to-right fold as [[graft.llm.Ann.l2norm]], so
    * they are bit-identical to the column form.
    */
  def broadcast(spark: SparkSession,
                rows: Seq[(Int, Int, Seq[Double])]): Broadcast[CellTable] =
    spark.sparkContext.broadcast(new CellTable(rows.groupBy(_._1).map {
      case (g, entries) =>
        val sorted = entries.sortBy(_._2)
        val cents = sorted.map(_._3.toArray).toArray
        g -> new Group(new GenericArrayData(sorted.map(_._2).toArray), cents,
          cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))))
    }))

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

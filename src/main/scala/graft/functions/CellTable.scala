package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** The centroid table behind [[CellKernel]], already in the form the
  * kernel reads. For each group id (level-1 cell for the two-level leaf
  * assign, subspace for PQ, 0 for a flat quantizer) it holds the group's
  * cell ids ascending, their centroids as primitive arrays and each
  * centroid's l2 norm.
  *
  * The table reaches the executors as a [[Broadcast]] value, like the
  * [[SetOverlapBroadcast]] set and the [[BloomProbeBroadcast]] filter:
  * the plan carries only the handle, and the table moves and
  * deserializes once per executor. A plan literal would instead ride
  * every task binary and be deserialized once per task, so a quantizer
  * of any size takes this one path.
  *
  * A table built with [[CellTable.apply]] and never broadcast serves the
  * driver-side Lloyd sweeps of every quantizer ([[graft.llm.Ivf.fit]],
  * [[graft.llm.Ivf.fitTwoLevel]], [[graft.llm.Quant.pqFit]]); they run
  * the same [[CellTable.Group.scores]] loop as the kernel, so both sides
  * see bit-identical scores.
  */
final class CellTable private (
    private[graft] val groups: Map[Int, CellTable.Group])
  extends Serializable

object CellTable {

  /** How a vector is scored against a centroid, and which score wins
    * the assignment: `kernel` is the [[CellKernel]] plan name, `field`
    * its score array, `highestWins` the direction of the fold over
    * round(score, 9).
    */
  sealed abstract class Metric(val kernel: String, val field: String,
                               val highestWins: Boolean) extends Serializable

  /** Cosine similarity; the highest wins (the IVF quantizers). */
  case object Cosine extends Metric("cell_sims", "sims", highestWins = true)

  /** Squared L2 distance; the lowest wins (the PQ codebooks). */
  case object SquaredL2 extends Metric("cell_dists", "dists", highestWins = false)

  /** One group: shared immutable cell-id ArrayData (every result row
    * reuses it), centroids, and their norms.
    */
  private[graft] final class Group(
      val cells: GenericArrayData,
      val cents: Array[Array[Double]],
      val norms: Array[Double]) extends Serializable {

    /** `metric` scores of `x` against each of the group's centroids, in
      * cell order, every fold left-to-right in double: the cosine
      * `Σ x[i]·c[i] / (‖x‖ · ‖c‖)` exactly like [[graft.llm.Ann.dot]] and
      * [[graft.llm.Ann.l2norm]], the squared L2 `Σ (x[i] − c[i])²`
      * exactly like the PQ `zip_with` distance. A centroid whose length
      * differs from `x` gets a null entry.
      */
    def scores(x: Array[Double], metric: Metric): Array[Any] = {
      val n = x.length
      val cosine = metric == Cosine
      var vnAcc = 0.0
      var i = 0
      if (cosine) while (i < n) { vnAcc += x(i) * x(i); i += 1 }
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
          if (cosine) {
            while (t < n) { s += x(t) * c(t); t += 1 }
            out(j) = s / (vn * norms(j))
          } else {
            while (t < n) { val d = x(t) - c(t); s += d * d; t += 1 }
            out(j) = s
          }
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
}

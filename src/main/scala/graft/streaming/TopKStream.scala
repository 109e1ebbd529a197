package graft.streaming

import graft.llm.Sketch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained heavy-hitter top-k over an unbounded key
  * stream — the classic CMS + bounded-candidate construction: the
  * [[SketchStream]] grid carries (approximate, cumulative) counts for
  * EVERY key in kilobytes of state, and a small persistent candidate
  * table carries the keys currently believed hot. Each micro-batch:
  *
  *   1. fold the batch into the grid ([[SketchStream.applyBatch]] —
  *      inherits its replay marker and crash-safe swap);
  *   2. re-estimate (stored candidates ∪ batch's distinct keys)
  *      against the UPDATED grid and keep the `candidateCap` best by
  *      (estimate desc, key asc) — written through the same
  *      [[ReplayGuard.fold]], without a marker.
  *
  * Replay safety needs NO second marker: the grid fold skips a
  * replayed batch, so the candidate refresh re-runs as a pure function
  * of (unchanged grid, same candidate ∪ batch-key set) and rewrites
  * the identical table — idempotent by construction.
  *
  * Approximation contract: estimates are CMS upper bounds (one-sided
  * error εN with the usual depth/width trade); a key can leave the
  * candidate set while cold and re-enters with its FULL cumulative
  * estimate on its next appearance — the only permanent miss is a key
  * that never appears again after eviction, the standard bounded-space
  * trade. `candidateCap` > k (default 4×) pads against churn at the
  * boundary. Per batch the shuffle carries depth×width cells plus the
  * candidate-set estimate probe — independent of batch size.
  */
object TopKStream {

  /** Fold one batch into grid + candidates (see object doc). */
  def applyBatch(batch: DataFrame, keyCol: String, gridPath: String,
                 candPath: String, candidateCap: Int = 32,
                 depth: Int = 4, width: Int = 256,
                 batchId: Long = -1L, queryId: String = ""): Unit = {
    require(candidateCap >= 1, s"candidateCap must be >= 1: $candidateCap")
    val spark = batch.sparkSession
    SketchStream.applyBatch(batch, keyCol, gridPath, depth, width,
      batchId, queryId)
    // no marker on the candidates (batchId -1): the refresh is a pure
    // function of the grid, so a replay rewrites the identical table
    ReplayGuard.fold(spark, candPath, -1L, "") { prior =>
      val stored = prior.fold(batch.select(col(keyCol)).limit(0))(
        _.select(col(keyCol)))
      val probe = stored.unionByName(batch.select(col(keyCol)))
        .filter(col(keyCol).isNotNull).distinct()
      Sketch.cmsEstimate(spark.read.parquet(gridPath), probe, keyCol,
        depth, width)
        .orderBy(col("est").desc, col(keyCol).asc)
        .limit(candidateCap)
    }
  }

  /** The current top-k view over the maintained candidate table. */
  def topK(spark: SparkSession, candPath: String, keyCol: String,
           k: Int): DataFrame =
    spark.read.parquet(candPath)
      .orderBy(col("est").desc, col(keyCol).asc)
      .limit(k)

  /** Wire a key stream into the maintained top-k (foreachBatch). */
  def run(items: DataFrame, keyCol: String, gridPath: String,
          candPath: String, checkpointDir: String,
          candidateCap: Int = 32, depth: Int = 4, width: Int = 256,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(items, checkpointDir, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, keyCol, gridPath, candPath, candidateCap,
        depth, width, batchId, qid)
    }
}

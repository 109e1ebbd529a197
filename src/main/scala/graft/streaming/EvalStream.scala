package graft.streaming

import graft.llm.Evals
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained calibration state: each micro-batch's
  * (confidence, label) stream folds into a persistent per-bin integer
  * cell frame ([[Evals.calibrationCells]] merged by per-bin addition),
  * promoted through [[ReplayGuard.fold]] — the always-on reliability
  * monitor for a quality/reward scorer in a live curation pipeline.
  *
  * Exactness across batchings: the cells are a commutative monoid, so
  * the incrementally-maintained state is BIT-IDENTICAL to the one-shot
  * cells over the concatenated stream — q_stream_calibration maintains
  * them through a 3-way corpus split and still compares against the
  * one-shot SQL replay. Scale: a batch shuffles at most nBins cells
  * (the groupBy collapses per partition before the exchange) and the
  * persistent state is nBins rows at ANY corpus scale.
  *
  * Replay and crash safety are [[ReplayGuard.fold]]'s: cell addition
  * is not idempotent, so its marker skips a replayed batch.
  */
object EvalStream {

  /** Fold one batch of (confMilliCol, labelCol) rows into the per-bin
    * state at `statePath` (missing state = empty) through
    * [[ReplayGuard.fold]].
    */
  def applyBatch(batch: DataFrame, confMilliCol: String, labelCol: String,
                 statePath: String, nBins: Int = 10,
                 batchId: Long = -1L, queryId: String = ""): Unit =
    ReplayGuard.fold(batch.sparkSession, statePath, batchId, queryId) { prior =>
      val cells = Evals.calibrationCells(batch, confMilliCol, labelCol, nBins)
      prior.fold(cells)(Evals.calibrationMerge(_, cells))
    }

  /** The current reliability diagram + ECE from the persisted cells. */
  def readBins(spark: org.apache.spark.sql.SparkSession,
               statePath: String): DataFrame =
    Evals.calibrationFromCells(spark.read.parquet(statePath))

  /** Wire a scored stream into the state: foreachBatch + the fold
    * above; `Trigger.AvailableNow` drains what exists and stops.
    */
  def run(scored: DataFrame, confMilliCol: String, labelCol: String,
          statePath: String, checkpoint: String,
          nBins: Int = 10): StreamingQuery =
    ReplayGuard.drain(scored, checkpoint, Trigger.AvailableNow()) {
      (batch, batchId, qid) =>
        applyBatch(batch, confMilliCol, labelCol, statePath, nBins,
          batchId, qid)
    }
}

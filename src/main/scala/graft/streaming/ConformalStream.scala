package graft.streaming

import graft.core.Checked
import graft.llm.RankStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained conformal calibration: each micro-batch's
  * (group, score) rows fold into a persistent (group, value, count)
  * cell state, and [[readQuantile]] serves the CURRENT
  * distribution-free anomaly threshold per group — the always-on gate:
  * yesterday's traffic calibrates, today's scores check against qhat
  * with the finite-sample false-alarm bound intact (scores must be
  * exchangeable across the window the caller folds — that assumption
  * is the caller's, exactly as in batch split-conformal).
  *
  * Exactness across batchings: cells are a commutative monoid, so the
  * maintained state is BIT-IDENTICAL to one-shot counting over the
  * concatenated stream — q_stream_conformal folds a 3-way split of
  * the calibration half and still hash-matches the SAME one-shot SQL
  * replay as q_stat_conformal (the BootStream/groupCiOracle
  * contract). State size is the distinct (group, quantized-value)
  * domain — the InfoStream vocabulary class, far below corpus-sized;
  * quantize scores at the call site (the RankStats long contract).
  *
  * Replay and crash safety are [[ReplayGuard.fold]]'s: cell addition
  * is not idempotent, so its marker skips a replayed batch.
  */
object ConformalStream {

  /** Fold one batch of (groupCol, valueCol) calibration rows into the
    * cell state at `statePath` (missing state = empty) through
    * [[ReplayGuard.fold]].
    */
  def applyBatch(batch: DataFrame, groupCol: String, valueCol: String,
                 statePath: String,
                 batchId: Long = -1L, queryId: String = ""): Unit =
    ReplayGuard.fold(batch.sparkSession, statePath, batchId, queryId) { prior =>
      val cells = batch.select(
        Checked.label(col(groupCol), "ConformalStream",
          s"group in $groupCol").as("_g"),
        Checked.long(col(valueCol), "ConformalStream",
          s"value in $valueCol").as("_v"))
        .groupBy("_g", "_v").agg(count(lit(1)).as("_n"))
      prior.fold(cells)(_.unionByName(cells)
        .groupBy("_g", "_v").agg(sum(col("_n")).as("_n")))
    }

  /** The current per-group conformal threshold from the persisted
    * cells — [[RankStats.conformalQuantileFromCells]].
    */
  def readQuantile(spark: org.apache.spark.sql.SparkSession,
                   statePath: String,
                   alphaPermille: Int = 50): DataFrame =
    RankStats.conformalQuantileFromCells(
      spark.read.parquet(statePath), alphaPermille)

  /** Wire a calibration stream into the state: foreachBatch + the fold
    * above (the InfoStream run signature).
    */
  def run(rows: DataFrame, groupCol: String, valueCol: String,
          statePath: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(rows, checkpoint, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, groupCol, valueCol, statePath, batchId, qid)
    }
}

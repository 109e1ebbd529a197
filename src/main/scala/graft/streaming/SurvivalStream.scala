package graft.streaming

import graft.llm.Survival
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained survival state: each micro-batch's
  * (duration, event) subject rows fold into a persistent (t, d, c)
  * cell state, and [[readCurve]] serves the CURRENT Kaplan–Meier curve
  * — the always-on conversion monitor: every ingest batch updates the
  * time-to-event picture without re-scanning history.
  *
  * Exactness across batchings: [[Survival.cells]] is a commutative
  * monoid (sum d, sum c per t), so the maintained state is
  * BIT-IDENTICAL to one-shot counting over the concatenated stream —
  * q_stream_kaplan_meier folds a 3-way split of the subjects and still
  * hash-matches the SAME one-shot SQL replay as q_evt_kaplan_meier
  * (the ConformalStream/groupCiOracle contract). State size is the
  * distinct-duration domain — grid-bounded by the caller's
  * quantization (hours/days), never subject-count-sized.
  *
  * Replay and crash safety are [[ReplayGuard.fold]]'s: cell addition
  * is not idempotent, so its marker skips a replayed batch. A subject
  * must arrive in exactly ONE batch (it is one observation); late
  * RE-observations of the same subject are the caller's dedup problem,
  * as in every keyed-append stream here.
  */
object SurvivalStream {

  /** Fold one batch of (durationCol, eventCol) subject rows into the
    * cell state at `statePath` (missing state = empty) through
    * [[ReplayGuard.fold]]; the duration/event contracts are batch
    * [[Survival.kaplanMeier]]'s, raised naming THIS entry point.
    */
  def applyBatch(batch: DataFrame, durationCol: String, eventCol: String,
                 statePath: String,
                 batchId: Long = -1L, queryId: String = ""): Unit =
    ReplayGuard.fold(batch.sparkSession, statePath, batchId, queryId) { prior =>
      val cells = Survival.cells(batch, durationCol, eventCol,
        "survivalStream")
      prior.fold(cells)(_.unionByName(cells)
        .groupBy("t")
        .agg(sum(col("d")).as("d"), sum(col("c")).as("c")))
    }

  /** The current Kaplan–Meier curve from the persisted cells —
    * [[Survival.kaplanMeierFromCells]].
    */
  def readCurve(spark: org.apache.spark.sql.SparkSession,
                statePath: String,
                maxBlocks: Long = 1L << 20): DataFrame =
    Survival.kaplanMeierFromCells(
      spark.read.parquet(statePath), maxBlocks)

  /** Wire a subject stream into the state: foreachBatch + the fold
    * above (the ConformalStream run signature).
    */
  def run(rows: DataFrame, durationCol: String, eventCol: String,
          statePath: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(rows, checkpoint, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, durationCol, eventCol, statePath, batchId, qid)
    }
}

package graft.streaming

import graft.llm.Bootstrap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained Poisson-bootstrap state: each micro-batch's
  * rows fold into a persistent per-(group, replicate) frame of
  * (n_eff, wsum) resample sums through [[ReplayGuard.fold]] —
  * the always-on error bar. A release gate reads the CURRENT
  * confidence interval for any tracked corpus mean without a corpus
  * pass: the state is groups × b rows, the batch cost is the batch.
  *
  * Exactness across batchings: a row's replicate weight is a pure
  * function of (id, replicate) ([[Bootstrap.replicateBucket]]), and
  * the resample sums are a commutative monoid under per-cell addition,
  * so the maintained state is BIT-IDENTICAL to one-shot
  * [[Bootstrap.replicateStats]] over the concatenated stream —
  * q_stream_boot_ci folds a 3-way corpus split and still hash-matches
  * the one-shot SQL replay (the InfoStream/calibrationCells contract).
  * The id-keyed weights also make the fold growth-stable: re-ingesting
  * history cannot re-weight old rows differently.
  *
  * Replay and crash safety are [[ReplayGuard.fold]]'s: cell addition
  * is not idempotent, so its marker skips a replayed batch.
  */
object BootStream {

  /** Fold one batch of (idCol, valueCol, groupCols...) rows into the
    * replicate-sum state at `statePath` (missing state = empty) through
    * [[ReplayGuard.fold]].
    * `b` and the column set must be stable across batches — the state
    * schema pins them; a mismatched fold fails on the union.
    */
  def applyBatch(batch: DataFrame, idCol: String, valueCol: String, b: Int,
                 statePath: String, groupCols: Seq[String] = Nil,
                 batchId: Long = -1L, queryId: String = ""): Unit =
    ReplayGuard.fold(batch.sparkSession, statePath, batchId, queryId) { prior =>
      val cells = Bootstrap.replicateStats(batch, idCol, Seq(valueCol), b,
        groupCols)
      val keys = (groupCols :+ "rep").map(col)
      prior.fold(cells)(_.unionByName(cells)
        .groupBy(keys: _*)
        .agg(sum(col("n_eff")).as("n_eff"),
          sum(col(s"wsum_$valueCol")).as(s"wsum_$valueCol")))
    }

  /** The current bootstrap CI of the tracked mean from the persisted
    * replicate sums — [[Bootstrap.percentileCI]] over the groups × b
    * state rows (zero-resample replicates excluded, the meanCI
    * stance).
    */
  def readMeanCI(spark: org.apache.spark.sql.SparkSession,
                 statePath: String, valueCol: String,
                 groupCols: Seq[String] = Nil,
                 alphaPermille: Int = 50): DataFrame = {
    val reps = spark.read.parquet(statePath)
      .filter(col("n_eff") > 0L)
      .withColumn("_stat",
        col(s"wsum_$valueCol").cast("double") / col("n_eff").cast("double"))
    Bootstrap.percentileCI(reps, "_stat", groupCols, alphaPermille)
  }

  /** Wire a stream into the state: foreachBatch + the fold above.
    * `Trigger.AvailableNow` drains and stops; pass a processing-time
    * trigger for the always-on monitor (the InfoStream run signature).
    */
  def run(rows: DataFrame, idCol: String, valueCol: String, b: Int,
          statePath: String, checkpoint: String,
          groupCols: Seq[String] = Nil,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(rows, checkpoint, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, idCol, valueCol, b, statePath, groupCols, batchId, qid)
    }
}

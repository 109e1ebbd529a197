package graft.streaming

import graft.llm.InfoStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained per-slice token distribution: each
  * micro-batch's documents fold into a persistent (slice, token, cnt)
  * cell frame ([[InfoStats.tokenCells]] merged by per-cell addition),
  * promoted through [[ReplayGuard.fold]] — one maintained state serving
  * BOTH always-on vocabulary reads: per-slice diversity
  * ([[InfoStats.tokenDiversityFromCells]] — entropy/TTR/Simpson, the
  * template-spam monitor) and per-slice JSD against the complement
  * ([[InfoStats.tokenJsdFromCells]] — "whose vocabulary is walking
  * away?").
  *
  * Exactness across batchings: cells are a commutative monoid, so the
  * maintained state is BIT-IDENTICAL to one-shot counting over the
  * concatenated stream — q_stream_token_jsd folds a 3-way corpus split
  * and still compares against the one-shot SQL replay (the
  * EvalStream/calibrationCells contract). Scale: a batch shuffles its
  * own (slice, token) cells (map-side combined); the persistent state
  * is vocabulary-sized — the [[AnnIndexStream]] store class, far below
  * corpus-sized.
  *
  * Replay and crash safety are [[ReplayGuard.fold]]'s: cell addition
  * is not idempotent, so its marker skips a replayed batch.
  */
object InfoStream {

  /** Fold one batch of (sliceCol, textCol) documents into the cell
    * state at `statePath` (missing state = empty) through
    * [[ReplayGuard.fold]].
    */
  def applyBatch(batch: DataFrame, sliceCol: String, textCol: String,
                 statePath: String,
                 batchId: Long = -1L, queryId: String = ""): Unit =
    ReplayGuard.fold(batch.sparkSession, statePath, batchId, queryId) { prior =>
      val cells = InfoStats.tokenCells(batch, sliceCol, textCol,
        "InfoStream.applyBatch")
      prior.fold(cells)(InfoStats.tokenCellsMerge(_, cells))
    }

  /** The current per-slice diversity profile from the persisted cells. */
  def readDiversity(spark: org.apache.spark.sql.SparkSession,
                    statePath: String): DataFrame =
    InfoStats.tokenDiversityFromCells(spark.read.parquet(statePath))

  /** The current per-slice JSD-vs-complement from the persisted cells. */
  def readJsd(spark: org.apache.spark.sql.SparkSession,
              statePath: String): DataFrame =
    InfoStats.tokenJsdFromCells(spark.read.parquet(statePath))

  /** Wire a document stream into the state: foreachBatch + the fold
    * above. The default `Trigger.AvailableNow` drains what exists and
    * stops; pass a processing-time trigger for the always-on monitor
    * (the SketchStream/DriftStream run signature).
    */
  def run(docs: DataFrame, sliceCol: String, textCol: String,
          statePath: String, checkpoint: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(docs, checkpoint, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, sliceCol, textCol, statePath, batchId, qid)
    }
}

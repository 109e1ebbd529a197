package graft.streaming

import graft.llm.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained count-min sketch: each micro-batch's key
  * stream folds into a persistent depth×width counter grid by
  * cell-wise addition ([[Sketch.cmsMerge]]) through
  * [[ReplayGuard.fold]] — the always-on frequency/heavy-hitter
  * service over an unbounded token stream.
  *
  * Exactness across batchings: the CMS is a commutative monoid, so the
  * incrementally-maintained grid is BIT-IDENTICAL to the one-shot grid
  * over the concatenated stream — no approximation is introduced by
  * micro-batching, only by the sketch itself. q_stream_cms exploits
  * that: it maintains the grid through a 3-way split of the corpus and
  * still compares against the one-shot SQL replay.
  *
  * Scale: a micro-batch shuffles at most depth×width cells regardless
  * of batch size (cmsCounters collapses per partition before the
  * exchange), and the persistent state is kilobytes at any corpus
  * scale. The grid read-modify-write is single-writer by construction
  * (one streaming query owns the path — Spark's checkpointing already
  * requires that); readers see only complete grids thanks to the swap.
  */
object SketchStream {

  /** Fold one batch into the grid at `gridPath` (missing grid = empty)
    * through [[ReplayGuard.fold]]: crash recovery, the replay marker,
    * staging write and swap.
    *
    * At-least-once safety: foreachBatch can REPLAY a batch (crash
    * between the swap and the streaming checkpoint commit), and
    * cell-wise addition is not idempotent — a replay would double-count.
    * So a streaming batch (`batchId >= 0`) is recorded in the grid's
    * (queryId, batchId) marker and skipped on replay; see
    * [[ReplayGuard]] for why the queryId is part of the key.
    * `batchId = -1` (direct/batch callers) keeps the unconditional
    * fold, but PRESERVES an existing marker through the swap so replay
    * protection survives interleaved direct folds.
    */
  def applyBatch(batch: DataFrame, keyCol: String, gridPath: String,
                 depth: Int = 4, width: Int = 256,
                 batchId: Long = -1L, queryId: String = ""): Unit =
    ReplayGuard.fold(batch.sparkSession, gridPath, batchId, queryId) { prior =>
      val g = Sketch.cmsCounters(batch, keyCol, depth, width)
      prior.fold(g)(Sketch.cmsMerge(_, g))
    }

  /** Wire a key stream into the grid: foreachBatch + the fold above.
    * `Trigger.AvailableNow` drains what exists and stops (batch-refresh
    * mode); pass a processing-time trigger for always-on.
    */
  def run(items: DataFrame, keyCol: String, gridPath: String,
          checkpointDir: String, depth: Int = 4, width: Int = 256,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(items, checkpointDir, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, keyCol, gridPath, depth, width, batchId, qid)
    }
}

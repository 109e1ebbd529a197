package graft.streaming

import graft.core.Fs
import graft.llm.IncrementalDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming incremental deduplication: maintain the compact signature
  * index ([[IncrementalDedup.dedupIndex]]) from a document stream, so
  * every micro-batch is deduplicated against EVERYTHING accepted before
  * it — the always-on face of batch-vs-corpus dedup, and the shape a
  * continuously-fed training corpus actually runs at 100 TB: the
  * per-batch cost is batch-sized (signatures of the batch + bucketed
  * joins against the index), never corpus-text-sized.
  *
  * Store layout under `storeDir`:
  *  - `index/` — a [[DeltaStore]]: one immutable signature DELTA per
  *    accepted batch, tagged `<queryId>_<batchId>` (partition-style
  *    naming, so a plain parquet read of `index/` reassembles the whole
  *    index with `ingest_batch` as a column). Appending a delta is
  *    O(batch); a full-index rewrite per fold (the [[SketchStream]] swap
  *    protocol) would be O(corpus) per batch — correct, but dead at scale. The
  *    CMS grid genuinely needs read-modify-write (cell addition touches
  *    the whole grid); the index does not, deltas suffice.
  *  - `verdicts/batch=<id>/` — per-batch verdict log (doc_id, verdict,
  *    match_id), overwrite-idempotent. Keyed by batchId alone: after a
  *    checkpoint reset the new query's restarted ids OVERWRITE the old
  *    query's verdict dirs (the index, the authoritative store, is
  *    unaffected — its deltas carry the queryId). Archive `verdicts/`
  *    before resetting a checkpoint if the history matters.
  *
  * Replay safety WITHOUT a marker: the delta name IS the transaction
  * id. A batch computes its verdicts against the index EXCLUDING its
  * own tag, then overwrites its verdict dir and its delta dir. A crash
  * anywhere replays into an identical recompute (its half-written
  * delta is excluded from its own input, then overwritten), so the fold
  * is idempotent by construction — the (queryId, batchId) keying also
  * makes a checkpoint reset safe: a new query's batch 0 writes a NEW
  * delta tag instead of colliding with the old one. Restriction: run
  * [[compact]] only from the owning process between committed batches —
  * it absorbs delta tags a concurrent in-flight replay would expect to
  * exclude.
  *
  * Semantics note vs one-shot dedup: within a batch any smaller-id doc
  * kills ([[IncrementalDedup.incrementalDedup]]), but across batches
  * only SURVIVORS kill — a doc near-duplicate only of an earlier
  * batch's victim is kept. That is the standard keep-first streaming
  * dedup behavior; a transitive chain A≈B≈C (A≉C) keeps {A, C} here
  * where single-batch greedy keeps {A}.
  */
object IncrDedupStream {

  def indexPath(storeDir: String): String = s"$storeDir/index"

  def verdictsPath(storeDir: String, batchId: Long): String =
    s"$storeDir/verdicts/batch=$batchId"

  // live-index reads, tag minting, uncommitted sweeps, and compaction
  // all ride the shared DeltaStore protocol (extracted r11 — this file
  // was its first copy)

  /** Dedup one document batch against the store and append its
    * survivors as a new delta. For direct callers (`batchId = -1`) the
    * delta tag is `direct_<n>` (n = current delta count — single-writer
    * by construction, same ownership rule as the streaming checkpoint)
    * and no verdict log is written (no batch identity to key it by).
    * Pass `directTag` (a caller-owned unique id) to make a direct call
    * replay-idempotent like the streaming path — without it, a retry
    * after a COMMITTED-but-unacknowledged write mints a fresh tag, the
    * batch's own earlier signatures read as corpus, and every retried
    * doc is verdicted `exact_dup_corpus` of itself (at-least-once; the
    * sweep below removes only uncommitted partials). Returns the
    * verdict frame (lazily re-readable; the heavy work is already
    * materialized into the store).
    */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
                 storeDir: String, numHashes: Int = 8,
                 rowsPerBand: Int = 4, k: Int = 3, minMatches: Int = 6,
                 batchId: Long = -1L, queryId: String = "",
                 directTag: Option[String] = None,
                 autoCompactMinDeltas: Int = 64): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = indexPath(storeDir)
    val bidx = IncrementalDedup
      .dedupIndex(batch, idCol, textCol, numHashes, k).cache()
    val tag =
      if (batchId >= 0) DeltaStore.tagOf(queryId, batchId)
      else {
        // a crashed direct write leaves a PARTIAL delta (no _SUCCESS);
        // counted into a fresh tag it would dodge the self-exclusion
        // below and the batch would read its own half-written
        // signatures as corpus — every doc then matches itself and the
        // whole batch is verdicted a duplicate. Sweep uncommitted
        // deltas first (single-writer, the checkpoint ownership rule).
        // Caller tags get their OWN namespace (directtag_) — formatted
        // into direct_<x> a numeric caller tag could collide with an
        // auto-minted direct_<n>, self-exclude that foreign batch's
        // signatures, and then OVERWRITE its committed delta (r11
        // review finding).
        DeltaStore.sweepUncommitted(idx, conf)
        directTag.fold {
          // auto-minted calls are NEW batches by definition (no replay
          // to exclude) — compact BEFORE minting, since the tag names
          // the post-compaction dir count
          DeltaStore.compactIfNeeded(spark, idx, autoCompactMinDeltas,
            None)(identity)
          s"direct_${Fs.listDirs(idx, conf).length}"
        }(t => s"directtag_$t")
      }
    // auto-compaction for the replayable paths, BEFORE the prior-state
    // read, excluding our own tag (a replay's committed-but-unacked
    // delta must not be baked in — DeltaStore.compactWith). ≤ 0
    // disables; an always-on stream stays bounded without anyone
    // remembering to call compact() (the LogStore.compactIfNeeded
    // stance).
    if (batchId >= 0 || directTag.isDefined)
      DeltaStore.compactIfNeeded(spark, idx, autoCompactMinDeltas,
        Some(tag))(identity)
    // exclude our OWN tag: a replay's committed-but-unacked delta must
    // not make the batch a duplicate of itself (uncommitted partials
    // are already out via DeltaStore's _SUCCESS gate)
    val index = DeltaStore.readCommitted(bidx, idx)
      .filter(col("ingest_batch") =!= tag).drop("ingest_batch")
    val verdicts = IncrementalDedup
      .incrementalDedupSigs(index, bidx, idCol, numHashes, rowsPerBand, minMatches)
      .cache()
    try {
      if (batchId >= 0)
        verdicts.write.mode("overwrite")
          .parquet(verdictsPath(storeDir, batchId))
      DeltaStore.write(IncrementalDedup.survivorIndex(bidx, verdicts, idCol),
        idx, tag)
    } finally {
      verdicts.unpersist()
      bidx.unpersist()
    }
  }

  /** Absorb all deltas into one (tagged `compacted_<n>`) — the
    * small-file maintenance pass; run it from the owning process
    * between committed batches ([[DeltaStore.compactWith]], through
    * [[graft.core.Fs.replace]]).
    */
  def compact(spark: org.apache.spark.sql.SparkSession,
              storeDir: String): Unit =
    // COMMITTED deltas only (DeltaStore's gate): baking a crashed
    // writer's partial delta into the compacted index would make the
    // retried batch match its own half-written signatures forever
    DeltaStore.compactWith(spark, indexPath(storeDir))(identity)

  /** Wire a document stream into the store: foreachBatch + the fold
    * above. `Trigger.AvailableNow` drains what exists and stops
    * (batch-refresh mode); pass a processing-time trigger for
    * always-on.
    */
  def run(docs: DataFrame, idCol: String, textCol: String,
          storeDir: String, checkpointDir: String,
          numHashes: Int = 8, rowsPerBand: Int = 4, k: Int = 3,
          minMatches: Int = 6,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(docs, checkpointDir, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, idCol, textCol, storeDir, numHashes,
        rowsPerBand, k, minMatches, batchId, qid)
    }
}

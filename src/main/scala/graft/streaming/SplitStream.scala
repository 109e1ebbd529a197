package graft.streaming

import graft.llm.{IncrementalDedup, IncrementalSplit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming incremental leak-free split: maintain per-document
  * train/val/test assignments ([[graft.llm.IncrementalSplit]]) from a
  * document stream, so every micro-batch's docs are split-labeled
  * against EVERYTHING assigned before them — new docs inherit their
  * cluster's split, merges resolve to the oldest assignment, and only
  * genuinely new clusters hash fresh. Per-batch cost is batch-
  * neighborhood-sized (signatures of the batch + bucketed joins against
  * the signature store + a CC over batch docs and touched clusters),
  * never corpus-text-sized.
  *
  * Store layout under `storeDir` (the [[IncrDedupStream]] delta
  * protocol):
  *  - `sigs/` — one immutable signature delta per batch (EVERY batch
  *    doc, duplicates included: any assigned doc is a legal attachment
  *    point for future near-dups).
  *  - `assign/` — one delta per batch holding its assignment rows:
  *    (doc_id, cluster_id, cluster_seq, split, seq) for every batch doc
  *    plus re-pointed rows for existing docs whose cluster merged. The
  *    live view is latest-`seq`-wins per doc ([[assignments]]).
  *
  * Replay safety: the delta tag is the transaction id (queryId_batchId).
  * A batch computes against the store EXCLUDING its own tag, then
  * overwrites both its delta dirs — a crash anywhere replays into an
  * identical recompute. `seq` must be the monotonically increasing
  * batch number (the streaming batchId, or caller-owned for direct
  * folds); the latest-wins view and the merge tie rule both order by
  * it. Single-writer per store, compact() only between committed
  * batches (the family-wide ownership rule).
  *
  * The CC labels inside the fold ride DupGraph's per-round local
  * checkpoints; the final labels frame stays persisted until the
  * session-level release (the q_llm_dup_clusters convention).
  */
object SplitStream {

  def sigsPath(storeDir: String): String = s"$storeDir/sigs"

  def assignPath(storeDir: String): String = s"$storeDir/assign"

  private def emptyAssign(template: DataFrame, idCol: String): DataFrame =
    template.limit(0).select(col(idCol),
      lit(0L).as("cluster_id"), lit(0L).as("cluster_seq"),
      lit("").as("split"), lit(0L).as("seq"))

  /** Typed empty assign frame for committed-dirs reads that start from
    * nothing but the store path (no batch frame in hand). `idType`
    * must match the id type of the deltas applyBatch wrote — the
    * template only ever types the EMPTY-store read (a non-empty store
    * infers its schema from the parquet itself), but an empty view
    * whose id type disagrees with later deltas would poison a
    * caller-side union/join (r12 advice).
    */
  private def assignTemplate(spark: SparkSession, idCol: String,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField(idCol, idType),
        StructField("cluster_id", LongType),
        StructField("cluster_seq", LongType),
        StructField("split", StringType),
        StructField("seq", LongType))))
  }

  /** All committed assign rows — the _SUCCESS-gated read every store
    * view goes through (a plain read.parquet would include a crashed
    * writer's partial delta, or die on a store whose only content is a
    * `_temporary` dir — the r11 wedge DeltaStore.readCommitted exists
    * to prevent).
    */
  private def committedAssign(spark: SparkSession, storeDir: String,
      idCol: String,
      idType: org.apache.spark.sql.types.DataType): DataFrame =
    DeltaStore.readCommitted(assignTemplate(spark, idCol, idType),
      assignPath(storeDir)).drop("ingest_batch")

  /** Latest-wins assignment view over the delta store: one row per doc,
    * highest `seq` wins (a doc re-appears only when its cluster merged).
    * `idType` types the empty-store case only; it must match the id
    * type applyBatch folded (default long — the documents contract).
    */
  def assignments(spark: SparkSession, storeDir: String,
                  idCol: String = "doc_id",
                  idType: org.apache.spark.sql.types.DataType =
                    org.apache.spark.sql.types.LongType): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(col("seq").desc)
    committedAssign(spark, storeDir, idCol, idType)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Assign one document batch against the store and persist the
    * resulting rows (new + migrated) as this batch's deltas. `seq` must
    * be ≥ 0 and strictly greater than every previously folded batch's.
    *
    * Auto-compaction: when either delta store has accumulated ≥
    * `autoCompactMinDeltas` dirs, both are compacted FIRST — before
    * this batch reads its prior state — excluding this batch's own tag
    * (a replay's committed-but-unacked delta must not be baked in; see
    * [[DeltaStore.compactWith]]). ≤ 0 disables. An always-on stream
    * thus stays bounded without anyone remembering to call
    * [[compact]] (the LogStore.compactIfNeeded stance).
    */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
                 storeDir: String, splits: Seq[(String, Double)],
                 seq: Long, queryId: String = "", numHashes: Int = 8,
                 rowsPerBand: Int = 4, k: Int = 3,
                 minMatches: Int = 6,
                 autoCompactMinDeltas: Int = 64): Unit = {
    require(seq >= 0L, s"seq must be >= 0, got $seq")
    val tag = DeltaStore.tagOf(queryId, seq)
    val spark = batch.sparkSession
    DeltaStore.compactIfNeeded(spark, assignPath(storeDir),
      autoCompactMinDeltas, Some(tag))(identity)
    DeltaStore.compactIfNeeded(spark, sigsPath(storeDir),
      autoCompactMinDeltas, Some(tag))(identity)
    val bidx = IncrementalDedup
      .dedupIndex(batch, idCol, textCol, numHashes, k).cache()
    // prior state EXCLUDES our own tag: a replay's committed-but-unacked
    // delta must not feed its own recompute (the family-wide idempotence
    // rule; uncommitted partials are already out via the _SUCCESS gate)
    val priorSigs = DeltaStore.readCommitted(bidx, sigsPath(storeDir))
      .filter(col("ingest_batch") =!= tag).drop("ingest_batch")
    val priorDeltas = DeltaStore.readCommitted(emptyAssign(bidx, idCol),
        assignPath(storeDir))
      .filter(col("ingest_batch") =!= tag).drop("ingest_batch")
    val wLatest = Window.partitionBy(idCol).orderBy(col("seq").desc)
    val priorAssign = priorDeltas
      .withColumn("_rn", row_number().over(wLatest))
      .filter(col("_rn") === 1).drop("_rn")
    val rows = IncrementalSplit.assignBatch(bidx, priorSigs, priorAssign,
      idCol, splits, seq, numHashes, rowsPerBand, minMatches).cache()
    try {
      DeltaStore.write(rows, assignPath(storeDir), tag)
      DeltaStore.write(bidx, sigsPath(storeDir), tag)
    } finally {
      rows.unpersist()
      bidx.unpersist()
    }
  }

  /** Migration audit over the delta store — the first question an
    * eval owner asks after a corpus merge: WHICH docs moved, WHEN, and
    * WHY. One row per re-assignment (a doc's non-first delta row)
    * pairing it with the doc's previous assignment: (doc, seq,
    * from/to cluster, from/to split, moved_split). `moved_split` true
    * marks the designed leak-freedom-over-stability conflicts (a merge
    * of differently-split clusters — the split HAD to change to keep
    * zero leakage); false marks stability-preserving merges (re-point
    * only, assignment kept). Cost: one window over the delta rows,
    * partitioned per doc — store-sized, never corpus-text-sized.
    */
  def migrations(spark: SparkSession, storeDir: String,
                 idCol: String = "doc_id",
                 idType: org.apache.spark.sql.types.DataType =
                   org.apache.spark.sql.types.LongType): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("seq")
    committedAssign(spark, storeDir, idCol, idType)
      .withColumn("from_cluster", lag("cluster_id", 1).over(w))
      .withColumn("from_split", lag("split", 1).over(w))
      .filter(col("from_cluster").isNotNull)
      .select(col(idCol), col("seq"),
        col("from_cluster"), col("cluster_id").as("to_cluster"),
        col("from_split"), col("split").as("to_split"),
        (col("from_split") =!= col("split")).as("moved_split"))
  }

  /** Absorb the assign deltas and the sigs deltas each into one
    * `compacted_<n>` delta — the small-file maintenance
    * pass; owning process only, between committed batches. Committed
    * deltas only (the r10 partial-delta-baking lesson), staged and
    * swapped whole. The fold is IDENTITY on both stores: per-doc
    * assignment HISTORY is load-bearing ([[migrations]] is the audit
    * over it, and [[assignments]] applies latest-wins at read), and a
    * doc's row count is 1 + its migration count, so compaction bounds
    * FILE COUNT without erasing the audit trail (r12 review finding —
    * a latest-wins fold here silently truncated every migration
    * recorded before the compaction).
    */
  def compact(spark: SparkSession, storeDir: String,
              idCol: String = "doc_id"): Unit = {
    DeltaStore.compactWith(spark, assignPath(storeDir))(identity)
    DeltaStore.compactWith(spark, sigsPath(storeDir))(identity)
  }

  /** Wire a document stream into the store: foreachBatch + the fold
    * above, seq = the streaming batchId. `Trigger.AvailableNow` drains
    * what exists and stops; pass a processing-time trigger for
    * always-on.
    */
  def run(docs: DataFrame, idCol: String, textCol: String,
          storeDir: String, checkpointDir: String,
          splits: Seq[(String, Double)], numHashes: Int = 8,
          rowsPerBand: Int = 4, k: Int = 3, minMatches: Int = 6,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(docs, checkpointDir, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, idCol, textCol, storeDir, splits, batchId, qid,
        numHashes, rowsPerBand, k, minMatches)
    }
}

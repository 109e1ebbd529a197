package graft.streaming

import graft.core.Fs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming sequence packing: lay a CONTINUOUSLY-ARRIVING corpus out
  * as per-source token streams (graft.llm.Packing's concat-and-chunk
  * rule) without ever rescanning what already landed. Each micro-batch
  * extends every source's stream from the accumulated per-source total,
  * so the per-batch cost is batch-sized + |sources| state rows — the
  * shape an always-on ingestion layer needs at 100 TB, where batch
  * `tokenStreamPack` over the whole corpus per refresh would be
  * O(corpus) every time.
  *
  * Store layout under `storeDir` (the [[IncrDedupStream]] protocol):
  *  - `totals/` — a [[DeltaStore]]: one immutable (source, bsum) delta
  *    per batch, tagged `<queryId>_<batchId>`; the live per-source
  *    totals are the sum over deltas. Appending is O(|sources in batch|).
  *  - `layout/batch=<id>/` — per-doc stream positions for that batch,
  *    overwrite-idempotent, keyed by batchId alone (same caveat as
  *    IncrDedupStream's verdicts: archive before a checkpoint reset).
  *
  * Replay safety: a batch computes prior totals EXCLUDING its own
  * delta tag, then overwrites its layout dir and its delta dir — a
  * crash anywhere replays into an identical recompute. A checkpoint
  * RESET that re-ingests the same data must clear `totals/` first
  * (stale tags would double-count; unlike the dedup index, totals are
  * a sum, not a set).
  *
  * Ordering contract: offsets follow (arrival batch, id) order within
  * each source. With a deterministic ingest order (files named in id
  * order, AvailableNow) the final layout equals the batch
  * `tokenStreamPack` partitioned by source — that equivalence is the
  * oracle claim (`q_stream_pack`) and PackStreamSpec's live-stream
  * assertion.
  */
object PackStream {

  def totalsPath(storeDir: String): String = s"$storeDir/totals"

  def layoutPath(storeDir: String, batchId: Long): String =
    s"$storeDir/layout/batch=$batchId"

  /** Typed empty totals template (src, bsum) for a brand-new store. */
  private def totalsTemplate(base: DataFrame): DataFrame =
    base.limit(0).select(col("src"), col("_len").as("bsum"))

  /** Extend every source's token stream with one batch: per-doc stream
    * offsets = accumulated source total + intra-batch exclusive prefix
    * (a per-source window — batch-sized by definition, unlike the
    * corpus-sized scan Packing.withStreamOffsets tiles into blocks).
    * Writes the batch layout and the totals delta; both writes are
    * overwrite-idempotent under replay (see object doc). Direct callers
    * (batchId = -1) get a delta tag and no layout dir — same
    * single-writer ownership rule as IncrDedupStream. Pass `directTag`
    * (a caller-owned unique id, e.g. a job/attempt id) to make direct
    * calls replay-idempotent like the streaming path: a retry with the
    * same tag self-excludes and overwrites. Without it the tag is
    * auto-minted (`direct_<n>`) and the call is AT-LEAST-ONCE: a retry
    * after a write that COMMITTED (_SUCCESS written) but was not
    * acknowledged mints a fresh tag, misses the earlier delta in the
    * self-exclusion, and double-counts that batch's token sums — the
    * sweep below removes only uncommitted partials. Retries after
    * success are the auto-minted caller's responsibility.
    */
  def applyBatch(batch: DataFrame, idCol: String, lenCol: String,
                 srcCol: String, storeDir: String, capacity: Long,
                 batchId: Long = -1L, queryId: String = "",
                 directTag: Option[String] = None): Unit = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val tot = totalsPath(storeDir)
    val base = batch
      .select(col(srcCol).as("src"), col(idCol).cast("long").as("_id"),
        col(lenCol).cast("long").as("_len"))
      .filter(col("_len") > 0L)
      .cache()
    val tag =
      if (batchId >= 0) DeltaStore.tagOf(queryId, batchId)
      else {
        // sweep uncommitted direct deltas: a crashed write's partial
        // delta counted into a fresh tag would dodge the
        // self-exclusion below and double-count its sums. Caller tags
        // get their own directtag_ namespace — a numeric caller tag
        // formatted as direct_<x> could collide with an auto-minted
        // direct_<n> and overwrite that batch's committed delta (r11
        // review finding).
        DeltaStore.sweepUncommitted(tot, conf)
        directTag.fold(s"direct_${Fs.listDirs(tot, conf).length}")(t =>
          s"directtag_$t")
      }
    // prior totals EXCLUDE our own tag — a replay must extend from the
    // same base it saw the first time, not from its half-committed self
    // (uncommitted partials are out via DeltaStore's _SUCCESS gate).
    // The prior side is RENAMED before the join: when the store is new
    // the empty totals frame derives from `base` itself, and
    // base("src") <=> prior("src") then resolves both sides to the SAME
    // attribute — a trivially-true predicate (Spark warns and joins
    // everything). Distinct names sidestep the self-join ambiguity.
    val prior = DeltaStore.readCommitted(totalsTemplate(base), tot)
      .filter(col("ingest_batch") =!= tag)
      .groupBy("src").agg(sum("bsum").as("prior"))
      .withColumnRenamed("src", "_psrc")
    val wIn = Window.partitionBy("src").orderBy("_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // null-SAFE join: a NULL source is one stream like any other (the
    // window and groupBy already treat it as one partition/group); a
    // plain equi-join would never match its prior row and every batch
    // would restart null-source docs at offset 0 — overlapping chunks
    val layout = base
      .join(prior, col("src") <=> col("_psrc"), "left")
      .drop("_psrc")
      .withColumn("start_off", coalesce(col("prior"), lit(0L)) +
        coalesce(sum("_len").over(wIn), lit(0L)))
      .select(col("src").as("source"), col("_id").as(idCol),
        col("_len").as("n_tokens"), col("start_off"),
        expr(s"start_off div $capacity").as("chunk_first"),
        expr(s"(start_off + _len - 1) div $capacity").as("chunk_last"))
    try {
      if (batchId >= 0)
        layout.write.mode("overwrite").parquet(layoutPath(storeDir, batchId))
      DeltaStore.write(base.groupBy("src").agg(sum("_len").as("bsum")),
        tot, tag)
    } finally {
      base.unpersist()
      ()
    }
  }

  /** Absorb all totals deltas into one summed `compacted_<n>` delta —
    * the small-file maintenance pass; owning process only, between
    * committed batches (same rule as IncrDedupStream.compact). Staged
    * and swapped whole so readers never see partial totals.
    */
  def compact(spark: org.apache.spark.sql.SparkSession,
              storeDir: String): Unit =
    // fold COMMITTED deltas only (DeltaStore's gate): a crashed
    // writer's partial delta baked into the compacted sum would be
    // permanent — the retry gets a fresh tag, excludes only itself,
    // and double-counts the partial forever.
    DeltaStore.compactWith(spark, totalsPath(storeDir))(
      _.groupBy("src").agg(sum("bsum").as("bsum")))

  /** Wire a document stream into the store: foreachBatch + the fold
    * above. `Trigger.AvailableNow` drains what exists and stops;
    * pass a processing-time trigger for always-on.
    */
  def run(docs: DataFrame, idCol: String, lenCol: String, srcCol: String,
          storeDir: String, checkpointDir: String, capacity: Long,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(docs, checkpointDir, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, idCol, lenCol, srcCol, storeDir, capacity,
        batchId, qid)
    }
}

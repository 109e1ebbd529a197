package graft.streaming

import graft.core.Fs
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one read-modify-write protocol for foreachBatch sinks that
  * maintain a store the fold rewrites in place — the CMS grid
  * ([[SketchStream]]), the cell states of the other marker folds, the
  * [[TopKStream]] candidate table and the [[CdcApply]] snapshot. Every
  * fold goes through [[fold]]:
  *
  *   1. [[Fs.existsRecovered]] repairs a swap that died between its two
  *      renames, so the fold never mistakes a crashed swap for an empty
  *      store;
  *   2. the replay marker is read, and a replayed batch is skipped;
  *   3. the prior state (None when the store is new) feeds the caller's
  *      `next`, and [[Fs.replace]] writes the result, stamps it and
  *      swaps it in (`next` lazily reads the live state it replaces,
  *      which `replace` leaves in place until the write returns).
  *
  * The marker is a `_graft_batch_id` file INSIDE the store directory
  * recording the last `(queryId, batchId)` folded in. The underscore
  * prefix makes it invisible to the parquet reader (the `_SUCCESS`
  * convention), and living inside the directory means the swap promotes
  * the marker and the state it describes in the SAME atomic rename.
  *
  * Why both ids (the txnAppId+version pattern for idempotent
  * foreachBatch sinks): foreachBatch is at-least-once — a crash between
  * the store swap and the streaming checkpoint commit REPLAYS the
  * batch, and non-idempotent folds (cell addition) would double-apply,
  * so a batch with `batchId <=` the recorded one under the SAME queryId
  * is skipped. But if the checkpoint is deleted or relocated while the
  * store is kept (a routine ops event), batchIds restart at 0 under a
  * NEW queryId — skipping on the bare id would silently drop every new
  * batch until the ids caught up. A mismatched queryId therefore folds
  * (and re-keys the marker to the new query). `batchId = -1` (direct
  * callers, and the idempotent keyed folds — TopKStream's candidates,
  * CdcApply's upsert) always folds and carries an existing marker
  * through the swap unchanged.
  *
  * APPEND-shaped stores don't need this: [[IncrDedupStream]] keys each
  * batch's delta directory by (queryId, batchId) and recomputes-then-
  * overwrites on replay — idempotent by naming, no marker. They share
  * only the stream wiring, [[drain]].
  */
object ReplayGuard {

  /** Marker file name inside the store directory. */
  private val MarkerName = "_graft_batch_id"

  /** Parse the marker into (queryId, batchId). Two formats:
    *  - v2 `"<queryId>:<batchId>"`; queryId may be empty (direct batch
    *    callers with no streaming identity);
    *  - legacy: a bare number — predates query tracking; surfaces as
    *    queryId "" so old stores keep their replay protection for
    *    callers that never pass a queryId.
    * None when the store is missing or untracked.
    */
  private def read(storeDir: String, conf: Configuration): Option[(String, Long)] =
    Fs.readText(s"$storeDir/$MarkerName", conf).map { txt =>
      val s = txt.trim
      s.lastIndexOf(':') match {
        case -1 => ("", s.toLong)
        case i  => (s.substring(0, i), s.substring(i + 1).toLong)
      }
    }

  /** Last batchId folded into the store at `storeDir`; -1 when the store
    * is missing or predates batch tracking.
    */
  def lastAppliedBatchId(storeDir: String, conf: Configuration): Long =
    read(storeDir, conf).map(_._2).getOrElse(-1L)

  /** True when this (queryId, batchId) is already folded into the store
    * the marker was read from — i.e. the batch is a replay to skip.
    * Always false for direct calls (batchId < 0).
    */
  private def alreadyApplied(marker: Option[(String, Long)],
                             queryId: String, batchId: Long): Boolean =
    batchId >= 0 && marker.exists { case (qid, bid) =>
      qid == queryId && batchId <= bid
    }

  /** Stamp the STAGING directory before the swap: the new (queryId,
    * batchId) for tracked batches, or the preserved pre-existing marker
    * for direct folds (batchId < 0) so replay protection survives
    * interleaved direct calls.
    */
  private def stamp(staging: String, conf: Configuration,
                    existing: Option[(String, Long)],
                    queryId: String, batchId: Long): Unit =
    if (batchId >= 0)
      Fs.writeText(s"$staging/$MarkerName", s"$queryId:$batchId", conf)
    else existing.foreach { case (qid, bid) =>
      Fs.writeText(s"$staging/$MarkerName", s"$qid:$bid", conf)
    }

  /** Fold one batch into the parquet store at `path` (see the object
    * doc for the steps). `next` maps the prior state (None when the
    * store does not exist yet) to the new state; it is not called for a
    * replayed batch.
    */
  def fold(spark: SparkSession, path: String, batchId: Long, queryId: String)
          (next: Option[DataFrame] => DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = Fs.existsRecovered(path, conf)
    val marker = read(path, conf)
    if (alreadyApplied(marker, queryId, batchId)) return
    val prior = if (live) Some(spark.read.parquet(path)) else None
    Fs.replace(path, conf) { staging =>
      next(prior).write.mode("overwrite").parquet(staging)
      stamp(staging, conf, marker, queryId, batchId)
    }
  }

  /** Wire a stream into a sink: one foreachBatch query on `checkpoint`
    * under `trigger` (`Trigger.AvailableNow` drains what exists and
    * stops; a processing-time trigger keeps it always-on), handing each
    * batch to `apply` with its batchId and [[streamingQueryId]].
    */
  def drain(stream: DataFrame, checkpoint: String, trigger: Trigger)
           (apply: (DataFrame, Long, String) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        apply(batch, batchId, streamingQueryId(batch))
      }
      .start()

  /** The streaming queryId for a foreachBatch batch frame: stable
    * across restarts from the same checkpoint (persisted in its
    * metadata) and fresh after a checkpoint reset — exactly the
    * identity the marker needs. StreamExecution exposes it as a local
    * property on the batch's context; "" outside a streaming query.
    */
  def streamingQueryId(batch: DataFrame): String =
    Option(batch.sparkSession.sparkContext
      .getLocalProperty("sql.streaming.queryId")).getOrElse("")
}

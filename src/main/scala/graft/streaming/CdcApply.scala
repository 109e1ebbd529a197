package graft.streaming

import graft.core.Merge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous CDC application: a change stream (upserts + deletes)
  * folded into a parquet base snapshot, micro-batch by micro-batch —
  * the streaming face of [[graft.core.Merge.upsert]], and the
  * always-on version of the reference's nightly re-sync loops.
  *
  * Each micro-batch: (1) resolve the batch to its LATEST change per
  * key (event-time, id tiebreak — a batch may carry several changes
  * for one key; applying them all would make merge order ambiguous),
  * (2) Merge.upsert into the current snapshot — one anti join, change
  * set broadcast when small, (3) write the new snapshot to a staging
  * dir and promote it through [[ReplayGuard.fold]] (readers never
  * observe a half-written snapshot; the next batch restores a snapshot
  * left behind by a crash mid-swap).
  *
  * Batch-vs-stream parity: on a single batch over an empty base the
  * result is exactly "latest non-deleted change per key" — what the
  * q_stream_cdc_apply oracle checks in SQL; cross-micro-batch
  * sequencing (later batch overwrites earlier) is CdcApplySpec's job.
  *
  * Scale: per batch cost is |snapshot| ⋈ |batch-keys| — the snapshot
  * rewrite is the honest price of parquet (no in-place update); at
  * 100 TB you partition the base (e.g. by key range) and rewrite only
  * partitions the batch touches — the merge plan itself is unchanged.
  */
object CdcApply {

  /** Latest change per key within one batch: max (tsCol, idCol) wins. */
  def latestChanges(changes: DataFrame, keys: Seq[String], tsCol: String,
                    idCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc, col(idCol).desc)
    changes.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Apply one resolved batch to the snapshot at `basePath` (missing
    * base = empty) through [[ReplayGuard.fold]] without a marker: the
    * keyed latest-wins upsert is idempotent, so a replay converges.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, basePath: String,
                 keys: Seq[String], tsCol: String, idCol: String,
                 deleteCol: String): Unit = {
    val resolved = latestChanges(batch, keys, tsCol, idCol)
    ReplayGuard.fold(spark, basePath, -1L, "") {
      case Some(base) =>
        Merge.upsert(base, resolved, keys, deleteCol = Some(deleteCol))
      case None =>
        resolved.filter(!coalesce(col(deleteCol), lit(false))).drop(deleteCol)
    }
  }

  /** Wire a change stream into the snapshot: foreachBatch + the apply
    * protocol above. `Trigger.AvailableNow` drains what exists and
    * stops — the batch-refresh mode; pass a processing-time trigger
    * for always-on.
    */
  def run(changes: DataFrame, basePath: String, checkpointDir: String,
          keys: Seq[String], tsCol: String, idCol: String,
          deleteCol: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(changes, checkpointDir, trigger) { (batch, _, _) =>
      applyBatch(batch.sparkSession, batch, basePath, keys, tsCol, idCol,
        deleteCol)
    }
}

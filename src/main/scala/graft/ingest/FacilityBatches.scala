package graft.ingest

import graft.logs.LogStore
import graft.model.SyncState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Facility-parallel batching (SURVEY §3.2,
  * multi_file_ingestion_process.py): the reference seeds a
  * batch_facility_processing claim table from a LIMIT-50 slice of pending
  * sync rows (INSERT…SELECT GROUP BY facility_id) and fans facilities out
  * over a 20-thread pool with optimistic claim/ack updates.
  *
  * Spark-first shape: the thread pool disappears — partition parallelism
  * over facilities replaces it — but the claim-table *protocol* is kept
  * (it is observable state the reference's reports read). Claims/acks are
  * LogStore appends with latest-wins resolution.
  */
object FacilityBatches {

  val Unprocessed = "UNPROCESSED"
  val Processed = "PROCESSED"
  val FailedStatus = "FAILED"

  /** Seed batch rows: pending-file counts per facility over a capped
    * slice of the work list (multi_file_ingestion_process.py:31-66,
    * LIMIT 50 seed → GROUP BY facility_id). error_message is seeded null
    * so ack's conditional update never widens the table schema.
    */
  def seedBatches(syncFile: DataFrame, sliceCap: Int = 50): DataFrame =
    syncFile
      .filter(col("processed") === SyncState.Ready)
      .orderBy(col("modified_date").asc, col("file_name").asc)
      .limit(sliceCap)
      .groupBy("facility_id")
      .agg(count(lit(1)).cast("int").as("file_count"))
      .withColumn("status", lit(Unprocessed))
      .withColumn("error_message", lit(null).cast("string"))

  /** Claim the next batch of unprocessed facilities (the reference's
    * SELECT ... WHERE status='UNPROCESSED' + ThreadPool batches of 20).
    */
  def claim(batches: DataFrame, batchSize: Int = 20): DataFrame =
    batches.filter(col("status") === Unprocessed)
      .orderBy(col("facility_id"))
      .limit(batchSize)

  /** Ack a facility's completion: new version rows with the outcome
    * (multi_file_ingestion_process.py:69-84's conditional UPDATE).
    */
  def ack(store: LogStore, table: String, batches: DataFrame,
          facilityId: String, ok: Boolean, error: Option[String] = None): Unit = {
    val updated = batches.filter(col("facility_id") === facilityId)
      .withColumn("status", lit(if (ok) Processed else FailedStatus))
      .withColumn("error_message", lit(error.orNull).cast("string"))
    store.update(table, updated)
  }

  /** One facility's outcome from [[runClaimed]]. */
  final case class FacilityOutcome(facilityId: String, ok: Boolean,
                                   result: Option[Pipeline.RunResult],
                                   error: Option[String])

  /** The §3.2 entry point end-to-end (multi_file_ingestion_process.py
    * :107-130 + multithread_file_loader.py:250-260): seed the claim
    * table from the pending work list, claim a batch of facilities, run
    * the REAL ingestion pipeline facility-filtered per claim, and ack
    * each with PROCESSED/FAILED — a failing facility is acked FAILED and
    * the rest continue, like the reference's per-thread try/except.
    *
    * `parallelism` > 1 reproduces the reference's 20-thread facility
    * fan-out inside one driver. It requires the facility-isolated
    * staging layout (`cfg.partitionStagingBy`): each claim then writes
    * straight into its own partition directory (Pipeline.writeOut), so
    * concurrent claims never share a data-plane output dir, and the
    * control-plane appends serialize through the LogStore writer lock.
    * Sync/monitoring updates are disjoint by construction — each claim
    * touches only its own facility's rows, and MVCC appends never
    * rewrite shared state. The default stays sequential: each
    * Pipeline.run already parallelizes across entities and partitions,
    * so threads only help when per-facility batches are small and
    * latency-bound (many tiny JSON reads), exactly the reference's
    * regime.
    */
  def runClaimed(spark: org.apache.spark.sql.SparkSession, cfg: Pipeline.Config,
                 table: String = "batch_facility_processing",
                 sliceCap: Int = 50, batchSize: Int = 20,
                 parallelism: Int = 1): Seq[FacilityOutcome] = {
    require(parallelism <= 1 || cfg.partitionStagingBy.isDefined,
      "concurrent facility claims need the facility-isolated staging " +
        "layout: set cfg.partitionStagingBy (e.g. stg_datim_id)")
    val store = cfg.logStore
    val sync = store.latestOrEmpty("sync_file", Seq("id"),
      graft.model.SchemaRegistry.syncFile)
    val seeded = seedBatches(sync, sliceCap)
    if (seeded.isEmpty) return Seq.empty
    store.append(table, seeded)
    val claimed = claim(store.latest(table, Seq("facility_id")), batchSize)
      .select("facility_id").collect().map(_.getString(0)).toSeq
    def runOne(fac: String): FacilityOutcome =
      try {
        val r = Pipeline.run(spark, cfg.copy(facilityId = Some(fac)))
        ack(store, table, store.latest(table, Seq("facility_id")), fac, ok = true)
        FacilityOutcome(fac, ok = true, Some(r), None)
      } catch {
        case e: Exception =>
          val error = Some(Stages.errorText(e))
          ack(store, table, store.latest(table, Seq("facility_id")), fac,
            ok = false, error)
          FacilityOutcome(fac, ok = false, None, error)
      }
    FanOut.run(claimed, parallelism)(runOne)
  }
}

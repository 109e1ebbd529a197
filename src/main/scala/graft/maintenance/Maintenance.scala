package graft.maintenance

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maintenance jobs (SURVEY §7.1.5): duplicate detection/cleanup, sync
  * healing, deletion eligibility, staged-record deletion, file retention.
  * All set-based — the reference's per-row UPDATE/DELETE statements become
  * window/semi/anti-join dataflows.
  */
object Maintenance {

  /** Default Hadoop conf for the FS-sweep utilities: the ACTIVE
    * session's, never a bare `new Configuration()` — a bare one drops
    * every spark.hadoop.* override (s3a credentials/endpoints), so on
    * a real cluster the sweep would silently see an empty listing and
    * delete/report nothing while local file:// tests keep passing.
    */
  private def sessionHadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** W1: duplicate sync rows per (file_name, facility_id), latest first
    * (quality_assessments/duplicates_check.sql:1-17). Returns rows with
    * `row_num`; `row_num > 1` are the duplicates to report/delete.
    */
  def duplicateSyncRows(syncFile: DataFrame): DataFrame = {
    val w = Window.partitionBy("file_name", "facility_id")
      .orderBy(col("modified_date").desc)
    syncFile.withColumn("row_num", row_number().over(w))
  }

  /** J3: the dedup DELETE re-expressed — keep only row_num = 1
    * (duplicates_check.sql:26-54). Returns the retained frame.
    */
  def dedupSyncFile(syncFile: DataFrame): DataFrame =
    duplicateSyncRows(syncFile).filter(col("row_num") === 1).drop("row_num")

  /** J1: self-join heal — rows whose (file_name) has a successful twin
    * (processed=2 on another id) get ingest_error_message='No errors'
    * (duplicates_check.sql:20-23). Equi join on file_name + theta
    * residuals, then a conditional rewrite.
    */
  def healSyncErrors(syncFile: DataFrame): DataFrame = {
    val healed = syncFile.filter(col("processed") === 2)
      .select(col("file_name").as("h_file"), col("id").as("h_id"),
        col("processed").as("h_processed"))
    val healKeys = syncFile.join(healed,
        col("file_name") === col("h_file") &&
          col("processed") =!= col("h_processed") &&
          col("id") =!= col("h_id"))
      .select("id").distinct()
    syncFile.join(healKeys.withColumnRenamed("id", "heal_id"),
        col("id") === col("heal_id"), "left")
      .withColumn("ingest_error_message",
        when(col("heal_id").isNotNull, lit("No errors"))
          .otherwise(col("ingest_error_message")))
      .drop("heal_id")
  }

  /** P6 + J2 + O1: deletion-eligible files — terminal status, recent
    * enough, fully logged, and NOT already in the deletion log
    * (automate_file_delete.py:91-103). One anti-join, batch-capped.
    * Only the log's ENCRYPTED rows block re-selection — the reference's
    * `fdl.file_name NOT ILIKE '%_decrypted%'` guard — since
    * [[deleteFiles]] logs one row per physical file of the pair.
    */
  def deletionEligible(syncFile: DataFrame, deletionLog: DataFrame,
                       watermark: String = "2024-09-01",
                       cap: Int = 13000): DataFrame = {
    val logged = deletionLog
      .filter(col("deletion_status_check").isin("success", "failed") &&
        !lower(col("file_name")).contains("_decrypted"))
      .select(col("file_name").as("del_file"))
      .distinct()
    syncFile
      .filter(col("processed").isin(2, -2) &&
        col("modified_date") >= lit(watermark).cast("timestamp") &&
        col("ingest_end_time").isNotNull && col("file_name").isNotNull)
      .join(logged, col("file_name") === col("del_file"), "left_anti")
      .orderBy(col("modified_date").asc, col("file_name").asc)
      .limit(cap)
  }

  /** S16: staged-record deletion — drop staged rows already migrated
    * (proc_delete_stg_records analog). Returns the retained frame; the
    * caller overwrites the staging table.
    */
  def deleteMigrated(staging: DataFrame, migratedKeys: DataFrame,
                     keyCols: Seq[String]): DataFrame =
    staging.join(migratedKeys.select(keyCols.map(col): _*).distinct(),
      keyCols, "left_anti")

  /** S15: pattern-based retention sweep (delete_old_files.sh:15-20) —
    * list facility dirs, match file names against the retention pattern,
    * delete (or dry-run). Hadoop FS metadata ops (works on file://,
    * HDFS, and object stores alike) — file *metadata*, not data.
    */
  def retentionSweep(parentDir: String, namePattern: String,
                     dryRun: Boolean = true,
                     conf: org.apache.hadoop.conf.Configuration =
                       sessionHadoopConf): Seq[String] = {
    val rx = namePattern.r
    val hits = graft.core.Fs.listDirs(parentDir, conf)
      .flatMap(fac => graft.core.Fs.listFiles(fac.getPath.toString, conf))
      .filter(f => rx.findFirstIn(f.getPath.getName).isDefined)
      .map(_.getPath.toString)
    if (!dryRun) hits.foreach(p => graft.core.Fs.delete(p, conf))
    hits
  }

  /** Small-file compaction for a staging-table directory. Every
    * micro-batch append leaves at least one parquet file per run (more
    * under the facility-partitioned layout), so a table ingested hourly
    * for a year accumulates thousands of near-empty files and every
    * scan pays the per-file open/list cost — the data-plane twin of the
    * LogStore MVCC compaction. Rewrites the directory to
    * ≈`targetFileBytes` files (coalesce — a width reduction, no
    * shuffle), preserving a Hive-partitioned layout when `partitionBy`
    * is set, through the crash-safe [[graft.core.Fs.replace]] (ingest's
    * appends recover a swap that died mid-way before they write).
    * Returns the file-count target it wrote with.
    *
    * Like LogStore, cross-process concurrency is out of contract: run
    * it from the single maintenance driver (the reference's cron), not
    * concurrently with an ingest into the same table.
    */
  def compactStagingTable(spark: SparkSession, tableDir: String,
                          partitionBy: Option[String] = None,
                          targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    graft.core.Fs.replace(tableDir, conf) { staging =>
      val nFiles = graft.core.Fs.targetFileCount(
        graft.core.Fs.dataFileStats(tableDir, conf).bytes, targetFileBytes).toInt
      val writer =
        spark.read.parquet(tableDir).coalesce(nFiles).write.mode("overwrite")
      partitionBy.fold(writer)(c => writer.partitionBy(c)).parquet(staging)
      nFiles
    }
  }

  /** Trigger-gated [[compactStagingTable]] — the steady-state policy
    * (r10 verdict task: the rewrite existed but nothing scheduled it, so
    * hourly micro-batch appends accumulated small files per run — the
    * real 100×-scale killer for the report queries' scan counts).
    * Compacts only when the table's data-file count exceeds BOTH
    * `maxFiles` and `fileRatio` × the ≈`targetFileBytes` count the
    * rewrite would produce — i.e. when the layout is genuinely
    * fragmented, not merely large. Both probes are pure FS metadata
    * (one recursive listing); the common healthy-table case costs zero
    * Spark jobs. Returns Some(filesWritten) iff it compacted.
    */
  def compactStagingIfNeeded(spark: SparkSession, tableDir: String,
                             partitionBy: Option[String] = None,
                             targetFileBytes: Long = 128L * 1024 * 1024,
                             maxFiles: Int = 64,
                             fileRatio: Double = 4.0): Option[Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stats = graft.core.Fs.dataFileStats(tableDir, conf)
    val targetFiles = graft.core.Fs.targetFileCount(stats.bytes, targetFileBytes)
    if (stats.files <= maxFiles || stats.files < fileRatio * targetFiles) None
    else Some(compactStagingTable(spark, tableDir, partitionBy, targetFileBytes))
  }

  /** Compact every ALLOWLISTED staging table that exists under the
    * warehouse — the registry's `stagingTables` list driving the sweep
    * the way the reference's 44-table allowlist drives its hourly
    * deletion pass (stg_records_deletion_process.py:36-49). Returns the
    * per-table file-count targets written.
    */
  def compactAllStaging(spark: SparkSession, warehouseDir: String,
                        tables: Seq[String],
                        partitionBy: Option[String] = None,
                        targetFileBytes: Long = 128L * 1024 * 1024)
      : Map[String, Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.flatMap { t =>
      val dir = s"$warehouseDir/$t"
      if (graft.core.Fs.existsRecovered(dir, conf))
        Some(t -> compactStagingTable(spark, dir, partitionBy, targetFileBytes))
      else None
    }.toMap
  }

  /** The steady-state maintenance sweep: [[compactStagingIfNeeded]]
    * over the allowlist (skipping absent tables), returning only the
    * tables it actually rewrote. The scheduled counterpart of
    * [[compactAllStaging]] — run it from the single maintenance driver
    * on the reference's cron cadence; healthy tables cost one FS
    * listing each.
    */
  def compactAllStagingIfNeeded(spark: SparkSession, warehouseDir: String,
                                tables: Seq[String],
                                partitionBy: Option[String] = None,
                                targetFileBytes: Long = 128L * 1024 * 1024,
                                maxFiles: Int = 64,
                                fileRatio: Double = 4.0): Map[String, Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.flatMap { t =>
      val dir = s"$warehouseDir/$t"
      if (!graft.core.Fs.existsRecovered(dir, conf)) None
      else compactStagingIfNeeded(spark, dir, partitionBy, targetFileBytes,
        maxFiles, fileRatio).map(t -> _)
    }.toMap
  }

  /** S7: export a quarantine table to CSV
    * (automate_table_extraction.py:64-66).
    */
  def exportBadRecords(spark: SparkSession, tableDir: String,
                       outDir: String): Unit =
    spark.read.parquet(tableDir)
      .write.mode("overwrite").option("header", "true").csv(outDir)

  /** S6: quarantine-table discovery — every warehouse table ending
    * `_bad_dates` (automate_table_extraction.py:52-57's
    * information_schema ILIKE, as a catalog/FS listing).
    */
  def quarantineTables(warehouseDir: String,
                       conf: org.apache.hadoop.conf.Configuration =
                         sessionHadoopConf): Seq[String] =
    graft.core.Fs.listTables(warehouseDir, conf)
      .map(_.getPath.getName)
      .filter(_.endsWith("_bad_dates"))
      .sorted

  /** Manual monitoring requeue — the reference's operational UPDATE
    * playbook (`UPDATE stg_monitoring SET processed='N' WHERE
    * processed='F' AND <table predicate>`, stg_monitoring_summary.sql
    * :21-23,57-59,73-75; the :90-93 variant also nulls error_message).
    * An MVCC update: the latest view keyed by (datim_id, file_name,
    * load_time) — one logical row per load attempt — resolves the new
    * 'N' version as current. Returns the number of rows requeued.
    */
  def requeueMonitoring(store: graft.logs.LogStore, predicate: Column,
                        clearError: Boolean = false): Long = {
    import graft.model.SchemaRegistry
    val cur = store.latestOrEmpty("stg_monitoring",
      Seq("datim_id", "file_name", "load_time"), SchemaRegistry.stgMonitoring)
    val hits = cur.filter(col("processed") === "F" && predicate)
      .withColumn("processed", lit("N"))
    val out = (if (clearError) hits.withColumn("error_message",
      lit(null).cast("string")) else hits).cache()
    val n = out.count()
    if (n > 0) store.update("stg_monitoring", out)
    out.unpersist()
    n
  }

  /** Manual sync requeue — `UPDATE sync_file SET processed=… WHERE …`
    * (file_ingestion_summary_report.sql:63-73): failed files go back to
    * Ready with the ingest_* bookkeeping cleared, so the next
    * Pipeline.run's work list picks them up again. Failed→Ready is the
    * state machine's sanctioned manual transition (SyncState:40).
    * Returns the number of rows requeued.
    */
  def requeueSyncFailures(store: graft.logs.LogStore, predicate: Column): Long = {
    import graft.model.{SchemaRegistry, SyncState}
    require(SyncState.canTransition(SyncState.Failed, SyncState.Ready))
    val cur = store.latestOrEmpty("sync_file", Seq("id"), SchemaRegistry.syncFile)
    val out = cur
      .filter(col("processed") === SyncState.Failed && predicate)
      .withColumn("processed", lit(SyncState.Ready))
      .withColumn("ingest_start_time", lit(null).cast("timestamp"))
      .withColumn("ingest_end_time", lit(null).cast("timestamp"))
      .withColumn("ingest_file_name", lit(null).cast("string"))
      .withColumn("ingest_status_check", lit(null).cast("string"))
      .withColumn("json_rec_count", lit(null).cast("int"))
      .withColumn("ingest_error_message", lit(null).cast("string"))
      .cache()
    val n = out.count()
    if (n > 0) store.update("sync_file", out)
    out.unpersist()
    n
  }

  /** One file-deletion outcome (S14): one result per PHYSICAL file —
    * the reference writes two `file_deletion_log` rows per (encrypted,
    * decrypted) pair (automate_file_delete.py:116-117), each with its
    * own status.
    */
  final case class DeletionResult(fileName: String, facilityId: String,
                                  tableName: String, deleted: Boolean,
                                  status: String, error: String,
                                  startedAt: java.sql.Timestamp,
                                  endedAt: java.sql.Timestamp)

  /** S14: physically delete ingested encrypted+decrypted file pairs.
    * Input is (facility, encrypted name, decrypted name) from the
    * [[deletionEligible]] frame (capped). The deletes run DISTRIBUTED —
    * one task per path slice, the same `parallelize(...).mapPartitions`
    * shape as the Pipeline existence probes — because up to 13k pairs ×
    * 2 names is 26k metadata RPCs, which on an object store would stall
    * the driver for minutes if issued serially. Result order is the
    * input order (enc then dec per pair): `collect` concatenates
    * partitions in order and `mapPartitions` is order-preserving, so
    * the caller's id assignment stays deterministic. Status per file
    * mirrors automate_file_delete.py:119-140: deleted → success /
    * 'no errors'; absent → failed / 'file not found'.
    */
  def deleteFiles(spark: org.apache.spark.sql.SparkSession,
                  eligible: Seq[(String, String, String)],
                  parentDir: String): Seq[DeletionResult] = {
    val files = eligible.flatMap { case (facilityId, encName, decName) =>
      Seq((facilityId, encName), (facilityId, decName))
    }
    if (files.isEmpty) Seq.empty
    else {
      // Ship the SESSION hadoop conf to the tasks: a fresh Configuration()
      // on the executor would drop spark.hadoop.* overrides (object-store
      // credentials, endpoints, fs impls) and misreport every delete as
      // "file not found" on a real cluster.
      val confBc = graft.core.Fs.broadcastConf(spark)
      spark.sparkContext
        .parallelize(files.toIndexedSeq, math.min(files.length, 64))
        .mapPartitions { it =>
          val conf = confBc.value.value
          it.map { case (facilityId, name) =>
            val started = new java.sql.Timestamp(System.currentTimeMillis())
            val ok = graft.core.Fs.delete(s"$parentDir/$facilityId/$name", conf)
            DeletionResult(name, facilityId,
              graft.model.FileName.deriveTableName(name), ok,
              if (ok) "success" else "failed",
              if (ok) "no errors" else "file not found",
              started, new java.sql.Timestamp(System.currentTimeMillis()))
          }
        }.collect().toSeq
    }
  }

  /** The wired S14 loop (automate_file_delete.py:87-151): read the
    * latest sync/deletion-log views, select the eligible batch, delete
    * the physical pairs, and PERSIST one `file_deletion_log` row per
    * file through the LogStore — so the next run's [[deletionEligible]]
    * anti-join reads exactly what this run wrote (the reference's
    * insert-RETURNING-id/update cycle collapsed into one append with
    * driver-allocated ids). `json_rec_count` is 0 as in the reference,
    * whose `count_of_df` is never assigned.
    */
  def runFileDeletion(store: graft.logs.LogStore, parentDir: String,
                      watermark: String = "2024-09-01",
                      cap: Int = 13000): Seq[DeletionResult] = {
    import graft.model.SchemaRegistry
    val spark = store.spark
    import spark.implicits._
    val sync = store.latestOrEmpty("sync_file", Seq("id"), SchemaRegistry.syncFile)
    val delLog = store.latestOrEmpty("file_deletion_log", Seq("id"),
      SchemaRegistry.fileDeletionLog)
    val eligible = deletionEligible(sync, delLog, watermark, cap)
      .select(col("facility_id"), col("file_name"),
        coalesce(col("ingest_file_name"), col("decrypted_file_name")).as("dec"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    val results = deleteFiles(spark, eligible, parentDir)
    if (results.nonEmpty) {
      val maxId =
        if (store.exists("file_deletion_log"))
          Option(delLog.agg(max("id")).first().get(0))
            .fold(0L)(_.asInstanceOf[Long])
        else 0L
      store.append("file_deletion_log", results.zipWithIndex.map {
        case (r, i) => (maxId + i + 1, r.startedAt, r.endedAt, r.status,
          r.tableName, r.fileName, r.facilityId, 0, r.error)
      }.toDF("id", "deletion_start_time", "deletion_end_time",
        "deletion_status_check", "table_name", "file_name", "facility_id",
        "json_rec_count", "error_message"))
    }
    results
  }
}

package graft.reports

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Monitoring/report queries over the control-plane tables — the
  * reference's analyst SQL re-expressed as library dataflows (SURVEY
  * §7.1.6). Every aggregate is a single partial+final hash aggregate; the
  * report inputs are the (small) log tables, so these are cheap at any
  * corpus scale.
  */
object Reports {

  /** A3: the process-summary report (pcs_summary_report.py:25-34) —
    * sync_file status pivot-by-CASE. `asOf` stamps `check_data`
    * deterministically (the reference uses CURRENT_TIMESTAMP).
    */
  def processSummary(syncFile: DataFrame, since: String,
                     asOf: java.sql.Timestamp): DataFrame =
    syncFile.filter(col("create_date") >= lit(since).cast("timestamp"))
      .agg(
        count(lit(1)).as("total_files"),
        sum(when(col("processed") === 2, 1).otherwise(0)).as("processed_count"),
        sum(when(col("processed") === 0, 1).otherwise(0)).as("just_uploaded"),
        sum(when(col("processed") === -1, 1).otherwise(0)).as("decryption_queue"),
        sum(when(col("processed") === 1, 1).otherwise(0)).as("decrypted_complete"),
        sum(when(col("processed") === -2 && col("ingest_status_check").isNull, 1)
          .otherwise(0)).as("real_decryption_fails"),
        sum(when(col("processed") === -2 && col("ingest_status_check").isNotNull, 1)
          .otherwise(0)).as("ingestion_fails"),
        sum(when(col("processed") === -2, 1).otherwise(0)).as("fails"))
      .withColumn("check_data", lit(asOf))

  /** Persist the process summary: the reference INSERTs the computed row
    * into process_summary_report each run (pcs_summary_report.py:25-34);
    * here it's a LogStore append of [[processSummary]]'s single row.
    */
  def persistProcessSummary(store: graft.logs.LogStore, since: String,
                            asOf: java.sql.Timestamp): Unit = {
    val sync = store.latestOrEmpty("sync_file", Seq("id"),
      graft.model.SchemaRegistry.syncFile)
    store.append("process_summary_report", processSummary(sync, since, asOf))
  }

  /** A4 + O2: unprocessed file counts per table, largest backlog first
    * (stg_monitoring_summary.sql:1-10).
    */
  def unprocessedByTable(monitoring: DataFrame, topK: Int = 100): DataFrame =
    monitoring.filter(col("processed") === "N")
      .groupBy("table_name").agg(count(lit(1)).as("n_files"))
      .orderBy(col("n_files").desc, col("table_name"))
      .limit(topK)

  /** A8: distinct error triage (stg_monitoring_summary.sql:14-19). */
  def distinctErrors(monitoring: DataFrame): DataFrame =
    monitoring.filter(col("error_message").isNotNull)
      .select("error_message").distinct()
      .orderBy("error_message")

  /** U1 + A3: ingestion summary — one labeled conditional-agg block per
    * process type, unioned (file_ingestion_summary_report.sql:1-26).
    */
  def ingestionSummary(pipelineLog: DataFrame): DataFrame = {
    def block(processType: String) =
      pipelineLog.filter(col("process_type") === processType)
        .agg(
          sum(when(col("status") === "completed", 1).otherwise(0)).as("completed_runs"),
          sum(when(col("status") =!= "completed", 1).otherwise(0)).as("failed_runs"),
          coalesce(sum("records_processed"), lit(0L)).as("records_processed"))
        .select(lit(processType).as("process_type"), col("completed_runs"),
          col("failed_runs"), col("records_processed"))
    block("file_ingest_process").unionByName(block("dsd_ingest_process"))
  }

  /** A5 + F13: per-table batch window — min start, max end, span
    * (file_ingestion_summary_report.sql:38-51).
    */
  def batchWindows(batchLogs: DataFrame): DataFrame =
    batchLogs.groupBy("table_name")
      .agg(min("start_time").as("min_start"), max("end_time").as("max_end"),
        count(lit(1)).as("n_batches"))
      .withColumn("span_us",
        unix_micros(col("max_end")) - unix_micros(col("min_start")))
      .orderBy("table_name")

  /** Event-time windowed monitoring aggregate with a watermark: rows
    * per (window, key) — the stg_monitoring group-counts over event
    * time. Late rows beyond the watermark are dropped, bounding state
    * when `df` streams.
    */
  def windowedCounts(df: DataFrame, tsCol: String, keyCol: String,
                     window: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window)
        .as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"))

  /** O2 + F12: table sizes, biggest first (table_sizes.sql:1-11) —
    * data-file bytes per staging table dir, partition dirs included,
    * with pretty-printed size ([[graft.core.Fs.dataFileStats]]: checksums,
    * markers and a crashed write's `_temporary` tree are not data;
    * [[graft.core.Fs.listTables]]: a crashed rewrite's hidden siblings
    * are not tables).
    * Hadoop FS listings, so the same report runs on HDFS/object stores.
    */
  def tableSizes(warehouseDir: String, spark: org.apache.spark.sql.SparkSession,
                 topK: Int = 100): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = graft.core.Fs.listTables(warehouseDir, conf).map { d =>
      (d.getPath.getName, graft.core.Fs.dataFileStats(d.getPath.toString, conf).bytes)
    }
    rows.toDF("table_name", "total_bytes")
      .withColumn("pretty_size", graft.ingest.Stages.prettySize(col("total_bytes")))
      .orderBy(col("total_bytes").desc, col("table_name"))
      .limit(topK)
  }
}

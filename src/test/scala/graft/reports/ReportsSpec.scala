package graft.reports

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions.col

class ReportsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("processSummary pivots the state machine exactly like the reference") {
    val sync = Seq(
      (1L, 2, null.asInstanceOf[String], ts("2025-01-01 00:00:00")),
      (2L, 0, null.asInstanceOf[String], ts("2025-01-01 00:00:00")),
      (3L, -1, null.asInstanceOf[String], ts("2025-01-01 00:00:00")),
      (4L, 1, null.asInstanceOf[String], ts("2025-01-01 00:00:00")),
      (5L, -2, null.asInstanceOf[String], ts("2025-01-01 00:00:00")), // real decryption fail
      (6L, -2, "failed", ts("2025-01-01 00:00:00")),                  // ingestion fail
      (7L, 2, "success", ts("2020-01-01 00:00:00"))                   // before window
    ).toDF("id", "processed", "ingest_status_check", "create_date")
    val r = Reports.processSummary(sync, "2024-03-21", ts("2026-01-01 00:00:00"))
      .collect().head
    assert(r.getAs[Long]("total_files") === 6)
    assert(r.getAs[Long]("processed_count") === 1)
    assert(r.getAs[Long]("just_uploaded") === 1)
    assert(r.getAs[Long]("decryption_queue") === 1)
    assert(r.getAs[Long]("decrypted_complete") === 1)
    assert(r.getAs[Long]("real_decryption_fails") === 1)
    assert(r.getAs[Long]("ingestion_fails") === 1)
    assert(r.getAs[Long]("fails") === 2)
  }

  test("persistProcessSummary appends the computed row to the log store") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pcs_").toFile
    val store = graft.logs.LogStore(spark, dir.getPath)
    store.append("sync_file", Seq(
      (1L, 2, "success", ts("2025-01-01 00:00:00")),
      (2L, 1, null.asInstanceOf[String], ts("2025-01-02 00:00:00")),
      (3L, -2, "failed", ts("2025-01-03 00:00:00"))
    ).toDF("id", "processed", "ingest_status_check", "create_date"))
    Reports.persistProcessSummary(store, "2024-03-21", ts("2026-01-01 00:00:00"))
    val rows = store.history("process_summary_report").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("total_files") === 3)
    assert(rows.head.getAs[Long]("processed_count") === 1)
    assert(rows.head.getAs[Long]("ingestion_fails") === 1)
    assert(rows.head.getAs[Timestamp]("check_data") === ts("2026-01-01 00:00:00"))
    // a second run appends (history grows), like the reference's INSERT
    Reports.persistProcessSummary(store, "2024-03-21", ts("2026-01-02 00:00:00"))
    assert(store.history("process_summary_report").count() === 2)
  }

  test("unprocessedByTable ranks the backlog, distinctErrors dedups") {
    val mon = Seq(
      ("stg_a", "N", "boom"), ("stg_a", "N", "boom"),
      ("stg_b", "N", null), ("stg_b", "Y", "other")
    ).toDF("table_name", "processed", "error_message")
    val top = Reports.unprocessedByTable(mon).collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("stg_a", 2L), ("stg_b", 1L)))
    assert(Reports.distinctErrors(mon).as[String].collect().toSeq
      === Seq("boom", "other"))
  }

  test("ingestionSummary unions labeled per-process blocks") {
    val logs = Seq(
      ("file_ingest_process", "completed", 100),
      ("file_ingest_process", "failed", 0),
      ("dsd_ingest_process", "completed", 7)
    ).toDF("process_type", "status", "records_processed")
    val out = Reports.ingestionSummary(logs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      ("file_ingest_process", 1L, 1L, 100L),
      ("dsd_ingest_process", 1L, 0L, 7L)))
  }

  test("batchWindows computes min/max/span per table") {
    val logs = Seq(
      ("stg_a", ts("2025-01-01 10:00:00"), ts("2025-01-01 10:00:05")),
      ("stg_a", ts("2025-01-01 11:00:00"), ts("2025-01-01 11:00:10"))
    ).toDF("table_name", "start_time", "end_time")
    val r = Reports.batchWindows(logs).collect().head
    assert(r.getAs[Long]("n_batches") === 2)
    assert(r.getAs[Long]("span_us") === 3610000000L) // 1h00m10s in µs
  }

  test("tableSizes reports bytes per staging dir with pretty print") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_").toFile
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"${wh.getPath}/stg_a")
    val out = Reports.tableSizes(wh.getPath, spark).collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "stg_a")
    assert(out.head.getLong(1) > 0)
    assert(out.head.getString(2).matches("[0-9.]+ (B|KB|MB|GB)"))
  }

  test("tableSizes counts a partitioned table's data files, not its markers") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_part_").toFile
    val table = s"${wh.getPath}/stg_p"
    Seq((1L, "FAC1"), (2L, "FAC2"), (3L, "FAC2")).toDF("id", "fac")
      .write.partitionBy("fac").parquet(table)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val parquetBytes = walk(new java.io.File(table))
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(parquetBytes > 0)
    val out = Reports.tableSizes(wh.getPath, spark).collect()
    assert(out.map(r => r.getString(0) -> r.getLong(1)).toSeq ===
      Seq("stg_p" -> parquetBytes))
  }

  test("tableSizes and quarantineTables never list a crashed rewrite's " +
      "siblings as tables") {
    import graft.core.Fs
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_sib_").toFile
    val rows = Seq((1L, "x")).toDF("id", "v")
    Seq("stg_a", "stg_a_bad_dates").foreach { t =>
      val live = s"${wh.getPath}/$t"
      rows.write.parquet(live)
      rows.write.parquet(Fs.oldDir(live))
      rows.write.parquet(Fs.stagingDir(live))
    }
    assert(Reports.tableSizes(wh.getPath, spark).collect().map(_.getString(0)).toSet ===
      Set("stg_a", "stg_a_bad_dates"))
    assert(graft.maintenance.Maintenance.quarantineTables(wh.getPath) ===
      Seq("stg_a_bad_dates"))
  }

  test("windowed counts bucket by event-time hour") {
    val df = Seq(
      ("2024-01-01 10:05:00", "click"),
      ("2024-01-01 10:55:00", "click"),
      ("2024-01-01 11:05:00", "click"),
      ("2024-01-01 10:20:00", "view")
    ).toDF("raw", "event_type")
      .select(col("raw").cast("timestamp").as("ts"), col("event_type"))
    val out = Reports.windowedCounts(df, "ts", "event_type")
      .orderBy("window_start", "event_type").collect()
    assert(out.map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSeq
      === Seq(
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 10:00:00.0", "view", 1L),
      ("2024-01-01 11:00:00.0", "click", 1L)))
  }
}

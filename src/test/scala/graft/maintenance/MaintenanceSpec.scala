package graft.maintenance

import graft.SparkSpec
import java.sql.Timestamp

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sync = Seq(
    // duplicate (file_name, facility_id): id 1 old, id 2 newer
    (1L, "FAC1", "a.json", 2, ts("2025-01-01 10:00:00"), ts("2025-01-02 10:00:00"), "boom"),
    (2L, "FAC1", "a.json", -2, ts("2025-01-01 10:00:00"), ts("2025-01-03 10:00:00"), "boom"),
    (3L, "FAC2", "a.json", -2, ts("2025-01-01 10:00:00"), ts("2025-01-02 10:00:00"), "err"),
    (4L, "FAC2", "b.json", 2, ts("2025-01-01 10:00:00"), ts("2025-01-02 10:00:00"), null)
  ).toDF("id", "facility_id", "file_name", "processed",
    "ingest_end_time", "modified_date", "ingest_error_message")

  test("W1: duplicate detection ranks latest first; dedup keeps one per key") {
    val ranked = Maintenance.duplicateSyncRows(sync)
    val dups = ranked.filter($"row_num" > 1).select("id").as[Long].collect()
    assert(dups.toSeq === Seq(1L)) // id 2 is newer, id 1 is the duplicate
    val kept = Maintenance.dedupSyncFile(sync).select("id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L, 3L, 4L))
  }

  test("J1: heal marks rows whose file has a successful twin") {
    val healed = Maintenance.healSyncErrors(sync)
      .select("id", "ingest_error_message").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // id 2 (failed a.json) has twin id 1 (processed=2, same file) → healed
    assert(healed(2L) === "No errors")
    // id 3 failed a.json at FAC2 — heal is by file_name only (the
    // reference's cross-facility collision quirk, duplicates_check.sql:20-23,
    // preserved deliberately) → also healed
    assert(healed(3L) === "No errors")
    // id 4 succeeded and has no differing twin → untouched (null)
    assert(healed(4L) === null)
    // id 1 (processed=2) has a twin with different status → healed too?
    // reference requires b.processed=2 on the OTHER side; id 2 is -2, so
    // id 1 keeps its message
    assert(healed(1L) === "boom")
  }

  test("P6+J2: deletion eligibility excludes already-logged files") {
    val deletionLog = Seq(("a.json", "success")).toDF("file_name", "deletion_status_check")
    val eligible = Maintenance.deletionEligible(sync, deletionLog)
      .select("id").as[Long].collect()
    // a.json rows are logged → excluded; b.json (id 4, processed=2) eligible
    assert(eligible.toSeq === Seq(4L))
  }

  test("S16: staged deletion retains only un-migrated rows") {
    val staging = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
    val migrated = Seq(Tuple1(2L)).toDF("id")
    val kept = Maintenance.deleteMigrated(staging, migrated, Seq("id"))
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L))
  }

  test("S15: retention sweep matches pattern, honors dry-run") {
    val root = java.nio.file.Files.createTempDirectory("graft_ret_").toFile
    val fac = new java.io.File(root, "FAC1"); fac.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(fac, "x_202404_1.json").toPath, "a")
    java.nio.file.Files.writeString(new java.io.File(fac, "x_202505_1.json").toPath, "b")
    val hits = Maintenance.retentionSweep(root.getPath, "202404", dryRun = true)
    assert(hits.size === 1 && hits.head.contains("x_202404_1.json"))
    assert(new java.io.File(fac, "x_202404_1.json").exists()) // dry run
    Maintenance.retentionSweep(root.getPath, "202404", dryRun = false)
    assert(!new java.io.File(fac, "x_202404_1.json").exists())
    assert(new java.io.File(fac, "x_202505_1.json").exists())
  }

  test("S6: quarantine discovery lists only *_bad_dates tables") {
    val wh = java.nio.file.Files.createTempDirectory("graft_whq_").toFile
    new java.io.File(wh, "stg_a").mkdirs()
    new java.io.File(wh, "stg_a_bad_dates").mkdirs()
    new java.io.File(wh, "stg_b_bad_dates").mkdirs()
    assert(Maintenance.quarantineTables(wh.getPath)
      === Seq("stg_a_bad_dates", "stg_b_bad_dates"))
  }

  test("staging compaction: many small appends collapse, rows and layout survive") {
    val root = java.nio.file.Files.createTempDirectory("graft_stgcomp_").toFile
    root.deleteOnExit()
    val flat = new java.io.File(root, "stg_t").getPath
    // 12 micro-batch appends → ≥12 parquet files
    (1 to 12).foreach(i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(flat))
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    assert(parquetFiles(flat) >= 12)
    val n = Maintenance.compactStagingTable(spark, flat)
    assert(n === 1) // tiny table → one target file
    assert(parquetFiles(flat) === 1)
    assert(spark.read.parquet(flat).count() === 12)

    // partitioned layout: partition dirs survive the rewrite
    val part = new java.io.File(root, "stg_p").getPath
    (1 to 6).foreach(i =>
      Seq((i.toLong, s"FAC${i % 2}")).toDF("id", "fac")
        .coalesce(1).write.mode("append").partitionBy("fac").parquet(part))
    Maintenance.compactStagingTable(spark, part, partitionBy = Some("fac"))
    val back = spark.read.parquet(part)
    assert(back.count() === 6)
    assert(back.select("fac").distinct().count() === 2)
    assert(parquetFiles(part) <= 2) // one per partition after compaction

    // allowlist sweep: existing tables compact, absent ones are skipped
    val swept = Maintenance.compactAllStaging(spark, root.getPath,
      Seq("stg_t", "stg_never_ingested"))
    assert(swept === Map("stg_t" -> 1))
  }

  test("staging compaction sizes its rewrite by data files: a crashed " +
      "write's _temporary part does not raise the file count") {
    val root = java.nio.file.Files.createTempDirectory("graft_stgtmp_").toFile
    root.deleteOnExit()
    val table = new java.io.File(root, "stg_t").getPath
    (1 to 3).foreach(i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(table))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val dataBytes = walk(new java.io.File(table))
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // a crashed writer's leftover attempt file, as large as the target
    val attempt = new java.io.File(table, "_temporary/0/_temporary/attempt_0")
    attempt.mkdirs()
    java.nio.file.Files.write(new java.io.File(attempt, "part-00000.parquet").toPath,
      new Array[Byte](dataBytes.toInt))
    assert(Maintenance.compactStagingTable(spark, table,
      targetFileBytes = dataBytes) === 1)
    assert(spark.read.parquet(table).count() === 3)
  }

  test("trigger-gated staging compaction: K fragmenting runs fire the sweep, " +
      "query results are invariant, a healthy table costs no rewrite") {
    val root = java.nio.file.Files.createTempDirectory("graft_stgauto_").toFile
    root.deleteOnExit()
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    // fragmented table: 10 micro-batch appends
    val frag = new java.io.File(root, "stg_frag").getPath
    (1 to 10).foreach(i =>
      Seq((i.toLong, s"FAC${i % 3}")).toDF("id", "fac")
        .coalesce(1).write.mode("append").parquet(frag))
    // healthy table: one append
    val ok = new java.io.File(root, "stg_ok").getPath
    Seq((1L, "FAC0")).toDF("id", "fac")
      .coalesce(1).write.mode("append").parquet(ok)
    // the report-shaped probe whose results must survive the rewrite
    def report(dir: String): Seq[(String, Long)] =
      spark.read.parquet(dir).groupBy("fac").count()
        .orderBy("fac").as[(String, Long)].collect().toSeq
    val before = report(frag)
    val filesBefore = parquetFiles(frag)
    assert(filesBefore >= 10)
    val swept = Maintenance.compactAllStagingIfNeeded(spark, root.getPath,
      Seq("stg_frag", "stg_ok", "stg_absent"), maxFiles = 4)
    // only the fragmented table was rewritten
    assert(swept === Map("stg_frag" -> 1))
    assert(parquetFiles(frag) === 1 && parquetFiles(frag) < filesBefore)
    assert(report(frag) === before)
    assert(parquetFiles(ok) === 1) // untouched (below the floor)
    // second sweep is a no-op: the compacted layout is under every gate
    assert(Maintenance.compactAllStagingIfNeeded(spark, root.getPath,
      Seq("stg_frag", "stg_ok"), maxFiles = 4) === Map.empty)
    // the ratio gate alone spares a big-but-healthy layout: with a tiny
    // targetFileBytes the current file count reads as ≈ what the rewrite
    // would produce anyway (not fragmented), so even maxFiles = 0
    // doesn't force a pointless rewrite
    assert(Maintenance.compactStagingIfNeeded(spark, frag,
      targetFileBytes = 1L, maxFiles = 0).isEmpty)
  }

  test("S14: deleteFiles removes encrypted+decrypted pairs, one result per file") {
    val root = java.nio.file.Files.createTempDirectory("graft_del_").toFile
    val fac = new java.io.File(root, "FAC1"); fac.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(fac, "a_1_2.json").toPath, "e")
    java.nio.file.Files.writeString(new java.io.File(fac, "a_1_2_decrypted.json").toPath, "d")
    val res = Maintenance.deleteFiles(spark,
      Seq(("FAC1", "a_1_2.json", "a_1_2_decrypted.json"),
        ("FAC1", "missing.json", "missing_decrypted.json")), root.getPath)
    assert(res.map(_.status) === Seq("success", "success", "failed", "failed"))
    assert(res.map(_.error).distinct === Seq("no errors", "file not found"))
    assert(!new java.io.File(fac, "a_1_2.json").exists())
    assert(!new java.io.File(fac, "a_1_2_decrypted.json").exists())
  }

  test("S14 round trip: delete → log → second run excludes logged files") {
    val root = java.nio.file.Files.createTempDirectory("graft_delrt_").toFile
    val parent = new java.io.File(root, "temp")
    val fac = new java.io.File(parent, "FAC1"); fac.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(fac, "t_1_100.json").toPath, "e")
    java.nio.file.Files.writeString(new java.io.File(fac, "t_1_100_decrypted.json").toPath, "d")
    // u_1_200.json intentionally absent on disk → failed log rows
    val store = graft.logs.LogStore(spark, new java.io.File(root, "logs").getPath)
    store.append("sync_file", Seq(
      (1L, "FAC1", "t_1_100.json", "t_1_100_decrypted.json",
        null.asInstanceOf[String], 2, ts("2025-01-02 10:00:00"), ts("2025-01-01 09:00:00")),
      (2L, "FAC1", "u_1_200.json", "u_1_200_decrypted.json",
        null.asInstanceOf[String], -2, ts("2025-01-02 10:00:00"), ts("2025-01-01 09:00:00"))
    ).toDF("id", "facility_id", "file_name", "decrypted_file_name",
      "ingest_file_name", "processed", "modified_date", "ingest_end_time"))

    val r1 = Maintenance.runFileDeletion(store, parent.getPath)
    assert(r1.length === 4)
    assert(r1.filter(_.fileName.startsWith("t_")).forall(_.status == "success"))
    assert(r1.filter(_.fileName.startsWith("u_")).forall(_.status == "failed"))
    val logged = store.latest("file_deletion_log", Seq("id"))
    assert(logged.count() === 4)
    assert(logged.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L))

    // second run: both encrypted names are now logged (success OR failed
    // both block, automate_file_delete.py:101) → nothing eligible
    val r2 = Maintenance.runFileDeletion(store, parent.getPath)
    assert(r2.isEmpty)
    assert(store.latest("file_deletion_log", Seq("id")).count() === 4)
  }

  test("requeue monitoring: F→N as an MVCC update, optional error clear") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_rqm_").toFile
    val store = graft.logs.LogStore(spark, dir.getPath)
    store.append("stg_monitoring", Seq(
      ("D1", "b1", "f1.json", "stg_case_manager", ts("2025-01-01 10:00:00"), 5, "F", "boom"),
      ("D1", "b1", "f2.json", "stg_other", ts("2025-01-01 10:00:00"), 3, "F", "boom2"),
      ("D2", "b2", "f3.json", "stg_case_manager", ts("2025-01-01 11:00:00"), 2, "Y",
        null.asInstanceOf[String])
    ).toDF("datim_id", "batch_id", "file_name", "table_name", "load_time",
      "json_rec_count", "processed", "error_message"))
    // UPDATE stg_monitoring SET processed='N', error_message=null
    // WHERE processed='F' AND table_name='stg_case_manager'
    val n = Maintenance.requeueMonitoring(store,
      col("table_name") === "stg_case_manager", clearError = true)
    assert(n === 1)
    val byFile = store.latest("stg_monitoring",
        Seq("datim_id", "file_name", "load_time")).collect()
      .map(r => r.getAs[String]("file_name") ->
        (r.getAs[String]("processed"), r.getAs[String]("error_message"))).toMap
    assert(byFile("f1.json") === (("N", null)))
    assert(byFile("f2.json") === (("F", "boom2"))) // predicate miss: untouched
    assert(byFile("f3.json") === (("Y", null)))    // not failed: untouched
  }

  test("metadata plane runs against explicit file:// URIs (Hadoop FS portability)") {
    // the same listings/deletes must work when the path carries a
    // filesystem scheme, as it would on HDFS/S3
    val root = java.nio.file.Files.createTempDirectory("graft_fsuri_").toFile
    val fac = new java.io.File(root, "FAC9"); fac.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(fac, "y_202404_1.json").toPath, "a")
    new java.io.File(root, "stg_q_bad_dates").mkdirs()
    val uri = "file://" + root.getPath
    assert(Maintenance.quarantineTables(uri) === Seq("stg_q_bad_dates"))
    val hits = Maintenance.retentionSweep(uri, "202404", dryRun = false)
    assert(hits.size === 1 && hits.head.contains("y_202404_1.json"))
    assert(!new java.io.File(fac, "y_202404_1.json").exists())
    val res = Maintenance.deleteFiles(spark,
      Seq(("FAC9", "gone.json", "gone_d.json")), uri)
    assert(res.map(_.status) === Seq("failed", "failed"))
  }

  test("S7: bad-records CSV export round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_").toFile
    val src = new java.io.File(dir, "src"); val out = new java.io.File(dir, "out")
    Seq((1L, "bad date"), (2L, "worse")).toDF("id", "error_message")
      .write.parquet(src.getPath)
    Maintenance.exportBadRecords(spark, src.getPath, out.getPath)
    val back = spark.read.option("header", "true").csv(out.getPath)
    assert(back.count() === 2)
    assert(back.columns.toSeq === Seq("id", "error_message"))
  }
}

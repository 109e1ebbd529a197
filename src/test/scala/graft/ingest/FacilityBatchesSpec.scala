package graft.ingest

import graft.SparkSpec
import graft.logs.LogStore
import graft.model.SyncState
import java.sql.Timestamp

class FacilityBatchesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sync = Seq(
    (1L, "FAC1", "a.json", SyncState.Ready, ts("2025-01-01 10:00:00")),
    (2L, "FAC1", "b.json", SyncState.Ready, ts("2025-01-01 11:00:00")),
    (3L, "FAC2", "c.json", SyncState.Ready, ts("2025-01-01 12:00:00")),
    (4L, "FAC3", "d.json", SyncState.Ingested, ts("2025-01-01 13:00:00"))
  ).toDF("id", "facility_id", "file_name", "processed", "modified_date")

  test("seed: pending counts per facility over the capped slice, UNPROCESSED") {
    val seeded = FacilityBatches.seedBatches(sync)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(seeded === Map(
      "FAC1" -> (2, "UNPROCESSED"), "FAC2" -> (1, "UNPROCESSED")))
  }

  test("seed honors the slice cap (reference LIMIT 50 → here LIMIT 2)") {
    val seeded = FacilityBatches.seedBatches(sync, sliceCap = 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // earliest two sync rows are both FAC1
    assert(seeded === Map("FAC1" -> 2))
  }

  test("runClaimed: seed → claim → facility-filtered runs → PROCESSED acks") {
    val root = java.nio.file.Files.createTempDirectory("graft_fbe2e_").toFile
    val parent = new java.io.File(root, "temp")
    def writeDoc(fac: String, name: String, body: String): Unit = {
      val d = new java.io.File(parent, fac); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, name).toPath, body)
    }
    writeDoc("FACA", "patient_visit_0_20250101000001_decrypted.json",
      """[{"id": 1, "uuid": "u1", "visit_date": "2024-03-01"}]""")
    writeDoc("FACB", "patient_visit_0_20250101000002_decrypted.json",
      """[{"id": 2, "uuid": "u2", "visit_date": "2024-03-02"},
        | {"id": 3, "uuid": "u3", "visit_date": "2024-03-03"}]""".stripMargin.replace("|", ""))
    val store = LogStore(spark, new java.io.File(root, "logs").getPath)
    def syncRow(id: Long, fac: String, enc: String) = {
      val dec = graft.model.FileName.decryptedName(enc)
      (id, fac, enc, dec, SyncState.Ready,
        ts("2025-02-01 00:00:00"), ts("2025-02-01 10:00:00"),
        null.asInstanceOf[Timestamp], null.asInstanceOf[Timestamp],
        null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String], null.asInstanceOf[Integer],
        null.asInstanceOf[String])
    }
    store.append("sync_file", Seq(
      syncRow(1L, "FACA", "patient_visit_0_20250101000001.json"),
      syncRow(2L, "FACB", "patient_visit_0_20250101000002.json")
    ).toDF("id", "facility_id", "file_name", "decrypted_file_name", "processed",
      "create_date", "modified_date", "ingest_start_time", "ingest_end_time",
      "ingest_file_name", "ingest_table_name", "ingest_status_check",
      "json_rec_count", "ingest_error_message"))
    val cfg = Pipeline.Config(
      parentDir = parent.getPath,
      warehouseDir = new java.io.File(root, "warehouse").getPath,
      logStore = store)

    val outcomes = FacilityBatches.runClaimed(spark, cfg)
    assert(outcomes.map(_.facilityId).sorted === Seq("FACA", "FACB"))
    assert(outcomes.forall(_.ok))
    assert(outcomes.flatMap(_.result).map(_.recordsIngested).sum === 3)

    // claim protocol is terminal + visible in the log table
    val statuses = store.latest("batch_facility_processing", Seq("facility_id"))
      .collect().map(r => r.getAs[String]("facility_id") -> r.getAs[String]("status"))
      .toMap
    assert(statuses === Map("FACA" -> "PROCESSED", "FACB" -> "PROCESSED"))
    // both facilities' rows landed in the shared staging table
    val stg = spark.read.parquet(s"${cfg.warehouseDir}/stg_patient_visit")
    assert(stg.select("stg_datim_id").distinct().collect()
      .map(_.getString(0)).sorted.toSeq === Seq("FACA", "FACB"))
    // sync rows terminal
    val states = store.latest("sync_file", Seq("id")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("processed")).toMap
    assert(states === Map(1L -> SyncState.Ingested, 2L -> SyncState.Ingested))
  }

  test("runClaimed parallel: concurrent claims on isolated staging dirs match sequential") {
    val root = java.nio.file.Files.createTempDirectory("graft_fbpar_").toFile
    val parent = new java.io.File(root, "temp")
    val facs = (1 to 4).map(i => s"FAC$i")
    facs.zipWithIndex.foreach { case (fac, i) =>
      val d = new java.io.File(parent, fac); d.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(d, s"patient_visit_0_2025010100000${i}_decrypted.json").toPath,
        s"""[{"id": $i, "uuid": "u$i", "visit_date": "2024-03-0${i + 1}"}]""")
    }
    val store = LogStore(spark, new java.io.File(root, "logs").getPath)
    store.append("sync_file", facs.zipWithIndex.map { case (fac, i) =>
      val enc = s"patient_visit_0_2025010100000$i.json"
      (i.toLong + 1, fac, enc, graft.model.FileName.decryptedName(enc),
        SyncState.Ready, ts("2025-02-01 00:00:00"), ts("2025-02-01 10:00:00"),
        null.asInstanceOf[Timestamp], null.asInstanceOf[Timestamp],
        null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String], null.asInstanceOf[Integer],
        null.asInstanceOf[String])
    }.toDF("id", "facility_id", "file_name", "decrypted_file_name", "processed",
      "create_date", "modified_date", "ingest_start_time", "ingest_end_time",
      "ingest_file_name", "ingest_table_name", "ingest_status_check",
      "json_rec_count", "ingest_error_message"))
    val cfg = Pipeline.Config(
      parentDir = parent.getPath,
      warehouseDir = new java.io.File(root, "warehouse").getPath,
      logStore = store,
      partitionStagingBy = Some("stg_datim_id"))

    val outcomes = FacilityBatches.runClaimed(spark, cfg, parallelism = 4)
    assert(outcomes.map(_.facilityId).sorted === facs)
    assert(outcomes.forall(_.ok), outcomes.filterNot(_.ok).flatMap(_.error))
    assert(outcomes.flatMap(_.result).map(_.recordsIngested).sum === 4)

    // partition discovery over the isolated per-facility dirs recovers
    // every facility's rows from the shared table root
    val stg = spark.read.parquet(s"${cfg.warehouseDir}/stg_patient_visit")
    assert(stg.count() === 4L)
    assert(stg.select("stg_datim_id").distinct().collect()
      .map(_.getString(0)).sorted.toSeq === facs)
    val states = store.latest("sync_file", Seq("id")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("processed")).toMap
    assert(states === facs.indices.map(i => (i.toLong + 1) -> SyncState.Ingested).toMap)
    val statuses = store.latest("batch_facility_processing", Seq("facility_id"))
      .collect().map(r => r.getAs[String]("facility_id") -> r.getAs[String]("status")).toMap
    assert(statuses === facs.map(_ -> "PROCESSED").toMap)
  }

  test("runClaimed parallel refuses a shared staging layout") {
    val root = java.nio.file.Files.createTempDirectory("graft_fbreq_").toFile
    val store = LogStore(spark, new java.io.File(root, "logs").getPath)
    val cfg = Pipeline.Config(parentDir = root.getPath,
      warehouseDir = new java.io.File(root, "wh").getPath, logStore = store)
    intercept[IllegalArgumentException] {
      FacilityBatches.runClaimed(spark, cfg, parallelism = 4)
    }
  }

  test("claim + ack round trip through the LogStore claim table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fb_").toFile
    val store = LogStore(spark, dir.getPath)
    store.append("batch_facility_processing", FacilityBatches.seedBatches(sync))
    val view = store.latest("batch_facility_processing", Seq("facility_id"))
    val claimed = FacilityBatches.claim(view, batchSize = 1).collect()
    assert(claimed.length === 1 && claimed.head.getString(0) === "FAC1")

    FacilityBatches.ack(store, "batch_facility_processing", view, "FAC1", ok = true)
    val after = store.latest("batch_facility_processing", Seq("facility_id"))
    val status = after.collect().map(r =>
      r.getAs[String]("facility_id") -> r.getAs[String]("status")).toMap
    assert(status("FAC1") === "PROCESSED")
    assert(status("FAC2") === "UNPROCESSED")
    // next claim skips the acked facility
    val next = FacilityBatches.claim(after).collect().map(_.getString(0))
    assert(next.toSeq === Seq("FAC2"))
  }

  test("runClaimed: a failing facility is acked FAILED with its error text, and the loop goes on") {
    val root = java.nio.file.Files.createTempDirectory("graft_fbfail_").toFile
    val store = LogStore(spark, new java.io.File(root, "logs").getPath)
    store.append("sync_file", Seq("FACA", "FACB").zipWithIndex.map { case (fac, i) =>
      val enc = s"patient_visit_0_2025010100000$i.json"
      (i.toLong + 1, fac, enc, graft.model.FileName.decryptedName(enc),
        SyncState.Ready, ts("2025-02-01 00:00:00"), ts("2025-02-01 10:00:00"),
        null.asInstanceOf[Timestamp], null.asInstanceOf[Timestamp],
        null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String], null.asInstanceOf[Integer],
        null.asInstanceOf[String])
    }.toDF("id", "facility_id", "file_name", "decrypted_file_name", "processed",
      "create_date", "modified_date", "ingest_start_time", "ingest_end_time",
      "ingest_file_name", "ingest_table_name", "ingest_status_check",
      "json_rec_count", "ingest_error_message"))
    // an unreadable ingestion log makes every claimed run throw
    val log = new java.io.File(root, "logs/file_ingestion_log"); log.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(log, "part-00000.parquet").toPath, "not parquet")
    val cfg = Pipeline.Config(parentDir = new java.io.File(root, "temp").getPath,
      warehouseDir = new java.io.File(root, "warehouse").getPath, logStore = store)

    val outcomes = FacilityBatches.runClaimed(spark, cfg)
    assert(outcomes.map(_.facilityId).sorted === Seq("FACA", "FACB"))
    assert(outcomes.forall(o => !o.ok && o.result.isEmpty && o.error.isDefined))
    val acked = store.latest("batch_facility_processing", Seq("facility_id"))
      .collect().map(r => r.getAs[String]("facility_id") ->
        ((r.getAs[String]("status"), r.getAs[String]("error_message"))))
      .toMap
    assert(acked === outcomes.map(o => o.facilityId -> (("FAILED", o.error.get))).toMap)
  }
}

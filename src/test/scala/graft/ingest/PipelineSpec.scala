package graft.ingest

import graft.SparkSpec
import graft.logs.LogStore
import graft.model.{SchemaRegistry, SyncState}
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.graftbridge.CacheBridge

/** Golden end-to-end tests of the ingestion micro-batch (FIXTURES.md §4
  * scenarios: happy path, idempotent re-run, missing file, bad dates,
  * PII masking).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs one two-entity micro-batch that compacts both logs may
    * start (broadcasts and adaptive stages count as jobs).
    */
  private val PipelineJobBudget = 24

  private def writeFile(dir: java.io.File, name: String, content: String): Unit = {
    dir.mkdirs()
    Files.writeString(new java.io.File(dir, name).toPath, content)
  }

  private def setup(): (Pipeline.Config, java.io.File) = {
    val root = Files.createTempDirectory("graft_pipe_").toFile
    root.deleteOnExit()
    val parent = new java.io.File(root, "temp")
    val cfg = Pipeline.Config(
      parentDir = parent.getPath,
      warehouseDir = new java.io.File(root, "warehouse").getPath,
      logStore = LogStore(spark, new java.io.File(root, "logs").getPath))
    (cfg, parent)
  }

  private def syncRow(id: Long, fac: String, encName: String,
                      state: Int = SyncState.Ready) = {
    val dec = graft.model.FileName.decryptedName(encName)
    (id, fac, encName, dec, state,
      Timestamp.valueOf("2025-02-01 00:00:00"), Timestamp.valueOf("2025-02-01 10:00:00"),
      null.asInstanceOf[Timestamp], null.asInstanceOf[Timestamp],
      null.asInstanceOf[String], null.asInstanceOf[String],
      null.asInstanceOf[String], null.asInstanceOf[Integer],
      null.asInstanceOf[String])
  }

  private def seedSync(cfg: Pipeline.Config,
                       rows: Seq[(Long, String, String, String, Int, Timestamp,
                         Timestamp, Timestamp, Timestamp, String, String, String,
                         Integer, String)]): Unit =
    cfg.logStore.append("sync_file", rows.toDF(
      "id", "facility_id", "file_name", "decrypted_file_name", "processed",
      "create_date", "modified_date", "ingest_start_time", "ingest_end_time",
      "ingest_file_name", "ingest_table_name", "ingest_status_check",
      "json_rec_count", "ingest_error_message"))

  test("happy path: valid file ingested with provenance + masking; logs written") {
    val (cfg, parent) = setup()
    writeFile(new java.io.File(parent, "FAC1"),
      "patient_person_0_20250103141949_decrypted.json",
      """[
        |{"id": 1, "uuid": "u1", "surname": "Ann", "first_name": "A",
         "other_name": "X", "hospital_number": "H1", "nin_number": "N1",
         "full_name": "Ann A", "date_of_birth": "1990-05-01", "archived": 0},
        |{"id": 2, "uuid": "u2", "surname": "Bob", "first_name": "B",
         "other_name": "", "hospital_number": "H2", "nin_number": "N2",
         "full_name": "Bob B", "date_of_birth": "1985-11-12", "archived": 0}
        |]""".stripMargin.replace("|", ""))
    seedSync(cfg, Seq(syncRow(1L, "FAC1", "patient_person_0_20250103141949.json")))

    val res = Pipeline.run(spark, cfg)
    assert(res.filesSeen === 1)
    assert(res.filesIngested === 1 && res.filesFailed === 0)
    assert(res.recordsIngested === 2 && res.recordsQuarantined === 0)

    val stg = spark.read.parquet(s"${cfg.warehouseDir}/stg_patient_person")
    assert(stg.count() === 2)
    val r = stg.orderBy("id").collect().head
    assert(r.getAs[String]("surname") === Stages.Mask) // F6 masked
    assert(r.getAs[String]("stg_batch_id") === "20250103141949") // F11
    assert(r.getAs[String]("stg_datim_id") === "FAC1")
    assert(r.getAs[String]("stg_file_name")
      === "patient_person_0_20250103141949_decrypted.json")

    val sync = cfg.logStore.latest("sync_file", Seq("id")).collect().head
    assert(sync.getAs[Int]("processed") === SyncState.Ingested)
    val log = cfg.logStore.history("file_ingestion_log").collect().head
    assert(log.getAs[String]("load_status_check") === "success")
    assert(log.getAs[Int]("json_rec_count") === 2)
  }

  test("idempotent re-run: second run is a no-op on staging data") {
    val (cfg, parent) = setup()
    writeFile(new java.io.File(parent, "FAC1"),
      "biometric_0_20250103141949_decrypted.json",
      """[{"id": 1, "uuid": "u1", "match_type": "m"}]""")
    seedSync(cfg, Seq(syncRow(1L, "FAC1", "biometric_0_20250103141949.json")))

    val r1 = Pipeline.run(spark, cfg)
    assert(r1.filesSeen === 1 && r1.recordsIngested === 1)
    val stg1 = spark.read.parquet(s"${cfg.warehouseDir}/stg_biometric")
    assert(stg1.count() === 1)
    assert(!stg1.columns.contains("match_type")) // P1 exclusion

    // file shows up again as Ready (e.g. re-uploaded) → idempotency join
    // must skip the re-ingest (J5)
    seedSync(cfg, Seq(syncRow(1L, "FAC1", "biometric_0_20250103141949.json")))
    val r2 = Pipeline.run(spark, cfg)
    // the re-queued file is in the work list, on its already-loaded side
    assert(r2.filesSeen === 1 && r2.filesIngested === 0)
    assert(r2.recordsIngested === 0)
    assert(spark.read.parquet(s"${cfg.warehouseDir}/stg_biometric").count() === 1)
    // and the sync row is flipped to Ingested without a new log row
    val sync = cfg.logStore.latest("sync_file", Seq("id")).collect().head
    assert(sync.getAs[Int]("processed") === SyncState.Ingested)
  }

  test("missing file → state 3 'loaded in the past'") {
    val (cfg, _) = setup()
    seedSync(cfg, Seq(syncRow(7L, "FACX", "hiv_enrollment_0_20250101000000.json")))
    val res = Pipeline.run(spark, cfg)
    assert(res.filesSeen === 1)
    assert(res.filesMissing === 1 && res.filesIngested === 0)
    val sync = cfg.logStore.latest("sync_file", Seq("id")).collect().head
    assert(sync.getAs[Int]("processed") === SyncState.MissingOrPast)
  }

  test("bad dates (main flavor): bad rows quarantined, rest ingested, file failed") {
    val (cfg, parent) = setup()
    writeFile(new java.io.File(parent, "FAC2"),
      "hiv_enrollment_0_20250104000000_decrypted.json",
      """[
        |{"id": 1, "uuid": "u1", "enrollment_date": "2024-06-01"},
        |{"id": 2, "uuid": "u2", "enrollment_date": "junk-date"},
        |{"id": 3, "uuid": "u3", "enrollment_date": null}
        |]""".stripMargin.replace("|", ""))
    seedSync(cfg, Seq(syncRow(3L, "FAC2", "hiv_enrollment_0_20250104000000.json")))

    val res = Pipeline.run(spark, cfg)
    assert(res.recordsIngested === 2 && res.recordsQuarantined === 1)
    assert(res.filesFailed === 1) // main flavor: quarantine ⇒ file failed
    val quarantine = spark.read.parquet(
      s"${cfg.warehouseDir}/stg_hiv_enrollment_bad_dates")
    assert(quarantine.count() === 1)
    assert(quarantine.collect().head.getAs[String]("error_message")
      .contains("invalid_date => junk-date"))
    val sync = cfg.logStore.latest("sync_file", Seq("id")).collect().head
    assert(sync.getAs[Int]("processed") === SyncState.Failed)
  }

  test("bad dates (DSD flavor): records skipped AND the file logs failed") {
    val (cfg, parent) = setup()
    writeFile(new java.io.File(parent, "FAC3"),
      "prep_eligibility_0_20250105000000_decrypted.json",
      """[
        |{"id": 1, "uuid": "u1", "screening_date": "2024-07-01"},
        |{"id": 2, "uuid": "u2", "screening_date": "bogus"}
        |]""".stripMargin.replace("|", ""))
    seedSync(cfg, Seq(syncRow(4L, "FAC3", "prep_eligibility_0_20250105000000.json")))

    val res = Pipeline.run(spark, cfg.copy(dsdMode = true))
    // record-skip flavor: the valid row still lands in staging...
    assert(res.recordsIngested === 1 && res.recordsQuarantined === 1)
    // ...but the bad-dates branch logs the FILE failed + sync -2
    // (dsd_loader.py:666-682; the clean path :684-687 only runs when no
    // records were skipped), so re-runs retry it like the reference does
    assert(res.filesFailed === 1 && res.filesIngested === 0)
    val sync = cfg.logStore.latest("sync_file", Seq("id")).collect().head
    assert(sync.getAs[Int]("processed") === SyncState.Failed)
    val log = cfg.logStore.history("file_ingestion_log").collect().head
    assert(log.getAs[String]("load_status_check") === "failed")
    assert(log.getAs[String]("error_message")
      .contains("Bad date records filtered out and 1 records successfully ingested"))
    // rows landed → a monitoring row exists, processed='N' (not 'F')
    val mon = cfg.logStore.history("stg_monitoring").collect()
    assert(mon.length === 1 && mon.head.getAs[String]("processed") === "N")
  }

  test("monitoring rows: 'N' whenever rows landed; none for empty failures") {
    val (cfg, parent) = setup()
    // file A: bad date among good rows (main flavor: file fails, rows land)
    writeFile(new java.io.File(parent, "FAC4"),
      "hiv_eac_0_20250107000000_decrypted.json",
      """[
        |{"id": 1, "uuid": "u1", "eac_date": "2024-06-01"},
        |{"id": 2, "uuid": "u2", "eac_date": "nope"}
        |]""".stripMargin.replace("|", ""))
    // file B: empty JSON array → failed, nothing landed
    writeFile(new java.io.File(parent, "FAC4"),
      "hiv_eac_1_20250107000001_decrypted.json", "[]")
    seedSync(cfg, Seq(
      syncRow(1L, "FAC4", "hiv_eac_0_20250107000000.json"),
      syncRow(2L, "FAC4", "hiv_eac_1_20250107000001.json")))

    val res = Pipeline.run(spark, cfg)
    assert(res.filesFailed === 2 && res.recordsIngested === 1)
    val mon = cfg.logStore.history("stg_monitoring").collect()
    assert(mon.length === 1, "only the file that landed rows gets a monitoring row")
    assert(mon.head.getAs[String]("file_name")
      === "hiv_eac_0_20250107000000_decrypted.json")
    assert(mon.head.getAs[String]("processed") === "N")
    assert(mon.head.getAs[Int]("json_rec_count") === 1)
  }

  test("S8 JDBC escape hatch: staging rows roundtrip through an embedded Derby plane") {
    // The reference's actual data plane is Postgres (file_loader.py:639
    // `to_sql`); the gate is exercised here against embedded Derby —
    // same Spark JDBC writer/reader code path, no external server.
    val (cfg0, parent) = setup()
    val url = s"jdbc:derby:memory:graft_jdbc_${System.nanoTime()};create=true"
    val cfg = cfg0.copy(jdbcUrl = Some(url),
      jdbcOptions = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    writeFile(new java.io.File(parent, "FAC1"),
      "patient_person_0_20250103141949_decrypted.json",
      """[
        |{"id": 1, "uuid": "u1", "surname": "Ann", "first_name": "A",
         "other_name": "X", "hospital_number": "H1", "nin_number": "N1",
         "full_name": "Ann A", "date_of_birth": "1990-05-01", "archived": 0},
        |{"id": 2, "uuid": "u2", "surname": "Bob", "first_name": "B",
         "other_name": "", "hospital_number": "H2", "nin_number": "N2",
         "full_name": "Bob B", "date_of_birth": "1985-11-12", "archived": 0}
        |]""".stripMargin.replace("|", ""))
    seedSync(cfg, Seq(syncRow(1L, "FAC1", "patient_person_0_20250103141949.json")))

    val res = Pipeline.run(spark, cfg)
    assert(res.filesIngested === 1 && res.recordsIngested === 2)
    // nothing lands in the parquet warehouse when the JDBC plane is on
    assert(!new java.io.File(s"${cfg.warehouseDir}/stg_patient_person").exists())
    // read the staging table back through the same JDBC plane
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "stg_patient_person")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
    assert(back.count() === 2)
    val r = back.orderBy("id").collect().head
    assert(r.getAs[String]("surname") === Stages.Mask) // masking precedes the sink
    assert(r.getAs[String]("stg_datim_id") === "FAC1")
    // control plane still lands in the LogStore regardless of data plane
    val log = cfg.logStore.history("file_ingestion_log").collect().head
    assert(log.getAs[String]("load_status_check") === "success")
  }

  test("facility-partitioned staging layout (100 TB shape)") {
    val (cfg0, parent) = setup()
    val cfg = cfg0.copy(partitionStagingBy = Some("stg_datim_id"))
    writeFile(new java.io.File(parent, "FACP"),
      "patient_visit_0_20250106000000_decrypted.json",
      """[{"id": 1, "uuid": "u1", "visit_date": "2024-03-01"}]""")
    seedSync(cfg, Seq(syncRow(9L, "FACP", "patient_visit_0_20250106000000.json")))
    val res = Pipeline.run(spark, cfg)
    assert(res.recordsIngested === 1)
    val tableDir = new java.io.File(s"${cfg.warehouseDir}/stg_patient_visit")
    assert(tableDir.listFiles().exists(_.getName == "stg_datim_id=FACP"),
      "partition directory per facility")
    val back = spark.read.parquet(tableDir.getPath)
    assert(back.count() === 1)
    assert(back.collect().head.getAs[String]("stg_datim_id") === "FACP")
  }

  test("a staging compaction that died between its renames loses no row: " +
      "the next run's append restores <table>_old before it writes") {
    val (cfg, parent) = setup()
    val conf = spark.sparkContext.hadoopConfiguration
    val fac = new java.io.File(parent, "FAC1")
    writeFile(fac, "biometric_0_20250103141949_decrypted.json",
      """[{"id": 1, "uuid": "u1"}, {"id": 2, "uuid": "u2"}]""")
    seedSync(cfg, Seq(syncRow(1L, "FAC1", "biometric_0_20250103141949.json")))
    assert(Pipeline.run(spark, cfg).recordsIngested === 2)
    // the crash (KillResumeSpec.crashMidSwap's shape): compactStagingTable
    // staged its rewrite, renamed the table to its old sibling and died
    // before promoting the staging dir
    val table = s"${cfg.warehouseDir}/stg_biometric"
    spark.read.parquet(table).write.mode("overwrite")
      .parquet(graft.core.Fs.stagingDir(table))
    graft.core.Fs.rename(table, graft.core.Fs.oldDir(table), conf)
    writeFile(fac, "biometric_1_20250104141949_decrypted.json",
      """[{"id": 3, "uuid": "u3"}]""")
    seedSync(cfg, Seq(syncRow(2L, "FAC1", "biometric_1_20250104141949.json")))
    assert(Pipeline.run(spark, cfg).recordsIngested === 1)
    graft.maintenance.Maintenance.compactStagingTable(spark, table)
    assert(spark.read.parquet(table)
      .select(org.apache.spark.sql.functions.col("id").cast("long"))
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(!graft.core.Fs.exists(graft.core.Fs.oldDir(table), conf))
  }

  test("a staging table named like a swap sibling survives the next " +
      "ingest into its namesake table") {
    // an uploaded patient_person_old_* file stages into
    // stg_patient_person_old; the next append into stg_patient_person
    // recovers its swap first, and must not take that table for its
    // crashed swap's leftover (restore it, or delete it as stale)
    val (cfg, parent) = setup()
    val fac = new java.io.File(parent, "FAC1")
    writeFile(fac, "patient_person_old_0_20250103141949_decrypted.json",
      """[{"id": 1, "uuid": "u1"}, {"id": 2, "uuid": "u2"}]""")
    seedSync(cfg, Seq(syncRow(1L, "FAC1", "patient_person_old_0_20250103141949.json")))
    assert(Pipeline.run(spark, cfg).recordsIngested === 2)
    writeFile(fac, "patient_person_0_20250104141949_decrypted.json",
      """[{"id": 3, "uuid": "u3"}]""")
    seedSync(cfg, Seq(syncRow(2L, "FAC1", "patient_person_0_20250104141949.json")))
    assert(Pipeline.run(spark, cfg).recordsIngested === 1)
    def ids(table: String): Seq[Long] =
      spark.read.parquet(s"${cfg.warehouseDir}/$table")
        .select(org.apache.spark.sql.functions.col("id").cast("long"))
        .as[Long].collect().sorted.toSeq
    assert(ids("stg_patient_person_old") === Seq(1L, 2L))
    assert(ids("stg_patient_person") === Seq(3L))
  }

  test("requeue: failed file returns to Ready and the next run re-ingests it") {
    import org.apache.spark.sql.functions.col
    val (cfg, parent) = setup()
    val fac = new java.io.File(parent, "FAC5")
    writeFile(fac, "hiv_observation_0_20250108000000_decrypted.json",
      """[{"id": 1, "uuid": "u1", "observation_date": "garbage"}]""")
    seedSync(cfg, Seq(syncRow(1L, "FAC5", "hiv_observation_0_20250108000000.json")))
    val r1 = Pipeline.run(spark, cfg)
    assert(r1.filesFailed === 1 && r1.recordsIngested === 0)
    assert(cfg.logStore.latest("sync_file", Seq("id")).collect().head
      .getAs[Int]("processed") === SyncState.Failed)

    // operator fixes the file, then requeues the failure (the reference's
    // manual UPDATE sync_file playbook)
    writeFile(fac, "hiv_observation_0_20250108000000_decrypted.json",
      """[{"id": 1, "uuid": "u1", "observation_date": "2024-04-01"}]""")
    val n = graft.maintenance.Maintenance.requeueSyncFailures(cfg.logStore,
      col("file_name").startsWith("hiv_observation"))
    assert(n === 1)
    val requeued = cfg.logStore.latest("sync_file", Seq("id")).collect().head
    assert(requeued.getAs[Int]("processed") === SyncState.Ready)
    assert(requeued.getAs[String]("ingest_error_message") === null)
    assert(requeued.getAs[String]("ingest_status_check") === null)

    val r2 = Pipeline.run(spark, cfg)
    assert(r2.filesIngested === 1 && r2.recordsIngested === 1)
    assert(cfg.logStore.latest("sync_file", Seq("id")).collect().head
      .getAs[Int]("processed") === SyncState.Ingested)
  }

  test("auto-compaction: N churning runs with the trigger forced low ≡ the " +
      "same runs uncompacted under latest(), and the history stays bounded") {
    // two identical fixtures, one with in-run MVCC compaction forced on
    // every run (file floor 1), one with it off — the
    // latest-wins views must agree on every run-stable column, and the
    // compacted store's version history must collapse to current rows
    def fixture(auto: Boolean): Pipeline.Config = {
      val (cfg0, parent) = setup()
      writeFile(new java.io.File(parent, "FAC1"),
        "biometric_0_20250103141949_decrypted.json",
        """[{"id": 1, "uuid": "u1", "match_type": "m"}]""")
      cfg0.copy(logCompactMinFiles = if (auto) 1 else Int.MaxValue)
    }
    val (on, off) = (fixture(true), fixture(false))
    // 3 churning runs: each re-seeds the file Ready, so every run
    // appends fresh sync versions (run 1 ingests; later runs take the
    // already-loaded flip) — version churn without data movement
    (1 to 3).foreach { i =>
      Seq(on, off).foreach { cfg =>
        seedSync(cfg, Seq(syncRow(i.toLong, "FAC1",
          "biometric_0_20250103141949.json")))
        Pipeline.run(spark, cfg)
      }
    }
    val stable = Seq("id", "facility_id", "file_name",
      "decrypted_file_name", "processed", "ingest_status_check",
      "json_rec_count", "ingest_error_message")
    def view(cfg: Pipeline.Config) =
      cfg.logStore.latest("sync_file", Seq("id"))
        .selectExpr(stable: _*).orderBy("id").collect().toSeq
    assert(view(on) === view(off))
    // every row Ingested (the flips survived compaction)
    assert(view(on).forall(_.getAs[Int]("processed") === SyncState.Ingested))
    // compacted store: history == current; uncompacted: strictly larger
    val curr = on.logStore.latest("sync_file", Seq("id")).count()
    assert(on.logStore.history("sync_file").count() === curr)
    assert(off.logStore.history("sync_file").count() > curr)
    assert(on.logStore.history("file_ingestion_log").count() ===
      off.logStore.latest("file_ingestion_log",
        Seq("file_name", "facility_id", "load_start_time")).count())
  }

  test("a failed entity job fails its files and releases its cached frame") {
    val (cfg0, parent) = setup()
    // a Derby database that does not exist (create=false): the staging
    // append throws after the entity's frame is cached and counted
    val cfg = cfg0.copy(
      jdbcUrl = Some(s"jdbc:derby:memory:graft_absent_${System.nanoTime()};create=false"),
      jdbcOptions = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    writeFile(new java.io.File(parent, "FAC1"),
      "biometric_0_20250103141949_decrypted.json",
      """[{"id": 1, "uuid": "u1", "match_type": "m"}]""")
    seedSync(cfg, Seq(syncRow(1L, "FAC1", "biometric_0_20250103141949.json")))

    val before = CacheBridge.entries(spark)
    val res = Pipeline.run(spark, cfg)
    assert(res.filesFailed === 1 && res.recordsIngested === 0)
    val log = cfg.logStore.history("file_ingestion_log").collect().head
    assert(log.getAs[String]("error_message").startsWith("entity job failed"))
    assert(CacheBridge.entries(spark) === before, "the failed entity's cached frame leaked")
  }

  test("sync_file version rows: every column for ingested, bad-date, missing " +
      "and already-loaded files") {
    import org.apache.spark.sql.Row
    val (cfg, parent) = setup()
    writeFile(new java.io.File(parent, "FAC1"),
      "biometric_0_20250103141949_decrypted.json",
      """[{"id": 1, "uuid": "u1", "match_type": "m"}]""")
    writeFile(new java.io.File(parent, "FAC2"),
      "hiv_enrollment_0_20250104000000_decrypted.json",
      """[
        |{"id": 1, "uuid": "u1", "enrollment_date": "2024-06-01"},
        |{"id": 2, "uuid": "u2", "enrollment_date": "junk-date"}
        |]""".stripMargin.replace("|", ""))
    // ingested, bad-date failed, missing on disk, already loaded: each
    // seeded row carries its own create/modified dates and counts
    val specs = Seq(
      (1L, "FAC1", "biometric_0_20250103141949.json"),
      (2L, "FAC2", "hiv_enrollment_0_20250104000000.json"),
      (3L, "FACX", "hiv_art_pharmacy_0_20250105000000.json"),
      (4L, "FAC4", "patient_visit_0_20250106000000.json"))
    val seeded = specs.map { case (id, fac, enc) =>
      syncRow(id, fac, enc).copy(
        _6 = Timestamp.valueOf(s"2025-01-0$id 08:00:00"),
        _7 = Timestamp.valueOf(s"2025-02-0$id 09:00:00"),
        _10 = s"ingest_$id", _11 = s"table_$id", _13 = Integer.valueOf(10 * id.toInt))
    }
    seedSync(cfg, seeded)
    cfg.logStore.append("file_ingestion_log", Seq(
      (Timestamp.valueOf("2025-01-01 00:00:00"), Timestamp.valueOf("2025-01-01 00:00:01"),
        "success", "stg_patient_visit", "patient_visit_0_20250106000000_decrypted.json",
        "FAC4", 5, null: String)).toDF(
      "load_start_time", "load_end_time", "load_status_check", "table_name",
      "file_name", "facility_id", "json_rec_count", "error_message"))

    val res = Pipeline.run(spark, cfg)
    assert(res.filesSeen === 4 && res.filesIngested === 1)
    assert(res.filesFailed === 1 && res.filesMissing === 1)
    val run = cfg.logStore.history("file_ingestion_pipeline_log").collect().head
    val (start, end) = (run.getAs[Timestamp]("start_time"), run.getAs[Timestamp]("end_time"))
    val outcome = Map(
      1L -> (SyncState.Ingested, "success", null),
      2L -> (SyncState.Failed, "failed", "1 row(s) quarantined: invalid date values"),
      3L -> (SyncState.MissingOrPast, null, "file missing: loaded in the past"),
      4L -> (SyncState.Ingested, "success", null))
    val expected = seeded.map { s =>
      val (state, check, err) = outcome(s._1)
      Row(s._1, s._2, s._3, s._4, state, s._6, s._7, start, end, s._10, s._11,
        check, s._13, err)
    }
    val written = cfg.logStore.history("sync_file")
      .filter($"ingest_start_time".isNotNull).drop("_version_ts")
    assert(written.orderBy("id").collect().toSeq === expected)
    assert(cfg.logStore.latest("sync_file", Seq("id")).orderBy("id").collect().toSeq
      === expected)
  }

  test("job budget: one two-entity micro-batch that compacts both logs") {
    val (cfg0, parent) = setup()
    val cfg = cfg0.copy(logCompactMinFiles = 1)
    writeFile(new java.io.File(parent, "FAC1"),
      "biometric_0_20250103141949_decrypted.json",
      """[{"id": 1, "uuid": "u1", "match_type": "m"}]""")
    writeFile(new java.io.File(parent, "FAC1"),
      "hiv_enrollment_0_20250104000000_decrypted.json",
      """[{"id": 1, "uuid": "u1", "enrollment_date": "2024-06-01"}]""")
    seedSync(cfg, Seq(
      syncRow(1L, "FAC1", "biometric_0_20250103141949.json"),
      syncRow(2L, "FAC1", "hiv_enrollment_0_20250104000000.json")))

    val (res, sites) = jobCallSites(Pipeline.run(spark, cfg))
    assert(res.filesIngested === 2)
    assert(cfg.logStore.history("sync_file").count() === 2, "sync_file was compacted")
    assert(sites.size <= PipelineJobBudget,
      s"${sites.size} Spark jobs for one micro-batch (budget $PipelineJobBudget), " +
        "by call site:\n" + sites.mkString("\n"))
  }

  test("worklist honors prefix split between main and DSD loaders (P5)") {
    val (cfg, _) = setup()
    seedSync(cfg, Seq(
      syncRow(1L, "F", "patient_person_0_1.json"),
      syncRow(2L, "F", "prep_clinic_0_1.json"),
      syncRow(3L, "F", "hiv_art_clinical_0_1.json")))
    val sync = cfg.logStore.latest("sync_file", Seq("id"))
    val main = Pipeline.worklist(sync, cfg)
    val dsd = Pipeline.worklist(sync, cfg.copy(dsdMode = true))
    assert(main.select("id").as[Long].collect().toSet === Set(1L))
    assert(dsd.select("id").as[Long].collect().toSet === Set(2L, 3L))

    // per-run caps (O1): LIMIT 50000 main (file_loader.py:255), LIMIT
    // 20000 DSD (dsd_loader.py:260); 20,001 Ready rows per family
    import org.apache.spark.sql.functions._
    val bulk = spark.range(2 * 20001L).select(
      col("id"), lit("F").as("facility_id"),
      concat(when(col("id") % 2 === 0, lit("patient_person_"))
        .otherwise(lit("prep_clinic_")), col("id"), lit("_1.json"))
        .as("decrypted_file_name"),
      lit(SyncState.Ready).as("processed"),
      lit(Timestamp.valueOf("2025-02-01 10:00:00")).as("modified_date"))
      .withColumn("file_name", col("decrypted_file_name"))
    assert(Pipeline.worklist(bulk, cfg).count() === 20001L)
    assert(Pipeline.worklist(bulk, cfg.copy(dsdMode = true)).count() === 20000L)
  }
}

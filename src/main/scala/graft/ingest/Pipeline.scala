package graft.ingest

import graft.logs.LogStore
import graft.model.{FileName, SchemaRegistry, SyncState}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end micro-batch ingestion (SURVEY §3.1-§3.3 re-expressed
  * Spark-first).
  *
  * Shape differences vs the reference, by design (scale):
  *  - per-file loop → per-entity bulk reads: one distributed
  *    `spark.read.json(paths*)` per staging table, provenance recovered
  *    from `input_file_name()`. Task count tracks bytes, not files.
  *  - 2 idempotency probes per file (file_loader.py:328-336,356-366) →
  *    ONE broadcast left join and ONE collect per run; the
  *    already-loaded/to-do split happens on the driver (J5 re-planned).
  *  - facility thread pool (multi_file_ingestion_process.py:107-123) →
  *    native partition parallelism.
  *  - `UPDATE sync_file/...` → append + latest-wins views (LogStore);
  *    the new version rows are built on the driver from the collected
  *    work-list rows, so the update reads no log history.
  *  - DSD quarantine: the reference's `_bad_dates` writer exists but its
  *    call is commented out (dsd_loader.py:553-604,668) — skipped records
  *    are silently dropped. We route them to the quarantine table in BOTH
  *    modes (a deliberate, documented improvement; the record-skip
  *    file-status semantics are preserved).
  *
  * The work list itself is bounded by the reference's own batch cap
  * (50k/20k rows), so staging the file list on the driver is O(cap),
  * not O(table).
  */
object Pipeline {

  /** The reference's work-list cap per run: LIMIT 50000 for the main
    * loader (file_loader.py:255), LIMIT 20000 for DSD (dsd_loader.py:260).
    */
  private def batchCap(dsdMode: Boolean): Int = if (dsdMode) 20000 else 50000

  /** Driver-memory guard on the facility-scoped (reference-uncapped)
    * scan: the work list IS collect()ed for the run plan, and a
    * mega-facility with millions of pending rows would otherwise OOM the
    * driver. Files past the guard are untouched and picked up by the
    * next run — the watermark/idempotency machinery makes every run a
    * resumable prefix.
    */
  private val MaxWorklist = 500000

  /** Concurrent per-entity read→transform→write jobs (the scheduler
    * interleaves their stages so small entities don't serialize).
    */
  private val EntityParallelism = 8

  final case class Config(
      parentDir: String, // <parent>/<facility_id>/<decrypted file>
      warehouseDir: String, // staging-table parquet root
      logStore: LogStore,
      watermark: String = "2025-01-01",
      dsdMode: Boolean = false,
      // partition staging tables by this column (normally stg_datim_id):
      // at 100 TB facility-partitioned layout gives partition pruning for
      // the per-facility reports and deletes. Off by default locally —
      // thousands of tiny files per micro-batch at test scale.
      partitionStagingBy: Option[String] = None,
      // §3.2 per-facility scan (multithread_file_loader.py:250-260): when
      // set, the work list is facility-filtered and UNCAPPED — the
      // reference's facility scan has no LIMIT; the 50-row cap lives in
      // the claim-table seed (FacilityBatches.seedBatches).
      facilityId: Option[String] = None,
      // S8 JDBC variant (file_loader.py:639 `to_sql`): when set, staging
      // and quarantine appends go to JDBC tables at this url instead of
      // warehouse parquet. Escape hatch for parity with the reference's
      // Postgres data plane — parquet remains the default/benchmarked path.
      jdbcUrl: Option[String] = None,
      jdbcOptions: Map[String, String] = Map.empty,
      // run-scoped entity catalog (SchemaRegistry.load for a config
      // overlay — the reference's live information_schema lookup analog)
      registry: SchemaRegistry.EntityRegistry = SchemaRegistry.default,
      // steady-state MVCC hygiene: after this run's appends, compact any
      // control-plane log holding ≥ logCompactMinFiles parquet files
      // (appends are coalesce(1), so that's ≈ appends since the last
      // compact). latest() views are invariant under the compact; asOf()
      // snapshots older than it are dropped (the VACUUM trade — raise
      // minFiles for longer time travel; Int.MaxValue turns it off). The
      // common-case cost is one FS listing per log table, no Spark job.
      logCompactMinFiles: Int = 64)

  final case class RunResult(
      logId: String,
      filesSeen: Long,
      filesIngested: Long,
      filesFailed: Long,
      filesMissing: Long,
      recordsIngested: Long,
      recordsQuarantined: Long)

  /** S3+P5+O1: the work-list scan. `dsdMode` selects the complementary
    * prefix predicate (dsd_loader.py:251-260 vs file_loader.py:247-255).
    * Keeps every `sync_file` column: the run builds its sync_file version
    * rows from these rows.
    */
  def worklist(syncFile: DataFrame, cfg: Config): DataFrame = {
    val prefixMatch = cfg.registry.dsdFamilies
      .map(p => lower(col("decrypted_file_name")).startsWith(p))
      .reduce(_ || _)
    val base = syncFile
      .filter(col("processed") === SyncState.Ready &&
        col("modified_date") >= lit(cfg.watermark).cast("timestamp") &&
        (if (cfg.dsdMode) prefixMatch else !prefixMatch))
    val scoped = cfg.facilityId.fold(base)(f => base.filter(col("facility_id") === f))
    val ordered = scoped.orderBy(col("modified_date").asc, col("file_name").asc)
    // facility-scoped scans are uncapped like the reference's
    // (multithread_file_loader.py:250-260 has no LIMIT) — up to the
    // MaxWorklist driver-memory guard; the overflow resumes next run
    cfg.facilityId.fold(ordered.limit(batchCap(cfg.dsdMode)))(_ =>
      ordered.limit(MaxWorklist))
  }

  def run(spark: SparkSession, cfg: Config): RunResult = {
    import spark.implicits._
    val store = cfg.logStore
    val startedAt = java.time.LocalDateTime.now()
    val runId = Stages.logId(if (cfg.dsdMode) "DPID" else "IPID", startedAt)
    val loadTime = java.sql.Timestamp.valueOf(startedAt)

    val syncFile = store.latestOrEmpty("sync_file", Seq("id"), SchemaRegistry.syncFile)
    val ingestionLog = store.latestOrEmpty("file_ingestion_log",
      Seq("file_name", "facility_id", "load_start_time"), SchemaRegistry.fileIngestionLog)

    // J5 re-planned: the work list left-joined to the broadcast success
    // set of the ingestion log, collected once and split on the driver
    // into already-loaded and to-do rows
    val successes = ingestionLog
      .filter(col("load_status_check") === "success")
      .select(col("file_name").as("s_file"), col("facility_id").as("s_fac"))
      .distinct()
    val work = worklist(syncFile, cfg)
    val workRows = work
      .join(broadcast(successes),
        col("decrypted_file_name") === col("s_file") && col("facility_id") === col("s_fac"),
        "left")
      .select(work.columns.map(col) :+ col("s_file").isNotNull.as("_done"): _*)
      .collect()
    // already-succeeded files: just flip the sync flag (file_loader.py:406-410)
    val (alreadyRows, todoRows) = workRows.partition(_.getAs[Boolean]("_done"))
    def fileKey(r: Row) =
      (r.getAs[String]("decrypted_file_name"), r.getAs[String]("facility_id"))

    // locate files on disk; missing → state 3 (file_loader.py:274-278).
    // The existence probes run DISTRIBUTED (one task per path slice), not
    // as a serial driver loop: on an object store 50k sequential metadata
    // RPCs would stall the driver for minutes.
    val paths = todoRows.map { r =>
      val (f, fac) = fileKey(r)
      s"${cfg.parentDir}/$fac/$f"
    }
    val existsByPath: Map[String, Boolean] =
      if (paths.isEmpty) Map.empty
      else {
        // Session hadoop conf must reach the tasks (see Maintenance
        // .deleteFiles): a default Configuration() would drop object-store
        // credentials and report every file missing on a real cluster.
        val confBc = graft.core.Fs.broadcastConf(spark)
        spark.sparkContext
          .parallelize(paths.toIndexedSeq, math.min(paths.length, 64))
          .mapPartitions { it =>
            val conf = confBc.value.value
            it.map { p =>
              val hp = new org.apache.hadoop.fs.Path(p)
              p -> hp.getFileSystem(conf).exists(hp)
            }
          }.collect().toMap
      }
    val (present, missing) = todoRows.zip(paths).partition { case (_, p) => existsByPath(p) }

    // group per entity: ONE bulk read per staging table
    val byTable = present.groupBy { case (r, _) => FileName.stagingTable(fileKey(r)._1) }

    // one entity = one read→transform→write job; returns per-file status
    // + (ingested, quarantined) totals instead of mutating shared state
    def processEntity(stagingTable: String, files: Array[(Row, String)])
        : (Map[(String, String), (String, Long, String)], Long, Long) = {
      // typed read when the registry carries a schema for this entity
      // (S1, skips the inference pass); inferred otherwise (the
      // reference's file-drives-columns behavior). PERMISSIVE corrupt
      // payloads surface as all-null rows once _corrupt_record drops,
      // so dropAllNull removes them like any empty record.
      val paths = files.map(_._2).toSeq
      val raw = cfg.registry.entitySchemas.get(stagingTable) match {
        case Some(schema) =>
          JsonSource.readEntityBatch(spark, schema, paths)
            .drop("_corrupt_record")
        case None => JsonSource.readInferred(spark, paths)
      }
      val withProv = Stages.prepareEntity(stagingTable, cfg.registry, loadTime)(raw)
      // S8/S9 sink: parquet warehouse by default; JDBC escape hatch when
      // cfg.jdbcUrl is set (the reference's actual data plane)
      def writeOut(df: org.apache.spark.sql.DataFrame, table: String): Unit =
        cfg.jdbcUrl match {
          case Some(url) =>
            df.write.mode("append").format("jdbc")
              .option("url", url).option("dbtable", table)
              .options(cfg.jdbcOptions).save()
          case None =>
            val root = s"${cfg.warehouseDir}/$table"
            // a staging compaction that died mid-swap left the table in
            // Fs.oldDir(root): restore it, or this append recreates the
            // table with only its own rows and the next compaction
            // deletes the old content
            graft.core.Fs.recoverSwap(root, spark.sparkContext.hadoopConfiguration)
            (cfg.partitionStagingBy, cfg.facilityId) match {
              case (Some(c), Some(fac)) =>
                // facility-isolated layout: a facility-scoped run writes
                // STRAIGHT into its own partition directory, so concurrent
                // facility claims never share an output dir (two Spark write
                // jobs into one directory race on `_temporary`). Readers of
                // the table root recover the column via partition discovery.
                df.drop(c).write.mode("append").parquet(s"$root/$c=$fac")
              case (Some(c), None) =>
                df.write.mode("append").partitionBy(c).parquet(root)
              case (None, _) =>
                df.write.mode("append").parquet(root)
            }
        }

      // cache the PARENT frame once: valid/bad are complementary filters
      // of it, so caching them separately would scan the JSON twice (the
      // multiLine read is the dominant cost of the whole entity job).
      // Unpersisted on every exit: a failed entity job (e.g. a sink
      // error) must not pin its cached frame for the session's lifetime.
      val withProvC = withProv.cache()
      try {
        // per-file (valid, bad) counts in ONE aggregation (not a driver
        // loop over files); it materializes the cache, and the totals
        // gate the writes — no separate existence-probe jobs.
        val ok = Stages.datesValid(withProvC)
        val counts = withProvC.groupBy("stg_file_name", "stg_datim_id")
          .agg(count_if(ok), count_if(!ok)).collect()
          .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
        val nOk = counts.valuesIterator.map(_._1).sum
        val nBad = counts.valuesIterator.map(_._2).sum
        val (validC, badC) = Stages.dateSplit(withProvC, idCol = Some("id"))
        if (nOk > 0) writeOut(validC, stagingTable)
        if (nBad > 0) writeOut(badC, SchemaRegistry.quarantineTable(stagingTable))

        val statuses = files.map { case (r, _) =>
          val key = fileKey(r)
          val (ok, bad) = counts.getOrElse(key, (0L, 0L))
          // EITHER flavor logs the FILE failed when bad-date rows exist —
          // main: file_loader.py:627-645; DSD: dsd_loader.py:666-682 (its
          // clean-record path :684-687 only runs when nothing was
          // skipped). The flavors differ in the error text and in that DSD
          // skips records without quarantine blocking the valid rows (we
          // quarantine in both modes — documented improvement).
          val status =
            if (ok + bad == 0) ("failed", 0L, "empty file")
            else if (bad > 0 && cfg.dsdMode)
              ("failed", ok,
                s"Bad date records filtered out and $ok records successfully ingested")
            else if (bad > 0)
              ("failed", ok, s"$bad row(s) quarantined: invalid date values")
            else ("success", ok, null: String)
          key -> status
        }.toMap
        (statuses, nOk, nBad)
      } finally withProvC.unpersist()
    }

    // submit entity jobs CONCURRENTLY (FanOut): sequential submission
    // leaves the cluster idle between small entities' stages
    val outcomes: Seq[(Map[(String, String), (String, Long, String)], Long, Long)] =
      FanOut.run(byTable.toSeq, EntityParallelism) { case (t, fs) =>
        // one entity's failure must NOT abort the run: other entities
        // may already have appended staging rows, and only the log/sync
        // writes below make those appends idempotent for the rerun. The
        // failed entity's files log as failed and re-ingest next run; if
        // its own staging append partially landed before the crash,
        // nothing removes those rows — staging is plain appended parquet
        // and no pass dedups it, so the rerun appends them again. That
        // is the same window the reference's non-transactional
        // to_sql→log sequence has per file (ROADMAP Direction 4).
        scala.util.Try(processEntity(t, fs)).recover {
          case e: Throwable =>
            (fs.map { case (r, _) =>
              fileKey(r) -> (("failed", 0L,
                s"entity job failed: ${Stages.errorText(e)}"))
            }.toMap, 0L, 0L)
        }.get
      }
    val fileStatus: Map[(String, String), (String, Long, String)] =
      outcomes.flatMap(_._1).toMap
    val recordsIngested = outcomes.map(_._2).sum
    val recordsQuarantined = outcomes.map(_._3).sum

    // ---- control-plane writes (one append per table per run) ----
    val endTime = java.sql.Timestamp.valueOf(java.time.LocalDateTime.now())

    val logRows = fileStatus.toSeq.map { case ((f, fac), (status, n, err)) =>
      (loadTime, endTime, status, FileName.stagingTable(f), f, fac, n.toInt,
        Option(err).map(Stages.formatError(_)).orNull)
    }.toDF("load_start_time", "load_end_time", "load_status_check",
      "table_name", "file_name", "facility_id", "json_rec_count",
      "error_message")
    if (fileStatus.nonEmpty) store.append("file_ingestion_log", logRows)

    // monitoring row ⇔ rows actually landed in staging: the reference
    // writes processed='N' whenever records were ingested — INCLUDING the
    // bad-dates case where the file itself is logged failed
    // (file_loader.py:648-651) — and writes no row at all for fully-failed
    // or empty files. 'N' = awaiting migration; there is no 'F' insert.
    val monitoringRows = fileStatus.toSeq.collect {
      case ((f, fac), (_, n, err)) if n > 0 =>
        (fac, FileName.batchId(f), f, FileName.stagingTable(f), loadTime,
          n.toInt, "N", err)
    }
    if (monitoringRows.nonEmpty)
      store.append("stg_monitoring", monitoringRows.toDF(
        "datim_id", "batch_id", "file_name", "table_name", "load_time",
        "json_rec_count", "processed", "error_message"))

    // sync_file state transitions as version appends (S11): each touched
    // file's work-list row (every sync_file column, as the view held it)
    // with the touched columns rewritten, built on the driver — the work
    // list is capped, and re-reading the view would re-run its window
    // over the whole sync_file history.
    def syncVersion(r: Row, state: Int, err: String): Row = {
      val touched = Map[String, Any](
        "processed" -> state,
        "ingest_start_time" -> loadTime,
        "ingest_end_time" -> endTime,
        "ingest_status_check" -> (state match {
          case SyncState.Ingested => "success"
          case SyncState.Failed => "failed"
          case _ => null
        }),
        "ingest_error_message" -> Option(err).map(Stages.truncateForSyncLog).orNull)
      Row.fromSeq(syncFile.schema.fieldNames.toSeq.map(c => touched.getOrElse(c, r.getAs[Any](c))))
    }
    val todoVersions = present.map { case (r, _) =>
      val (status, _, err) = fileStatus.getOrElse(fileKey(r), ("failed", 0L, "not processed"))
      syncVersion(r, if (status == "success") SyncState.Ingested else SyncState.Failed, err)
    }
    val missingVersions = missing.map { case (r, _) =>
      syncVersion(r, SyncState.MissingOrPast, "file missing: loaded in the past")
    }
    val alreadyVersions = alreadyRows.map(syncVersion(_, SyncState.Ingested, null))
    val syncVersions = (todoVersions ++ missingVersions ++ alreadyVersions).toSeq
    if (syncVersions.nonEmpty)
      store.update("sync_file", spark.createDataFrame(syncVersions.asJava, syncFile.schema))

    // run-level pipeline log (file_ingestion_process.py:24-37)
    val nFailed = fileStatus.values.count(_._1 == "failed")
    store.append("file_ingestion_pipeline_log", Seq(
      (runId, loadTime, endTime, "completed",
        if (cfg.dsdMode) "dsd_ingest_process" else "file_ingest_process",
        null: String, recordsIngested.toInt)
    ).toDF("log_id", "start_time", "end_time", "status", "process_type",
      "error_message", "records_processed"))

    // the collected work list, not a recount of `work`: that would re-read
    // it against the view the sync update just appended to, where no
    // claimed file is Ready
    val res = RunResult(runId, workRows.length,
      fileStatus.values.count(_._1 == "success"), nFailed,
      missing.length, recordsIngested, recordsQuarantined)

    // MVCC auto-compaction (r10 verdict task): the two logs every run
    // appends to — sync_file gets one version row per touched file per
    // run, file_ingestion_log one per attempt — are exactly the ones
    // whose history would otherwise dominate the next run's work-list
    // window after thousands of micro-batches. LAST step by necessity,
    // not style: the compact swap DELETES superseded parquet files, and
    // every plan built earlier in this run (the work list, the sync
    // view) still references them — executing such a plan after the
    // swap reads deleted files. The in-process writeLock serializes it
    // against nothing else here (single driver, end of run).
    store.compactIfNeeded("sync_file", Seq("id"), cfg.logCompactMinFiles)
    store.compactIfNeeded("file_ingestion_log",
      Seq("file_name", "facility_id", "load_start_time"),
      cfg.logCompactMinFiles)
    res
  }
}

package graft.ingest

import graft.logs.LogStore
import graft.model.{FileName, SchemaRegistry, SyncState}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end micro-batch ingestion (SURVEY §3.1-§3.3 re-expressed
  * Spark-first).
  *
  * Shape differences vs the reference, by design (scale):
  *  - per-file loop → per-entity bulk reads: one distributed
  *    `spark.read.json(paths*)` per staging table, provenance recovered
  *    from `input_file_name()`. Task count tracks bytes, not files.
  *  - 2 idempotency probes per file (file_loader.py:328-336,356-366) →
  *    ONE broadcast semi/anti join per run (J5 re-planned).
  *  - facility thread pool (multi_file_ingestion_process.py:107-123) →
  *    native partition parallelism.
  *  - `UPDATE sync_file/...` → append + latest-wins views (LogStore).
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
      // driver-memory guard on the facility-scoped (reference-uncapped)
      // scan: the work list IS collect()ed for the run plan, and a
      // mega-facility with millions of pending rows would otherwise OOM
      // the driver. Files past the guard are untouched and picked up by
      // the next run — the watermark/idempotency machinery makes every
      // run a resumable prefix.
      maxWorklist: Int = 500000,
      // concurrent per-entity read→transform→write jobs (the scheduler
      // interleaves their stages so small entities don't serialize)
      entityParallelism: Int = 8,
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
      // minFiles for longer time travel). The common-case cost is one FS
      // listing per log table, no Spark job.
      autoCompactLogs: Boolean = true,
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
    val ordered = scoped
      .select("id", "facility_id", "file_name", "decrypted_file_name",
        "modified_date")
      .orderBy(col("modified_date").asc, col("file_name").asc)
    // facility-scoped scans are uncapped like the reference's
    // (multithread_file_loader.py:250-260 has no LIMIT) — up to the
    // maxWorklist driver-memory guard; the overflow resumes next run
    cfg.facilityId.fold(ordered.limit(batchCap(cfg.dsdMode)))(_ =>
      ordered.limit(cfg.maxWorklist))
  }

  /** J5 re-planned: one pass splits the work list into
    * (alreadyLoaded, toProcess) against the success set of the ingestion
    * log — broadcast both ways since the work list is capped.
    */
  def idempotencySplit(work: DataFrame, ingestionLog: DataFrame)
      : (DataFrame, DataFrame) = {
    val successes = ingestionLog
      .filter(col("load_status_check") === "success")
      .select("file_name", "facility_id").distinct()
    val already = work.join(broadcast(successes),
      work("decrypted_file_name") === successes("file_name") &&
        work("facility_id") === successes("facility_id"), "left_semi")
    val todo = work.join(broadcast(successes),
      work("decrypted_file_name") === successes("file_name") &&
        work("facility_id") === successes("facility_id"), "left_anti")
    (already, todo)
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

    val work = worklist(syncFile, cfg).cache()
    val (already, todo) = idempotencySplit(work, ingestionLog)

    // already-succeeded files: just flip the sync flag (file_loader.py:406-410)
    val alreadyRows = already.collect()
    val todoRows = todo.collect()

    // locate files on disk; missing → state 3 (file_loader.py:274-278).
    // The existence probes run DISTRIBUTED (one task per path slice), not
    // as a serial driver loop: on an object store 50k sequential metadata
    // RPCs would stall the driver for minutes.
    val paths = todoRows.map { r =>
      s"${cfg.parentDir}/${r.getAs[String]("facility_id")}/" +
        r.getAs[String]("decrypted_file_name")
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
    val located = todoRows.zip(paths).map { case (r, p) =>
      (r.getAs[Long]("id"), r.getAs[String]("facility_id"),
        r.getAs[String]("decrypted_file_name"), p, existsByPath(p))
    }
    val (present, missing) = located.partition(_._5)

    // group per entity: ONE bulk read per staging table
    val byTable = present.groupBy { case (_, _, f, _, _) => FileName.stagingTable(f) }

    // one entity = one read→transform→write job; returns per-file status
    // + (ingested, quarantined) totals instead of mutating shared state
    def processEntity(stagingTable: String,
                      files: Array[(Long, String, String, String, Boolean)])
        : (Map[(String, String), (String, Long, String)], Long, Long) = {
      // typed read when the registry carries a schema for this entity
      // (S1, skips the inference pass); inferred otherwise (the
      // reference's file-drives-columns behavior). PERMISSIVE corrupt
      // payloads surface as all-null rows once _corrupt_record drops,
      // so dropAllNull removes them like any empty record.
      val paths = files.map(_._4).toSeq
      val raw = cfg.registry.entitySchemas.get(stagingTable) match {
        case Some(schema) =>
          JsonSource.readEntityBatch(spark, schema, paths)
            .drop("_corrupt_record")
        case None => JsonSource.readInferred(spark, paths)
      }
      val withProv = Stages.stampProvenanceFromPath(
        Stages.emptyToNull(
          Stages.entityTransforms(stagingTable, cfg.registry)(
            Stages.dropAllNull(raw))), loadTime)
      // cache the PARENT frame once: valid/bad are complementary filters
      // of it, so caching them separately would scan the JSON twice (the
      // multiLine read is the dominant cost of the whole entity job)
      val withProvC = withProv.cache()
      val (validC, badC) = Stages.dateSplit(withProvC, idCol = Some("id"))

      // per-file counts via aggregation (not a driver loop over files);
      // the first action materializes the cache, and the totals gate the
      // writes — no separate existence-probe jobs.
      val okCounts = validC.groupBy("stg_file_name", "stg_datim_id").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val badCounts = badC.groupBy("stg_file_name", "stg_datim_id").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

      // S8/S9 sink: parquet warehouse by default; JDBC escape hatch when
      // cfg.jdbcUrl is set (the reference's actual data plane)
      def writeOut(df: org.apache.spark.sql.DataFrame, table: String): Unit =
        (cfg.jdbcUrl, cfg.partitionStagingBy, cfg.facilityId) match {
          case (Some(url), _, _) =>
            df.write.mode("append").format("jdbc")
              .option("url", url).option("dbtable", table)
              .options(cfg.jdbcOptions).save()
          case (None, Some(c), Some(fac)) =>
            // facility-isolated layout: a facility-scoped run writes
            // STRAIGHT into its own partition directory, so concurrent
            // facility claims never share an output dir (two Spark write
            // jobs into one directory race on `_temporary`). Readers of
            // the table root recover the column via partition discovery.
            df.drop(c).write.mode("append")
              .parquet(s"${cfg.warehouseDir}/$table/$c=$fac")
          case (None, Some(c), None) =>
            df.write.mode("append").partitionBy(c)
              .parquet(s"${cfg.warehouseDir}/$table")
          case (None, None, _) =>
            df.write.mode("append").parquet(s"${cfg.warehouseDir}/$table")
        }
      if (okCounts.valuesIterator.sum > 0) writeOut(validC, stagingTable)
      if (badCounts.valuesIterator.sum > 0)
        writeOut(badC, SchemaRegistry.quarantineTable(stagingTable))

      val statuses = files.map { case (_, fac, f, _, _) =>
        val ok = okCounts.getOrElse((f, fac), 0L)
        val nBad = badCounts.getOrElse((f, fac), 0L)
        // EITHER flavor logs the FILE failed when bad-date rows exist —
        // main: file_loader.py:627-645; DSD: dsd_loader.py:666-682 (its
        // clean-record path :684-687 only runs when nothing was skipped).
        // The flavors differ in the error text and in that DSD skips
        // records without quarantine blocking the valid rows (we quarantine
        // in both modes — documented improvement).
        val status =
          if (ok + nBad == 0) ("failed", 0L, "empty file")
          else if (nBad > 0 && cfg.dsdMode)
            ("failed", ok,
              s"Bad date records filtered out and $ok records successfully ingested")
          else if (nBad > 0)
            ("failed", ok, s"$nBad row(s) quarantined: invalid date values")
          else ("success", ok, null: String)
        (f, fac) -> status
      }.toMap
      withProvC.unpersist()
      (statuses, okCounts.valuesIterator.sum, badCounts.valuesIterator.sum)
    }

    // submit entity jobs CONCURRENTLY (FanOut): sequential submission
    // leaves the cluster idle between small entities' stages
    val outcomes: Seq[(Map[(String, String), (String, Long, String)], Long, Long)] =
      FanOut.run(byTable.toSeq, cfg.entityParallelism) { case (t, fs) =>
        // one entity's failure must NOT abort the run: other entities
        // may already have appended staging rows, and only the log/sync
        // writes below make those appends idempotent for the rerun. The
        // failed entity's files log as failed and re-ingest next run; if
        // its own staging append partially landed before the crash, the
        // W1 latest-wins views + dedupStaging are the documented
        // recovery — the same (smaller) window the reference's
        // non-transactional to_sql→log sequence has per file.
        scala.util.Try(processEntity(t, fs)).recover {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            (fs.map { case (_, fac, f, _, _) =>
              (f, fac) -> (("failed", 0L, s"entity job failed: $msg"))
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

    // sync_file state transitions as version appends (S11): join the
    // capped update set (broadcast) against the current view, rewrite the
    // touched columns, append new versions.
    def syncUpdate(rows: Seq[(Long, String, String, Int, String)]): Unit =
      if (rows.nonEmpty) {
        val upd = rows.toDF("uid", "u_file", "u_fac", "u_state", "u_err")
        val out = syncFile.join(broadcast(upd), syncFile("id") === col("uid"))
          .withColumn("processed", col("u_state"))
          .withColumn("ingest_start_time", lit(loadTime))
          .withColumn("ingest_end_time", lit(endTime))
          .withColumn("ingest_status_check",
            when(col("u_state") === SyncState.Ingested, "success")
              .when(col("u_state") === SyncState.Failed, "failed")
              .otherwise(lit(null: String)))
          .withColumn("ingest_error_message",
            substring(col("u_err"), 0, 10000)) // file_loader.py:189
          .drop("uid", "u_file", "u_fac", "u_state", "u_err")
        store.update("sync_file", out)
      }

    val statusByKey = fileStatus
    val todoUpdates = located.collect {
      case (id, fac, f, _, true) =>
        val (status, _, err) = statusByKey.getOrElse((f, fac), ("failed", 0L, "not processed"))
        (id, f, fac,
          if (status == "success") SyncState.Ingested else SyncState.Failed,
          Option(err).orNull)
    }.toSeq
    val missingUpdates = missing.map { case (id, fac, f, _, _) =>
      (id, f, fac, SyncState.MissingOrPast, "file missing: loaded in the past")
    }.toSeq
    val alreadyUpdates = alreadyRows.map { r =>
      (r.getAs[Long]("id"), r.getAs[String]("decrypted_file_name"),
        r.getAs[String]("facility_id"), SyncState.Ingested,
        null: String)
    }.toSeq
    syncUpdate(todoUpdates ++ missingUpdates ++ alreadyUpdates)

    // run-level pipeline log (file_ingestion_process.py:24-37)
    val nFailed = fileStatus.values.count(_._1 == "failed")
    store.append("file_ingestion_pipeline_log", Seq(
      (runId, loadTime, endTime, "completed",
        if (cfg.dsdMode) "dsd_ingest_process" else "file_ingest_process",
        null: String, recordsIngested.toInt)
    ).toDF("log_id", "start_time", "end_time", "status", "process_type",
      "error_message", "records_processed"))

    // the left-semi/left-anti split partitions the work list exactly;
    // counting `work` here instead would re-read it against the view
    // the sync update just appended to, where no claimed file is Ready
    val res = RunResult(runId, alreadyRows.length + todoRows.length,
      fileStatus.values.count(_._1 == "success"), nFailed,
      missing.length, recordsIngested, recordsQuarantined)
    work.unpersist()

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
    if (cfg.autoCompactLogs) {
      store.compactIfNeeded("sync_file", Seq("id"), cfg.logCompactMinFiles)
      store.compactIfNeeded("file_ingestion_log",
        Seq("file_name", "facility_id", "load_start_time"),
        cfg.logCompactMinFiles)
      ()
    }
    res
  }
}

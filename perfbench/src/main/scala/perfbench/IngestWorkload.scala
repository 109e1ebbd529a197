package perfbench

import graft.ingest.Pipeline
import graft.logs.LogStore
import graft.model.{SchemaRegistry, SyncState}
import graft.reports.Reports
import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The ingest workload: micro-batches through `Pipeline.run` in a closed
  * loop with one client, the next batch landing only after the previous
  * run and its reports returned.
  */
object IngestWorkload {

  val Sizes: IngestGen.Sizes = IngestGen.Sizes(facilities = 200,
    filesPerBatch = 120, minRecords = 20, maxRecords = 50, badDateRate = 0.005)

  /** Prior `sync_file` and `file_ingestion_log` rows, seeded through
    * `LogStore.append`.
    */
  val HistoryRows = 50000

  /** The pipeline's `logCompactMinFiles`: at 2, every batch compacts both
    * logs, so every measured batch does the same control-plane work.
    */
  val CompactMinFiles = 2

  val Since = "2000-01-01"

  /** One measured cycle: its batch and run result. */
  final case class Stat(cycle: Int, batch: IngestGen.Batch, run: Option[Pipeline.RunResult])

  /** Expected outputs of one landed batch, from the generator's manifest. */
  final case class Expect(batch: IngestGen.Batch) {
    /** staging table → (valid rows, quarantined rows) */
    def rows: Map[String, (Long, Long)] =
      batch.files.groupBy(_.stagingTable).map { case (t, fs) =>
        t -> (fs.map(_.valid.toLong).sum, fs.map(_.bad.toLong).sum)
      }
    def syncStates: Map[Long, Int] = batch.files.map(f =>
      f.id -> (if (f.clean) SyncState.Ingested else SyncState.Failed)).toMap
    def logStatuses: Map[(String, String), String] = batch.files.map(f =>
      (f.decName, f.facility) -> (if (f.clean) "success" else "failed")).toMap
  }

  /** Compares observed outputs with the manifest; returns the mismatches. */
  def mismatches(exp: Expect,
                 rows: Map[String, (Long, Long)],
                 piiRows: Long,
                 syncStates: Map[Long, Int],
                 logStatuses: Map[(String, String), Seq[String]]): Seq[String] = {
    val b = exp.batch.ts
    val r = (exp.rows.keySet ++ rows.keySet).toSeq.collect {
      case t if rows.getOrElse(t, (0L, 0L)) != exp.rows.getOrElse(t, (0L, 0L)) =>
        s"batch $b $t rows ${rows.getOrElse(t, (0L, 0L))} != expected ${exp.rows.getOrElse(t, (0L, 0L))}"
    }
    val p = if (piiRows != 0) Seq(s"batch $b: $piiRows staged rows carry raw PII") else Nil
    val s = exp.syncStates.toSeq.collect {
      case (id, want) if !syncStates.get(id).contains(want) =>
        s"batch $b sync_file id $id state ${syncStates.get(id)} != $want"
    }
    val l = exp.logStatuses.toSeq.collect {
      case (k, want) if logStatuses.getOrElse(k, Nil) != Seq(want) =>
        s"batch $b file_ingestion_log $k ${logStatuses.getOrElse(k, Nil)} != $want"
    }
    r ++ p ++ s ++ l
  }
}

final class IngestWorkload(spark: SparkSession, args: Main.Args, spans: Spans)
    extends Workload(spark, args, spans) {
  import IngestWorkload._
  import Main.Metric
  import spark.implicits._

  /** Warm-up first, so seeding runs on a warm JVM like the batches do. */
  def setUp(): Double =
    step("warm-up")(warmUp()) + step("seed history")(seedHistory(inst.store))

  /** One workload tree: landing directory, warehouse and control plane. */
  final class Instance(root: File) {
    val parent = new File(root, "landing")
    val warehouse = new File(root, "warehouse")
    val logs = new File(root, "logs")
    val store = LogStore(spark, logs.getPath)
    val cfg = Pipeline.Config(parentDir = parent.getPath,
      warehouseDir = warehouse.getPath, logStore = store,
      logCompactMinFiles = CompactMinFiles)
  }

  private val inst = new Instance(new File(args.work, "instance"))
  private var nextId = 1L + HistoryRows
  private val landed = mutable.ArrayBuffer.empty[IngestGen.Batch]
  private val stats = mutable.ArrayBuffer.empty[Stat]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var reportCalls, reportFailed = 0L
  private var compactions = 0

  private def files(f: File): Seq[File] =
    if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(files)

  private def bytes(f: File): Long = files(f).map(_.length()).sum

  private def parquetFileNames(f: File): Set[String] =
    files(f).map(_.getName).filter(_.endsWith(".parquet")).toSet

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  // ---- control-plane history (the cron's long past) ----

  /** History files that failed ingestion (about 3%): the ids where
    * `(id + seed) % 33 == 0`, as `seedHistory` writes them.
    */
  private val histFails = (1L to HistoryRows).count(id => (id + args.seed) % 33 == 0).toLong

  private val histRuns = HistoryRows / 500L

  private def seedHistory(store: LogStore): Unit = {
    val n = HistoryRows.toLong
    val entity = element_at(typedLit(IngestGen.Entities),
      (pmod(col("id"), lit(6)) + 1).cast("int"))
    val facility = format_string("FAC%05d", pmod(xxhash64(col("id"), lit(args.seed)), lit(200)))
    val ts = timestamp_seconds(lit(1704067200L) + col("id") * 60)
    val failed = pmod(col("id") + lit(args.seed), lit(33)) === 0
    val err = when(failed, "1 row(s) quarantined: invalid date values")
      .otherwise(lit(null).cast("string"))
    val decName = format_string("%s_%d_20240101000000_decrypted.json", entity, col("id"))
    val rows = spark.range(1, n + 1).toDF("id")
    store.append("sync_file", rows.select(col("id"), facility.as("facility_id"),
      format_string("%s_%d_20240101000000.json", entity, col("id")).as("file_name"),
      decName.as("decrypted_file_name"),
      when(failed, SyncState.Failed).otherwise(SyncState.Ingested).as("processed"),
      ts.as("create_date"), ts.as("modified_date"), ts.as("ingest_start_time"),
      ts.as("ingest_end_time"), lit(null).cast("string").as("ingest_file_name"),
      lit(null).cast("string").as("ingest_table_name"),
      when(failed, "failed").otherwise("success").as("ingest_status_check"),
      lit(30).as("json_rec_count"), err.as("ingest_error_message")))
    store.append("file_ingestion_log", rows.select(ts.as("load_start_time"),
      ts.as("load_end_time"),
      when(failed, "failed").otherwise("success").as("load_status_check"),
      concat(lit("stg_"), entity).as("table_name"), decName.as("file_name"),
      facility.as("facility_id"), lit(30).as("json_rec_count"), err.as("error_message")))
    // migrated monitoring rows, and one completed pipeline run per 500 files
    store.append("stg_monitoring", rows.select(
      facility.as("datim_id"), lit("20240101000000").as("batch_id"),
      decName.as("file_name"), concat(lit("stg_"), entity).as("table_name"),
      ts.as("load_time"), lit(30).as("json_rec_count"), lit("Y").as("processed"),
      lit(null).cast("string").as("error_message")))
    store.append("file_ingestion_pipeline_log", spark.range(0, histRuns).toDF("id").select(
      format_string("IPID%d", col("id")).as("log_id"), ts.as("start_time"),
      ts.as("end_time"), lit("completed").as("status"),
      lit("file_ingest_process").as("process_type"),
      lit(null).cast("string").as("error_message"),
      lit(10000).as("records_processed")))
  }

  // ---- landing and one micro-batch ----

  private def writeFiles(in: Instance, b: IngestGen.Batch): Unit =
    b.files.foreach { f =>
      val d = new File(in.parent, f.facility)
      d.mkdirs()
      Files.writeString(new File(d, f.decName).toPath, f.content)
    }

  private def syncRows(b: IngestGen.Batch) = {
    val ts = Timestamp.valueOf("2025-02-01 00:00:00")
    val rows = b.files.map(f => Row(f.id, f.facility, f.encName, f.decName,
      SyncState.Ready, ts, ts, null, null, null, null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), SchemaRegistry.syncFile)
  }

  /** Lands the batch's sync_file rows and runs the micro-batch. */
  private def ingest(in: Instance, b: IngestGen.Batch): Pipeline.RunResult = {
    spans("logs.land", b.ts)(in.store.append("sync_file", syncRows(b)))
    spans("ingest.run", b.ts)(Pipeline.run(spark, in.cfg))
  }

  /** One small micro-batch (two files per entity) on a throwaway tree:
    * the same plans as a measured batch, so the same code gets compiled.
    */
  private def warmUp(): Unit = {
    val tree = new File(args.work, "warm-up")
    val in = new Instance(tree)
    val b = IngestGen.batch(args.seed, 0,
      Sizes.copy(filesPerBatch = 2 * IngestGen.Entities.size), nextId)
    writeFiles(in, b)
    ingest(in, b)
    deleteRec(tree)
  }

  def cycle(i: Int): (Double, Double) = {
    val b = IngestGen.batch(args.seed, i + 1, Sizes, nextId)
    nextId += b.files.size
    writeFiles(inst, b)
    landed += b
    val logDirs = Seq("sync_file", "file_ingestion_log").map(new File(inst.logs, _))
    val before = logDirs.map(parquetFileNames)
    val t0 = System.nanoTime()
    val run =
      try Some(ingest(inst, b))
      catch {
        case e: Exception =>
          failures += s"batch ${b.ts}: Pipeline.run threw $e"
          None
      }
    val runS = Main.seconds(t0)
    stats += Stat(i, b, run)
    // a compaction rewrites the log, so none of its earlier files survive
    compactions += logDirs.zip(before).count { case (d, b) => b.intersect(parquetFileNames(d)).isEmpty }
    runReports()
    (runS, Main.seconds(t0))
  }

  // ---- the three monitoring reports, checked against the manifest ----

  private def runReports(): Unit = {
    val store = inst.store
    val fs = landed.toSeq.flatMap(_.files)
    def report(name: String)(body: => Option[String]): Unit = {
      reportCalls += 1
      val problem =
        try spans(s"reports.$name")(body)
        catch { case e: Exception => Some(s"threw $e") }
      problem.foreach { p => reportFailed += 1; failures += s"report $name: $p" }
    }
    report("process_summary") {
      val r = Reports.processSummary(store.latest("sync_file", Seq("id")), Since,
        Timestamp.valueOf("2025-03-01 00:00:00")).collect().head
      val got = (r.getAs[Long]("total_files"), r.getAs[Long]("processed_count"),
        r.getAs[Long]("fails"))
      val want = (HistoryRows + fs.size.toLong,
        HistoryRows - histFails + fs.count(_.clean), histFails + fs.count(!_.clean))
      Option.when(got != want)(s"(total, processed, fails) $got != $want")
    }
    report("unprocessed_by_table") {
      val got = Reports.unprocessedByTable(store.history("stg_monitoring")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = fs.filter(_.valid > 0).groupBy(_.stagingTable)
        .map { case (t, g) => t -> g.size.toLong }
      Option.when(got != want)(s"$got != $want")
    }
    report("ingestion_summary") {
      val got = Reports.ingestionSummary(store.history("file_ingestion_pipeline_log"))
        .collect().find(_.getString(0) == "file_ingest_process")
        .map(r => (r.getLong(1), r.getLong(3)))
      val want = Some((histRuns + landed.size, histRuns * 10000L + fs.map(_.valid.toLong).sum))
      Option.when(got != want)(s"(runs, records) $got != $want")
    }
  }

  // ---- output checks over every batch of the measured instance ----

  /** stg_batch_id → (rows, rows carrying a raw PII value) of one table. */
  private def staged(table: String): Map[String, (Long, Long)] = {
    val p = new File(inst.warehouse, table)
    if (!p.exists()) Map.empty
    else {
      val df = spark.read.parquet(p.getPath)
      val text = to_json(struct(df.columns.toIndexedSeq.map(col): _*))
      df.groupBy("stg_batch_id")
        .agg(count(lit(1)), sum(when(text.contains(IngestGen.PiiMarker), 1).otherwise(0)))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
  }

  def check(): (Long, Long) = {
    val tables = IngestGen.Entities.map(e => s"stg_$e")
    val valid = tables.map(t => t -> staged(t)).toMap
    val bad = tables.map(t => t -> staged(SchemaRegistry.quarantineTable(t))).toMap
    val firstId = landed.head.files.head.id
    val sync = inst.store.latest("sync_file", Seq("id")).filter(col("id") >= firstId)
      .select("id", "processed").as[(Long, Int)].collect().toMap
    val logs = inst.store.history("file_ingestion_log")
      .filter(!col("file_name").contains("_20240101000000_"))
      .select("file_name", "facility_id", "load_status_check").as[(String, String, String)]
      .collect().groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3).toSeq }
    val threw = failures.filter(_.contains("Pipeline.run threw")).toSeq
    val failedBatches = landed.count { b =>
      def at(m: Map[String, Map[String, (Long, Long)]], t: String) =
        m(t).getOrElse(b.ts, (0L, 0L))
      val rows = tables.map(t => t -> (at(valid, t)._1, at(bad, t)._1)).toMap
        .filter(_._2 != ((0L, 0L)))
      val pii = tables.map(t => at(valid, t)._2 + at(bad, t)._2).sum
      val problems = mismatches(Expect(b), rows, pii, sync, logs)
      failures ++= problems.take(3)
      problems.nonEmpty || threw.exists(_.startsWith(s"batch ${b.ts}:"))
    }
    (landed.size + reportCalls, failedBatches + reportFailed)
  }

  override def notes: Seq[String] =
    failures.toSeq.map("FAILED " + _) ++ stats.map { s =>
      s"batch ${s.batch.ts}: RunResult.filesSeen=${s.run.fold("-")(_.filesSeen.toString)}" +
        s", files landed=${s.batch.files.size}"
    }

  def workloadMetrics(cycles: Seq[Int]): Seq[(String, Metric)] = {
    val ss = stats.filter(s => cycles.contains(s.cycle)).toSeq
    val runS = spans.named("ingest.run").filter(s => ss.exists(_.batch.ts == s.tag)).map(_.seconds)
    val nFiles = ss.map(_.batch.files.size.toDouble).sum
    val nRows = ss.flatMap(_.run).map(r => (r.recordsIngested + r.recordsQuarantined).toDouble).sum
    val jsonIn = ss.map(_.batch.bytes.toDouble).sum
    val jobs = jobsOf(cycles)
    val seen = ss.flatMap(_.run).map(_.filesSeen.toDouble).sum
    val hist = inst.store.history("sync_file").count().toDouble
    val live = inst.store.latest("sync_file", Seq("id")).count().toDouble
    def p50(prefix: String) = Main.median(spans.recorded
      .filter(s => s.name.startsWith(prefix) && cycleSpans(cycles).exists(c =>
        s.startMs >= c.startMs && s.endMs <= c.endMs)).map(_.seconds))
    Seq(
      "ingest.run_s" -> Metric(p50("ingest.run"), "s"),
      "ingest_files_per_s" -> Metric(nFiles / runS.sum, "1/s"),
      "ingest_rows_per_s" -> Metric(nRows / runS.sum, "1/s"),
      "ingest.bytes_read_per_input_byte" -> Metric(
        jobs.filter(_.layer == "ingest").map(_.inputBytes).sum / jsonIn, "ratio"),
      "ingest.files_landed" -> Metric(nFiles, "count"),
      "ingest.files_seen" -> Metric(seen, "count"),
      "ingest.files_seen_mismatch_batches" -> Metric(
        ss.count(s => !s.run.map(_.filesSeen).contains(s.batch.files.size.toLong)).toDouble, "count"),
      "stored_bytes_per_input_byte" -> Metric(
        (bytes(inst.warehouse) + bytes(inst.logs)).toDouble / landed.map(_.bytes).sum, "ratio"),
      "report_p50_s" -> Metric(p50("reports."), "s"),
      "reports.process_summary_s" -> Metric(p50("reports.process_summary"), "s"),
      "reports.unprocessed_by_table_s" -> Metric(p50("reports.unprocessed_by_table"), "s"),
      "reports.ingestion_summary_s" -> Metric(p50("reports.ingestion_summary"), "s"),
      "logs.history_rows_per_live_row" -> Metric(hist / live, "ratio"),
      "logs.parquet_files" -> Metric(parquetFileNames(inst.logs).size.toDouble, "count"),
      "logs.compactions" -> Metric(compactions.toDouble, "count"),
      "logs.compact_s" -> Metric(
        jobs.filter(_.compact).map(j => (j.endMs - j.startMs) / 1000.0).sum, "s"))
  }
}

package graft.ops

import graft.core.Tables
import graft.ingest.Pipeline
import graft.logs.LogStore
import graft.maintenance.Maintenance
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end ingestion benchmark query: materializes a reference-shaped
  * facility tree of JSON sync files from the `documents` table, runs the
  * REAL micro-batch Pipeline over it (work-list → idempotency join →
  * per-entity bulk read → transforms → staging/quarantine appends → log
  * appends), and returns the resulting ingestion-log rows. The projected
  * columns are fully determined by the fixture construction (every
  * created_date is valid, so every file ingests cleanly), so the oracle
  * derives the expected log rows straight from `documents`: one row per
  * (source, doc_id/20) group, file name re-built by the same
  * <entity>_<file_no>_<ts><seq>_decrypted.json convention. PipelineSpec's
  * golden scenarios cover the failure paths; the bench records ingestion
  * throughput (BASELINE.md's "files/sec, rows/sec" suite).
  */
object PipelineQueries {

  /** Lands the first 300 documents as a reference-shaped facility tree
    * under a fresh scratch root — one facility per source, 20 docs per
    * sync file, each record's created_date from `createdDate` — registers
    * every file Ready in a fresh `sync_file` log and runs one Pipeline
    * batch over them. Returns the log store and the run's result.
    */
  private def ingestDocCorpus(s: SparkSession, dir: String,
      scratchPrefix: String, createdDate: Column): (LogStore, Pipeline.RunResult) = {
    import s.implicits._
    val docs = Tables(s, dir).documents.filter(col("doc_id") < 300)
    val root = Scratch.dir(scratchPrefix)
    val parent = new java.io.File(root, "temp")
    // one facility per source; 20 docs per sync file; files named by
    // the reference convention <entity>_<batch>_<ts>_decrypted.json
    val rows = docs
      .select(col("source"), (col("doc_id") / 20).cast("int").as("file_no"),
        to_json(struct(col("doc_id").as("id"), col("text"), col("lang"),
          col("n_chars"), createdDate.as("created_date"))).as("j"))
      .collect()
    val syncRows = rows.groupBy(r => (r.getString(0), r.getInt(1))).toSeq
      .sortBy(_._1).zipWithIndex.map { case (((fac, fileNo), rs), i) =>
        val enc = s"doc_corpus_${fileNo}_2024050100${"%04d".format(i)}.json"
        val dec = graft.model.FileName.decryptedName(enc)
        val d = new java.io.File(parent, fac); d.mkdirs()
        java.nio.file.Files.writeString(new java.io.File(d, dec).toPath,
          rs.map(_.getString(2)).mkString("[\n", ",\n", "\n]"))
        (i.toLong, fac, enc, dec, graft.model.SyncState.Ready,
          java.sql.Timestamp.valueOf("2025-02-01 00:00:00"),
          java.sql.Timestamp.valueOf("2025-02-01 10:00:00"),
          null.asInstanceOf[java.sql.Timestamp],
          null.asInstanceOf[java.sql.Timestamp],
          null.asInstanceOf[String], null.asInstanceOf[String],
          null.asInstanceOf[String], null.asInstanceOf[Integer],
          null.asInstanceOf[String])
      }
    val store = LogStore(s, new java.io.File(root, "logs").getPath)
    store.append("sync_file", syncRows.toDF(
      "id", "facility_id", "file_name", "decrypted_file_name", "processed",
      "create_date", "modified_date", "ingest_start_time", "ingest_end_time",
      "ingest_file_name", "ingest_table_name", "ingest_status_check",
      "json_rec_count", "ingest_error_message"))
    val cfg = Pipeline.Config(
      parentDir = parent.getPath,
      warehouseDir = new java.io.File(root, "warehouse").getPath,
      logStore = store)
    (store, Pipeline.run(s, cfg))
  }

  val all: Map[String, Q] = Map(
    "q_pipeline_ingest_e2e" -> Q(
      """WITH grp AS (
        |  SELECT source AS facility_id, CAST(doc_id // 20 AS INTEGER) AS file_no,
        |         count(*) AS n
        |  FROM documents WHERE doc_id < 300
        |  GROUP BY source, CAST(doc_id // 20 AS INTEGER)),
        |named AS (
        |  SELECT facility_id, n,
        |    'doc_corpus_' || CAST(file_no AS VARCHAR) || '_2024050100'
        |      || lpad(CAST(row_number() OVER (ORDER BY facility_id, file_no) - 1 AS VARCHAR), 4, '0')
        |      || '_decrypted.json' AS file_name
        |  FROM grp)
        |SELECT file_name, facility_id, 'success' AS load_status_check,
        |       CAST(n AS BIGINT) AS json_rec_count
        |FROM named ORDER BY facility_id, file_name""".stripMargin) { (s, dir) =>
      val (store, result) = ingestDocCorpus(s, dir, "graft_e2e_", lit("2024-05-01"))
      require(result.filesIngested > 0 && result.recordsIngested > 0,
        s"pipeline ingested nothing: $result")
      store.history("file_ingestion_log")
        .select(col("file_name"), col("facility_id"), col("load_status_check"),
          col("json_rec_count").cast("long").as("json_rec_count"))
        .orderBy("facility_id", "file_name")
    },

    // ---- manual requeue loop: ingest a corpus where every doc with
    //      doc_id % 37 == 0 carries a bad created_date (main flavor: its
    //      FILE logs failed, sync → -2), then requeueSyncFailures flips
    //      every failure back to Ready with the ingest bookkeeping
    //      cleared. Final sync state is fully derivable from documents:
    //      files containing a bad doc → processed=1/status null,
    //      clean files → processed=2/'success'. ----
    "q_maint_requeue" -> Q(
      """WITH grp AS (
        |  SELECT source AS facility_id, CAST(doc_id // 20 AS INTEGER) AS file_no,
        |         max(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS has_bad
        |  FROM documents WHERE doc_id < 300
        |  GROUP BY source, CAST(doc_id // 20 AS INTEGER)),
        |named AS (
        |  SELECT facility_id, has_bad,
        |    'doc_corpus_' || CAST(file_no AS VARCHAR) || '_2024050100'
        |      || lpad(CAST(row_number() OVER (ORDER BY facility_id, file_no) - 1 AS VARCHAR), 4, '0')
        |      || '.json' AS file_name
        |  FROM grp)
        |SELECT file_name, facility_id,
        |  CAST(CASE WHEN has_bad = 1 THEN 1 ELSE 2 END AS INTEGER) AS processed,
        |  CASE WHEN has_bad = 1 THEN NULL ELSE 'success' END AS ingest_status_check
        |FROM named ORDER BY facility_id, file_name""".stripMargin) { (s, dir) =>
      val (store, result) = ingestDocCorpus(s, dir, "graft_rq_e2e_",
        when(col("doc_id") % 37 === 0, lit("not-a-date")).otherwise(lit("2024-05-01")))
      require(result.filesFailed > 0, s"fixture produced no failures: $result")
      val n = Maintenance.requeueSyncFailures(store, lit(true))
      require(n == result.filesFailed, s"requeued $n of ${result.filesFailed}")
      store.latest("sync_file", Seq("id"))
        .select(col("file_name"), col("facility_id"), col("processed"),
          col("ingest_status_check"))
        .orderBy("facility_id", "file_name")
    },

    // ---- S14 wired loop: deletion-eligibility scan → physical delete →
    //      file_deletion_log append → second run reads its own log and
    //      selects nothing. One facility per source; even-indexed file
    //      pairs exist on disk (→ success rows), odd ones don't (→
    //      failed 'file not found'), so every log column is derivable
    //      from `documents` in SQL. Ids are allocation-order: the
    //      eligibility scan sorts by (modified_date, file_name) and each
    //      pair logs encrypted then decrypted (automate_file_delete.py
    //      :116-117), so file i gets ids 2i+1 / 2i+2. ----
    "q_maint_deletion_log" -> Q(
      """WITH src AS (SELECT DISTINCT source FROM documents WHERE doc_id < 200),
        |idx AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS i FROM src),
        |base AS (
        |  SELECT source, i,
        |    'doc_corpus_0_2024050100' || lpad(CAST(i AS VARCHAR), 4, '0') AS stem,
        |    '2024050100' || lpad(CAST(i AS VARCHAR), 4, '0') AS tstok,
        |    CASE WHEN i % 2 = 0 THEN 'success' ELSE 'failed' END AS st,
        |    CASE WHEN i % 2 = 0 THEN 'no errors' ELSE 'file not found' END AS err
        |  FROM idx),
        |rows_ AS (
        |  SELECT CAST(2*i + 1 AS BIGINT) AS id, stem || '.json' AS file_name,
        |         source AS facility_id,
        |         'doc_corpus_' || tstok || '.json' AS table_name,
        |         st AS deletion_status_check,
        |         CAST(0 AS BIGINT) AS json_rec_count, err AS error_message
        |  FROM base
        |  UNION ALL
        |  SELECT CAST(2*i + 2 AS BIGINT), stem || '_decrypted.json', source,
        |         'doc_corpus', st, CAST(0 AS BIGINT), err
        |  FROM base)
        |SELECT id, file_name, facility_id, table_name, deletion_status_check,
        |       json_rec_count, error_message
        |FROM rows_ ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val sources = Tables(s, dir).documents.filter(col("doc_id") < 200)
        .select("source").distinct().as[String].collect().sorted
      val root = Scratch.dir("graft_del_e2e_")
      val parent = new java.io.File(root, "temp")
      val syncRows = sources.toIndexedSeq.zipWithIndex.map { case (src, i) =>
        val enc = s"doc_corpus_0_2024050100${"%04d".format(i)}.json"
        val dec = graft.model.FileName.decryptedName(enc)
        val d = new java.io.File(parent, src); d.mkdirs()
        if (i % 2 == 0) {
          java.nio.file.Files.writeString(new java.io.File(d, enc).toPath, "e")
          java.nio.file.Files.writeString(new java.io.File(d, dec).toPath, "d")
        }
        (i.toLong + 1, src, enc, dec, null.asInstanceOf[String], 2,
          java.sql.Timestamp.valueOf("2025-02-01 10:00:00"),
          java.sql.Timestamp.valueOf("2025-02-01 09:00:00"))
      }
      val store = LogStore(s, new java.io.File(root, "logs").getPath)
      store.append("sync_file", syncRows.toDF("id", "facility_id",
        "file_name", "decrypted_file_name", "ingest_file_name", "processed",
        "modified_date", "ingest_end_time"))
      val r1 = Maintenance.runFileDeletion(store, parent.getPath)
      require(r1.nonEmpty, "deletion selected nothing")
      val r2 = Maintenance.runFileDeletion(store, parent.getPath)
      require(r2.isEmpty, s"deletion not idempotent: ${r2.size} re-selected")
      store.latest("file_deletion_log", Seq("id"))
        .select(col("id"), col("file_name"), col("facility_id"),
          col("table_name"), col("deletion_status_check"),
          col("json_rec_count").cast("long").as("json_rec_count"),
          col("error_message"))
        .orderBy("id")
    },

    // ---- time-travel snapshot read (LogStore.asOf): three versioned
    //      batches (orderkey mod 3) of per-key summary rows are appended
    //      to an MVCC log; reading AS OF the second append's version must
    //      see batches 0-1 latest-wins and batch 2 not at all. The oracle
    //      replays the same snapshot algebra over `orders` directly
    //      (batch ≤ 1, highest batch per key wins). ----
    "q_log_time_travel" -> Q(
      """WITH b AS (SELECT CAST(o_orderkey % 3 AS INTEGER) AS batch,
        |                  CAST(o_orderkey % 1000 AS BIGINT) AS k,
        |                  CAST(count(*) AS BIGINT) AS n,
        |                  round(max(o_totalprice), 2) AS mx
        |           FROM orders WHERE o_orderkey % 3 <= 1
        |           GROUP BY 1, 2),
        |w AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY batch DESC) AS rn
        |      FROM b)
        |SELECT k, n, mx FROM w WHERE rn = 1 ORDER BY k""".stripMargin) { (s, dir) =>
      val root = Scratch.dir("graft_tt_")
      val store = LogStore(s, new java.io.File(root, "logs").getPath)
      val orders = Tables(s, dir).orders
      def batch(i: Int) = orders.filter(col("o_orderkey") % 3 === i)
        .groupBy((col("o_orderkey") % 1000).as("k"))
        .agg(count(lit(1)).as("n"), round(max("o_totalprice"), 2).as("mx"))
      store.append("snap", batch(0))
      val v1 = store.append("snap", batch(1))
      store.append("snap", batch(2))
      store.asOf("snap", Seq("k"), v1).orderBy("k")
    }
  )
}

package graft.ops

import graft.core.Tables
import graft.logs.AggregatedUpdates
import graft.reports.Reports
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reports/monitoring module queries: the testdata tables are mapped to
  * control-plane shapes (orders → sync_file, events → batch logs) and
  * fed through the REAL Reports library functions, so the
  * DuckDB oracle validates the library code, not ad-hoc SQL.
  */
object ReportQueries {

  private def tb(s: SparkSession, dir: String) = Tables(s, dir)

  /** orders mapped to a sync_file-shaped frame (state machine §1.1). */
  private def syncLike(s: SparkSession, dir: String): DataFrame =
    tb(s, dir).orders.select(
      col("o_orderkey").as("id"),
      when(col("o_orderstatus") === "O", 1)
        .when(col("o_orderstatus") === "F", 2)
        .otherwise(-2).as("processed"),
      when(col("o_orderstatus") === "P" && col("o_totalprice") > 200000, "failed")
        .otherwise(lit(null: String)).as("ingest_status_check"),
      col("o_orderdate").as("create_date"))

  private val syncLikeSql =
    """SELECT o_orderkey AS id,
      |  CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 ELSE -2 END AS processed,
      |  CASE WHEN o_orderstatus = 'P' AND o_totalprice > 200000 THEN 'failed' END AS ingest_status_check,
      |  o_orderdate AS create_date
      |FROM orders""".stripMargin

  val all: Map[String, Q] = Map(

    // ---- A3: process summary through Reports.processSummary ----
    "q_report_process_summary" -> Q(
      s"""WITH sync_file AS ($syncLikeSql)
         |SELECT CAST(count(*) AS BIGINT) AS total_files,
         |  CAST(SUM(CASE WHEN processed = 2 THEN 1 ELSE 0 END) AS BIGINT) AS processed_count,
         |  CAST(SUM(CASE WHEN processed = 0 THEN 1 ELSE 0 END) AS BIGINT) AS just_uploaded,
         |  CAST(SUM(CASE WHEN processed = -1 THEN 1 ELSE 0 END) AS BIGINT) AS decryption_queue,
         |  CAST(SUM(CASE WHEN processed = 1 THEN 1 ELSE 0 END) AS BIGINT) AS decrypted_complete,
         |  CAST(SUM(CASE WHEN processed = -2 AND ingest_status_check IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS real_decryption_fails,
         |  CAST(SUM(CASE WHEN processed = -2 AND ingest_status_check IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ingestion_fails,
         |  CAST(SUM(CASE WHEN processed = -2 THEN 1 ELSE 0 END) AS BIGINT) AS fails,
         |  TIMESTAMP '2026-01-01 00:00:00' AS check_data
         |FROM sync_file WHERE create_date >= TIMESTAMP '1996-01-01'""".stripMargin) {
      (s, dir) =>
        Reports.processSummary(syncLike(s, dir), "1996-01-01",
          java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    },

    // ---- A4+O2: unprocessed backlog per table through Reports ----
    "q_report_unprocessed_topk" -> Q(
      """SELECT table_name, CAST(count(*) AS BIGINT) AS n_files FROM (
        |  SELECT o_orderpriority AS table_name,
        |         CASE WHEN o_orderstatus = 'O' THEN 'N' ELSE 'Y' END AS processed
        |  FROM orders)
        |WHERE processed = 'N'
        |GROUP BY table_name ORDER BY n_files DESC, table_name LIMIT 100""".stripMargin) {
      (s, dir) =>
        val monitoringLike = tb(s, dir).orders.select(
          col("o_orderpriority").as("table_name"),
          when(col("o_orderstatus") === "O", "N").otherwise("Y").as("processed"))
        Reports.unprocessedByTable(monitoringLike)
    },

    // ---- A8: distinct-error triage through Reports ----
    "q_report_distinct_errors" -> Q(
      """SELECT DISTINCT 'error: ' || o_orderpriority AS error_message FROM orders
        |WHERE o_orderstatus = 'P' ORDER BY error_message""".stripMargin) { (s, dir) =>
      val monitoringLike = tb(s, dir).orders.select(
        when(col("o_orderstatus") === "P",
          concat(lit("error: "), col("o_orderpriority")))
          .otherwise(lit(null: String)).as("error_message"))
      Reports.distinctErrors(monitoringLike)
    },

    // ---- A5+F13: batch windows through Reports.batchWindows ----
    "q_report_batch_windows" -> Q(
      """SELECT event_type AS table_name,
        |  min(CAST(ts AS TIMESTAMP)) AS min_start,
        |  max(CAST(ts AS TIMESTAMP)) AS max_end,
        |  CAST(count(*) AS BIGINT) AS n_batches,
        |  date_diff('microsecond', min(CAST(ts AS TIMESTAMP)), max(CAST(ts AS TIMESTAMP))) AS span_us
        |FROM events GROUP BY event_type ORDER BY table_name""".stripMargin) { (s, dir) =>
      val logsLike = tb(s, dir).events.select(
        col("event_type").as("table_name"),
        col("ts").as("start_time"), col("ts").as("end_time"))
      Reports.batchWindows(logsLike)
    },

    // ---- S13: aggregated-update through AggregatedUpdates ----
    // customer mapped to a staging-like frame; the oracle replicates the
    // COUNT(DISTINCT) + keyed-refresh semantics.
    "q_s13_aggregated_update" -> Q(
      """WITH staging AS (
        |  SELECT c_mktsegment AS stg_datim_id, CAST(c_custkey AS VARCHAR) AS uuid,
        |         CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END AS archived
        |  FROM customer),
        |counts AS (
        |  SELECT stg_datim_id AS datim_id, CAST(count(DISTINCT uuid) AS INTEGER) AS patient_count
        |  FROM staging WHERE archived = 0 GROUP BY stg_datim_id)
        |SELECT m.datim_id, coalesce(c.patient_count, m.patient_count) AS patient_count
        |FROM (SELECT DISTINCT c_mktsegment AS datim_id, 0 AS patient_count FROM customer) m
        |LEFT JOIN counts c ON c.datim_id = m.datim_id
        |ORDER BY m.datim_id""".stripMargin) { (s, dir) =>
      val cust = tb(s, dir).customer
      val staging = cust.select(
        col("c_mktsegment").as("stg_datim_id"),
        col("c_custkey").cast("string").as("uuid"),
        when(col("c_custkey") % 10 === 0, 1).otherwise(0).as("archived"))
      val mapping = cust.select(col("c_mktsegment").as("datim_id")).distinct()
        .withColumn("patient_count", lit(0))
      AggregatedUpdates.refreshPatientCounts(mapping,
          AggregatedUpdates.patientCounts(staging))
        .orderBy("datim_id")
    },

    // ---- streaming-analog tumbling window agg (event time) ----
    // Spark window() and DuckDB time_bucket both align 1-hour buckets on
    // whole hours → identical starts.
    "q_stream_window_counts" -> Q(
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin) { (s, dir) =>
      Reports.windowedCounts(tb(s, dir).events, "ts", "event_type")
        .orderBy("window_start", "event_type")
    },

    // ---- gap-based sessionization (lag + conditional cumulative sum) ----
    // 30-minute gap; per-session rollup. Both engines see ts truncated
    // to microseconds, so the gap comparison is exact-integer on both.
    "q_stream_sessionize" -> Q(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |l AS (SELECT user_id, event_id, tus,
        |        lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
        |      FROM e),
        |s AS (SELECT user_id, tus,
        |        sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                ROWS UNBOUNDED PRECEDING) AS session_seq
        |      FROM l)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(min(tus) AS BIGINT) AS start_us,
        |       CAST(max(tus) AS BIGINT) AS end_us,
        |       CAST(max(tus) - min(tus) AS BIGINT) AS duration_us
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin) { (s, dir) =>
      graft.streaming.Sessionize.sessionStats(tb(s, dir).events,
          "user_id", "ts", "event_id")
        .orderBy("user_id", "session_seq")
    },

    // ---- built-in session_window face of gap sessionization ----
    // The Spark-native operator for the same semantics Sessionize
    // hand-builds with lag + cumsum — and the one to prefer in
    // Structured Streaming (stateful session merging with watermark
    // eviction, no window functions). Boundary nuance the oracle must
    // encode: session_window merges an event only when its gap to the
    // session is strictly LESS than the duration (an event at exactly
    // prev + gap starts a new session, i.e. split on >=), whereas the
    // lag formulation above splits on strict >. Output keys on
    // (user, session start) so the compare is independent of
    // session_window's end = last + gap convention.
    "q_stream_session_builtin" -> Q(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |l AS (SELECT user_id, event_id, tus,
        |        lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
        |      FROM e),
        |s AS (SELECT user_id, tus,
        |        sum(CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                ROWS UNBOUNDED PRECEDING) AS session_seq
        |      FROM l)
        |SELECT user_id,
        |       CAST(min(tus) AS BIGINT) AS start_us,
        |       CAST(max(tus) AS BIGINT) AS end_us,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, start_us""".stripMargin) { (s, dir) =>
      tb(s, dir).events
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
        .select("user_id", "start_us", "end_us", "n_events")
        .orderBy("user_id", "start_us")
    },

    // ---- streaming CEP sequence detection (flatMapGroupsWithState) ----
    // Batch face of SequenceStream.detect: with empty initial state each
    // entity's whole history is one sorted group, so the output is
    // exactly sequenceMatch(...).filter(matched) — the completed chains
    // (signup → view → purchase within 7 days, no error between view
    // and purchase). Cross-micro-batch emission is SequenceStreamSpec's.
    "q_stream_seq_match" -> Q(
      s"""WITH rel AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |             FROM events
        |             WHERE event_type IN ('signup','view','purchase','error')),
        |${OracleSql.seqChainCtes}
        |SELECT s1.user_id, epoch_us(s1.t1) AS t1_us,
        |       epoch_us(s2.t2) AS t2_us, epoch_us(s3r.t3) AS t3_us
        |FROM s1 JOIN s2 ON s2.user_id = s1.user_id
        |        JOIN s3r ON s3r.user_id = s1.user_id
        |        LEFT JOIN nneg ON nneg.user_id = s1.user_id
        |WHERE coalesce(nneg.n, 0) = 0
        |ORDER BY s1.user_id""".stripMargin) { (s, dir) =>
      graft.streaming.SequenceStream.detect(tb(s, dir).events, "user_id",
          "ts", "event_type", Seq("signup", "view", "purchase"),
          windowSeconds = 604800L, negations = Map(2 -> Seq("error")))
        .toDF()
        .select(col("entity").cast("long").as("user_id"),
          element_at(col("ts_us"), 1).as("t1_us"),
          element_at(col("ts_us"), 2).as("t2_us"),
          element_at(col("ts_us"), 3).as("t3_us"))
        .orderBy("user_id")
    },

    // ---- EXISTENTIAL sequence matching (per-entity DP scan): does ANY
    //      clean signup → view → purchase chain exist within 7 days of
    //      first signup, with no error between the chosen view and
    //      purchase? The exhaustive complement of q_evt_seq_match's
    //      first-match rule; oracle is the join chain with a
    //      NOT EXISTS negation window ----
    "q_evt_seq_exist" -> Q(
      """WITH rel AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |             FROM events
        |             WHERE event_type IN ('signup','view','purchase','error')),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM rel
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |done AS (SELECT s1.user_id, min(epoch_us(c.ts)) AS matched_at_us
        |         FROM s1
        |         JOIN rel b ON b.user_id = s1.user_id AND b.event_type = 'view'
        |              AND epoch_us(b.ts) > epoch_us(s1.t1)
        |              AND epoch_us(b.ts) <= epoch_us(s1.t1) + 604800000000
        |         JOIN rel c ON c.user_id = s1.user_id AND c.event_type = 'purchase'
        |              AND epoch_us(c.ts) > epoch_us(b.ts)
        |              AND epoch_us(c.ts) <= epoch_us(s1.t1) + 604800000000
        |         WHERE NOT EXISTS (SELECT 1 FROM rel x
        |               WHERE x.user_id = s1.user_id AND x.event_type = 'error'
        |                 AND epoch_us(x.ts) > epoch_us(b.ts)
        |                 AND epoch_us(x.ts) < epoch_us(c.ts))
        |         GROUP BY s1.user_id)
        |SELECT s1.user_id, epoch_us(s1.t1) AS t1_us,
        |       (d.user_id IS NOT NULL) AS matched, d.matched_at_us
        |FROM s1 LEFT JOIN done d ON d.user_id = s1.user_id
        |ORDER BY s1.user_id""".stripMargin) { (s, dir) =>
      graft.streaming.SequenceStream.matchExistential(tb(s, dir).events,
          "user_id", "ts", "event_type", Seq("signup", "view", "purchase"),
          windowSeconds = 604800L, negations = Map(2 -> Seq("error")))
        .toDF()
        .select(col("entity").cast("long").as("user_id"),
          col("t1_us"), col("matched"), col("matched_at_us"))
        .orderBy("user_id")
    },

    // ---- stream-stream interval join (batch face) ----
    // StreamJoin.viewsBeforePurchases on the batch events table: each
    // purchase × same-user views in the trailing hour (exclusive of the
    // purchase instant). DuckDB checks the equi + range join directly;
    // watermark state eviction and cross-micro-batch arrival are
    // StreamJoinSpec's. The key equality keeps the plan a partitioned
    // SMJ/symmetric-hash join, never a BroadcastNestedLoop.
    "q_stream_interval_join" -> Q(
      """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id, CAST(ts AS TIMESTAMP) AS vts
        |      FROM events WHERE event_type = 'view')
        |SELECT p.purchase_id, p.user_id, v.view_id,
        |  CAST(epoch_us(p.pts) - epoch_us(v.vts) AS BIGINT) AS gap_us
        |FROM p JOIN v ON v.user_id = p.user_id
        |  AND v.vts >= p.pts - INTERVAL 1 HOUR AND v.vts < p.pts
        |ORDER BY p.purchase_id, v.view_id""".stripMargin) { (s, dir) =>
      graft.streaming.StreamJoin.viewsBeforePurchases(tb(s, dir).events, 3600L)
        .orderBy("purchase_id", "view_id")
    },

    // ---- stateful streaming dedup (flatMapGroupsWithState) ----
    // Batch face of StreamDedup.firstSeen: with empty initial state every
    // key is "first seen", so the output is exactly the per-hash
    // (min id, count) aggregate — which DuckDB checks directly. The
    // cross-micro-batch state behavior is covered by StreamDedupSpec.
    // ---- streaming CDC apply (streaming/CdcApply): change feed folded
    //      into a parquet snapshot via latest-per-key resolution +
    //      Merge.upsert + crash-safe swap. Batch face: the whole events
    //      feed as one batch over an empty base ≡ latest non-deleted
    //      change per key (errors are deletes). Cross-micro-batch
    //      sequencing is CdcApplySpec's job. ----
    "q_stream_cdc_apply" -> Q(
      """WITH ranked AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsx, event_id, value, event_type,
        |                       row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |                FROM events)
        |SELECT user_id, tsx AS ts, event_id, value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val tmp = Scratch.dir("graft_cdc")
      val base = s"${tmp.getPath}/state"
      val changes = tb(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          (col("event_type") === "error").as("_del"))
      graft.streaming.CdcApply.applyBatch(s, changes, base,
        Seq("user_id"), "ts", "event_id", "_del")
      s.read.parquet(base)
        .select("user_id", "ts", "event_id", "value")
        .orderBy("user_id")
    },

    "q_stream_dedup_state" -> Q(
      """SELECT md5(text) AS content_hash,
        |  CAST(min(doc_id) AS BIGINT) AS first_id,
        |  CAST(count(*) AS BIGINT) AS copies
        |FROM documents GROUP BY md5(text)
        |ORDER BY content_hash""".stripMargin) { (s, dir) =>
      graft.streaming.StreamDedup.firstSeen(tb(s, dir).documents, "doc_id", "text")
        .toDF().orderBy("content_hash")
    },

    // ---- streaming corpus curation (batch face) ----
    // CurateStream.curate on a batch frame: pure-projection gates →
    // static-benchmark decontamination (gate-level, BEFORE dedup — the
    // causal streaming order) → per-hash (min id, count). Cross-batch
    // state behavior is covered by CurateStreamSpec.
    "q_stream_curation" -> Q(
      raw"""WITH swl(sl, w) AS (VALUES ('en','the'),('en','a'),('en','fast'),('en','slow'),
        |  ('es','data'),('es','row'),('fr','table'),('fr','join'),
        |  ('de','window'),('de','batch'),('zh','spark'),('zh','stream')),
        |toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
        |         FROM documents WHERE doc_id % 41 <> 0),
        |tc AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t),
        |ta AS (SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_token_n FROM tc GROUP BY doc_id),
        |lv AS (SELECT tc.doc_id, swl.sl, sum(tc.c) AS lc FROM tc JOIN swl ON tc.t = swl.w GROUP BY tc.doc_id, swl.sl),
        |win AS (SELECT doc_id FROM (SELECT doc_id, sl, row_number() OVER (PARTITION BY doc_id ORDER BY lc DESC, sl) AS rn FROM lv)
        |        WHERE rn = 1 AND sl = 'en'),
        |sh2 AS (SELECT doc_id, sum(lc) AS sw_hits FROM lv GROUP BY doc_id),
        |${OracleSql.curationGate},
        |btoks AS (SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |          FROM documents WHERE doc_id % 41 = 0),
        |bsh AS (SELECT DISTINCT array_to_string(ts[i:i+2], ' ') AS s
        |        FROM (SELECT ts, unnest(range(1, len(ts)-1)) AS i FROM btoks)),
        |gts AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts FROM gate),
        |gsh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |        FROM (SELECT doc_id, ts, unnest(range(1, len(ts)-1)) AS i FROM gts)),
        |dirty AS (SELECT DISTINCT doc_id FROM gsh JOIN bsh USING (s)),
        |clean AS (SELECT doc_id, text FROM gate WHERE doc_id NOT IN (SELECT doc_id FROM dirty))
        |SELECT md5(text) AS content_hash,
        |       CAST(min(doc_id) AS BIGINT) AS first_id,
        |       CAST(count(*) AS BIGINT) AS copies
        |FROM clean GROUP BY md5(text)
        |ORDER BY content_hash""".stripMargin) { (s, dir) =>
      val docs = tb(s, dir).documents
      graft.streaming.CurateStream.curate(
          docs.filter(col("doc_id") % 41 =!= 0),
          docs.filter(col("doc_id") % 41 === 0),
          "doc_id", "text")
        .toDF().orderBy("content_hash")
    },

    // ---- k-anonymity audit (reports/Privacy): equivalence classes on
    //      the (nation, segment) quasi-identifier, classes/rows below
    //      k=10, and the k the data actually achieves. One shuffle on
    //      the quasi key; summary over the classes-sized frame. ----
    "q_priv_k_anon" -> Q(
      """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS class_size
        |           FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(class_size) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(sum(CASE WHEN class_size < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_classes,
        |       CAST(sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END) AS BIGINT) AS n_risky_rows,
        |       CAST(min(class_size) AS BIGINT) AS achieved_k
        |FROM c""".stripMargin) { (s, dir) =>
      graft.reports.Privacy.kAnonymity(tb(s, dir).customer,
        Seq("c_nationkey", "c_mktsegment"), k = 10)
    },

    // ---- l-diversity audit: a k-anonymous class with a constant
    //      sensitive value (account-balance sign here) still leaks it
    //      for every member — flag classes under l=2 distinct values. ----
    "q_priv_l_div" -> Q(
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END) AS BIGINT) AS n_sensitive,
        |       count(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END) >= 2 AS is_diverse
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, dir) =>
      graft.reports.Privacy.lDiversity(
          tb(s, dir).customer
            .withColumn("bal_sign",
              when(col("c_acctbal") < 0, "neg").otherwise("pos")),
          Seq("c_nationkey", "c_mktsegment"), "bal_sign", l = 2)
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // ---- suppression to k: the release face — rows whose quasi tuple
    //      already satisfies k survive, under-k classes are dropped
    //      (suppress, not generalize). Anti join against the risky
    //      classes; AQE broadcasts the (usually tiny) risky side.
    //      The oracle's correlation predicates use IS NOT DISTINCT
    //      FROM to encode the same null-safe <=> semantics the engine
    //      implements — a NULL quasi value forms ONE class, and plain
    //      equality would silently never match it. ----
    "q_priv_suppress" -> Q(
      """SELECT c_custkey, c_nationkey, c_mktsegment
        |FROM customer a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (SELECT c_nationkey, c_mktsegment, count(*) AS n
        |                 FROM customer GROUP BY 1, 2) r
        |  WHERE r.n < 12 AND r.c_nationkey IS NOT DISTINCT FROM a.c_nationkey
        |    AND r.c_mktsegment IS NOT DISTINCT FROM a.c_mktsegment)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      graft.reports.Privacy.suppressToK(tb(s, dir).customer,
          Seq("c_nationkey", "c_mktsegment"), k = 12)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // ---- dataset card: the per-source corpus datasheet a training
    //      run publishes — doc/char/token volume, language spread,
    //      within-source exact-dup count (docs minus distinct text
    //      hashes), and each source's token share of the corpus. ONE
    //      groupBy over documents + a 1-row broadcast total. ----
    "q_report_dataset_card" -> Q(
      """WITH t AS (SELECT source, lang, n_chars, md5(text) AS h,
        |             CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                                  x -> x <> '')) AS BIGINT) AS n
        |           FROM documents),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |        CAST(sum(n) AS BIGINT) AS total_tokens,
        |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |        CAST(count(*) - count(DISTINCT h) AS BIGINT) AS dup_docs
        |      FROM t GROUP BY source),
        |tot AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS tt FROM g)
        |SELECT g.source, g.n_docs, g.total_chars, g.total_tokens, g.n_langs,
        |       g.dup_docs,
        |       round(CAST(g.total_tokens AS DOUBLE) / tot.tt, 6) AS token_share
        |FROM g, tot ORDER BY g.source""".stripMargin) { (s, dir) =>
      val t = tb(s, dir).documents.select(col("source"), col("lang"),
        col("n_chars"), md5(col("text")).as("h"),
        size(graft.llm.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      val g = t.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        sum("n").as("total_tokens"), countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("h"))).as("dup_docs"))
      val tot = g.agg(sum("total_tokens").as("tt"))
      g.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("total_chars"),
          col("total_tokens"), col("n_langs"), col("dup_docs"),
          round(col("total_tokens").cast("double") / col("tt"), 6)
            .as("token_share"))
        .orderBy("source")
    }
  )
}

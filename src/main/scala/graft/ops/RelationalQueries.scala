package graft.ops

import graft.core.{Tables, Temporal}
import graft.core.Temporal.AsofDirection.{Backward, Forward, Nearest}
import graft.ingest.{JsonSource, Stages}
import graft.model.FileName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 relational operators re-expressed over the driver
  * testdata tables, each paired with its DuckDB oracle.
  *
  * Conventions for engine/oracle agreement:
  *  - every output column aliased identically on both sides;
  *  - DuckDB SUM(int) returns HUGEINT → always CAST(... AS BIGINT);
  *  - raw doubles pass through untouched; derived doubles are round()ed;
  *  - event timestamps: Tables.events yields a typed timestamp and
  *    Tables.eventsRaw an epoch-micros long regardless of the parquet
  *    layout (nanos or micros); DuckDB casts ts::TIMESTAMP — exact
  *    integer arithmetic on both sides at micros precision;
  *  - deterministic ORDER BY with a unique tiebreak on every query.
  *
  * Scale notes inline per query; the general rules: aggregates are
  * partial+final (map-side combine) for free, filters/projections reach
  * the parquet scan (verified via .explain in BenchSpec), small sides of
  * joins are broadcast explicitly.
  */
object RelationalQueries {

  private def tb(s: SparkSession, dir: String) = Tables(s, dir)

  // ---- the as-of faces: purchases matched to a user's views, one
  //      body and one DuckDB oracle per direction (backward, forward,
  //      nearest). ----
  private val asofPurchaseViewCtes =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS vts, max(event_id) AS view_id
      |      FROM events WHERE event_type = 'view' GROUP BY user_id, ts)""".stripMargin
  private def asofOneSidedSql(cmp: String): String =
    s"""$asofPurchaseViewCtes
      |SELECT p.purchase_id, p.user_id, p.pts, v.view_id, v.vts
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.pts $cmp v.vts
      |ORDER BY p.purchase_id""".stripMargin
  private val asofBackwardSql = asofOneSidedSql(">=")
  private val asofForwardSql = asofOneSidedSql("<=")
  private val asofNearestSql =
    s"""$asofPurchaseViewCtes,
      |b AS (SELECT p.purchase_id, v.view_id AS bid, v.vts AS bts
      |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.pts >= v.vts),
      |f AS (SELECT p.purchase_id, v.view_id AS fid, v.vts AS fts
      |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.pts <= v.vts),
      |sel AS (
      |  SELECT p.purchase_id, p.user_id, p.pts,
      |         CASE WHEN fts IS NULL OR (bts IS NOT NULL AND
      |                epoch_us(p.pts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(p.pts))
      |              THEN bid ELSE fid END AS view_id,
      |         CASE WHEN fts IS NULL OR (bts IS NOT NULL AND
      |                epoch_us(p.pts) - epoch_us(bts) <= epoch_us(fts) - epoch_us(p.pts))
      |              THEN bts ELSE fts END AS vts
      |  FROM p JOIN b USING (purchase_id) JOIN f USING (purchase_id))
      |SELECT purchase_id, user_id, pts,
      |       CASE WHEN abs(epoch_us(vts) - epoch_us(pts)) <= 172800000000 THEN view_id END AS view_id,
      |       CASE WHEN abs(epoch_us(vts) - epoch_us(pts)) <= 172800000000 THEN vts END AS vts
      |FROM sel ORDER BY purchase_id""".stripMargin
  /** The nearest faces' tolerance: 2 days, the oracle's literal. */
  private val asofNearestToleranceUs = 172800000000L

  private def asofPurchaseViews(direction: Temporal.AsofDirection,
                                toleranceUs: Option[Long] = None)
      : (SparkSession, String) => DataFrame = { (s, dir) =>
    val ev = tb(s, dir).events
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    // unique right rows per (user, ts): keep the max event_id
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
      .withColumn("vts", col("ts"))
    Temporal.asofJoinDirected(purchases, views,
        Seq("user_id"), "ts", Seq("view_id", "vts"), direction, toleranceUs)
      .select(col("purchase_id"), col("user_id"), col("ts").as("pts"),
        col("view_id"), col("vts"))
      .orderBy("purchase_id")
  }

  /** The customer → supplier order graph, one distinct edge per
    * (o_custkey, l_suppkey + 1000000) — the graph operators' fixture.
    */
  private def custSuppEdges(t: Tables): DataFrame =
    t.orders
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + lit(1000000L)).as("dst"))
      .distinct()

  /** Daily OHLC bars per user — open/close by exact (ts, event_id)
    * order; `nCol` names the row count, which the one-shot and the
    * mergeable faces name differently.
    */
  private def ohlcOracle(nCol: String): String =
    s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
       |           FROM events),
       |r AS (SELECT user_id, date_trunc('day', ts) AS bucket, value,
       |        row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
       |          ORDER BY epoch_us(ts), event_id) AS rn_a,
       |        row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
       |          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn_z
       |      FROM e)
       |SELECT user_id, bucket,
       |       round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
       |       round(max(value), 6) AS high,
       |       round(min(value), 6) AS low,
       |       round(max(CASE WHEN rn_z = 1 THEN value END), 6) AS close,
       |       CAST(count(*) AS BIGINT) AS $nCol
       |FROM r GROUP BY user_id, bucket
       |ORDER BY user_id, bucket""".stripMargin

  /** Per-user events in (ts, event_id) order with millis-scaled values
    * and their rank — the seed of the fixed-point recurrences (EWMA,
    * CUSUM) that follow it under WITH RECURSIVE.
    */
  private val fixedPointBase =
    """WITH RECURSIVE base AS (
      |  SELECT user_id, event_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
      |         CAST(round(value * 1000) AS BIGINT) AS vmillis,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events)""".stripMargin

  /** The zero-filled daily grid of ⌊value·10⁶⌋ sums per user and its
    * centered 7-day moving window (`tr`: wsum, wn) — the shared front
    * of the seasonal decomposition and its anomaly flags.
    */
  private val seasonalTrendCtes =
    """WITH agg AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |                    CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS sv
      |             FROM events GROUP BY 1, 2),
      |sp AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM agg GROUP BY user_id),
      |cal AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM sp),
      |grid AS (SELECT c.user_id, c.day, coalesce(a.sv, 0) AS value_u
      |         FROM cal c LEFT JOIN agg a ON a.user_id = c.user_id AND a.day = c.day),
      |tr AS (SELECT user_id, day, value_u,
      |         sum(value_u) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsum,
      |         count(*) OVER (PARTITION BY user_id ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
      |       FROM grid)""".stripMargin

  /** Priority totals over `orders` — the oracle of both text-format
    * roundtrips (CSV and JSONL), whose content must survive encoding.
    */
  private val priorityTotalsOracle =
    """SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin

  val all: Map[String, Q] = Map(

    // ---- S3 + P5 + O1: the work-list scan (file_loader.py:247-255) ----
    // Predicate pushdown: status+date filters reach the parquet scan;
    // TakeOrderedAndProject caps the sort at 500 rows (no full sort).
    "q_s3_worklist_scan" -> Q(
      """SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority FROM orders
        |WHERE o_orderstatus = 'O' AND o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND NOT regexp_matches(lower(o_orderpriority), '^(1-urgent|2-high)')
        |ORDER BY o_orderdate, o_orderkey LIMIT 500""".stripMargin) { (s, dir) =>
      tb(s, dir).orders
        .filter(col("o_orderstatus") === "O" &&
          col("o_orderdate") >= lit("1998-01-01").cast(TimestampType) &&
          !lower(col("o_orderpriority")).rlike("^(1-urgent|2-high)"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .orderBy(col("o_orderdate"), col("o_orderkey")).limit(500)
    },

    // ---- P5: ILIKE ANY prefix predicate (dsd_loader.py:255-259) ----
    "q_p5_ilike_any" -> Q(
      """SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
        |WHERE regexp_matches(lower(source), '^(src1|src3|src5)')
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      tb(s, dir).documents
        .filter(lower(col("source")).rlike("^(src1|src3|src5)"))
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    },

    // ---- P1 + P2: column exclusion / selection (file_loader.py:600-603) ----
    // ReadSchema in the scan must show only the 4 surviving columns.
    "q_p1_column_exclusion" -> Q(
      """SELECT p_partkey, p_name, p_type, p_size FROM part
        |WHERE p_size > 30 ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Stages.excludeColumns(tb(s, dir).part, Seq("p_brand", "p_retailprice"))
        .filter(col("p_size") > 30)
        .orderBy("p_partkey")
    },

    // ---- P3: drop rows where every tracked column is null ----
    // (dropna(how='all'), file_loader.py:629)
    "q_p3_drop_all_null" -> Q(
      """SELECT doc_id, nullif(lang, 'en') AS lang2, nullif(source, 'src0') AS source2
        |FROM documents
        |WHERE NOT (nullif(lang, 'en') IS NULL AND nullif(source, 'src0') IS NULL)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      tb(s, dir).documents
        .select(col("doc_id"),
          when(col("lang") === "en", lit(null: String)).otherwise(col("lang")).as("lang2"),
          when(col("source") === "src0", lit(null: String)).otherwise(col("source")).as("source2"))
        .na.drop("all", Seq("lang2", "source2"))
        .orderBy("doc_id")
    },

    // ---- F8 + P4: date validation + quarantine flag ----
    // try_to_timestamp replaces the reference's exception-driven probe
    // (file_loader.py:498-521); '' and NULL pass, junk fails.
    "q_f8_date_quarantine" -> Q(
      """SELECT doc_id, check_date,
        |  (check_date IS NULL OR trim(check_date) = ''
        |   OR TRY_CAST(check_date AS TIMESTAMP) IS NOT NULL) AS is_valid
        |FROM (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 7 = 0 THEN 'not-a-date'
        |    WHEN doc_id % 5 = 0 THEN ''
        |    WHEN doc_id % 11 = 0 THEN NULL
        |    ELSE '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |  END AS check_date FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = tb(s, dir).documents.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, "not-a-date")
          .when(col("doc_id") % 5 === 0, "")
          .when(col("doc_id") % 11 === 0, lit(null: String))
          .otherwise(concat(lit("2024-01-"),
            lpad((col("doc_id") % 28 + 1).cast(StringType), 2, "0")))
          .as("check_date"))
      base.withColumn("is_valid", Stages.dateValid(col("check_date")))
        .orderBy("doc_id")
    },

    // ---- P7: timestamp range predicates (file_ingestion_process.py:63-69) ----
    "q_p7_ts_range" -> Q(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS total_value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-02-01' AND TIMESTAMP '2024-03-01'
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      tb(s, dir).events
        .filter(col("ts").between(lit("2024-02-01").cast(TimestampType),
          lit("2024-03-01").cast(TimestampType)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
        .orderBy("event_type")
    },

    // ---- P8: regex predicate (table_sizes.sql:8-9) ----
    "q_p8_regex_predicate" -> Q(
      """SELECT p_type, CAST(count(*) AS BIGINT) AS n FROM part
        |WHERE NOT regexp_matches(p_type, '^(ECONOMY|SMALL)')
        |GROUP BY p_type ORDER BY p_type""".stripMargin) { (s, dir) =>
      tb(s, dir).part
        .filter(!col("p_type").rlike("^(ECONOMY|SMALL)"))
        .groupBy("p_type").agg(count(lit(1)).as("n"))
        .orderBy("p_type")
    },

    // ---- P9: null-safe string predicate (duplicates_check.sql:12,46) ----
    "q_p9_nullsafe_contains" -> Q(
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n FROM customer
        |WHERE NOT (lower(c_mktsegment) LIKE '%auto%')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      tb(s, dir).customer
        .filter(!lower(col("c_mktsegment")).contains("auto"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },

    // ---- J1: self-join heal, equi + theta residual (duplicates_check.sql:20-23) ----
    // Shuffles once on l_orderkey; the residual predicates stay in the
    // join condition (no post-filter shuffle).
    "q_j1_selfjoin_heal" -> Q(
      """SELECT DISTINCT a.l_orderkey, a.l_linenumber, 'No errors' AS heal_msg
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey
        | AND a.l_linenumber <> b.l_linenumber
        | AND b.l_returnflag = 'R' AND a.l_returnflag <> 'R'
        |ORDER BY a.l_orderkey, a.l_linenumber""".stripMargin) { (s, dir) =>
      val li = tb(s, dir).lineitem
      val a = li.select("l_orderkey", "l_linenumber", "l_returnflag").as("a")
      val b = li.select("l_orderkey", "l_linenumber", "l_returnflag").as("b")
      a.join(b,
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_linenumber") =!= col("b.l_linenumber") &&
            col("b.l_returnflag") === "R" && col("a.l_returnflag") =!= "R")
        .select(col("a.l_orderkey").as("l_orderkey"),
          col("a.l_linenumber").as("l_linenumber"),
          lit("No errors").as("heal_msg"))
        .distinct()
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- J2: anti-join / NOT EXISTS (automate_file_delete.py:97-102) ----
    "q_j2_anti_join" -> Q(
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val returned = t.lineitem.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      t.orders.join(returned, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },

    // ---- J3 + W1: composite-key semi join fed by window dedup ----
    // (duplicates_check.sql:49-54)
    "q_j3_semi_composite" -> Q(
      """WITH ranked AS (
        |  SELECT l_orderkey, l_partkey,
        |         row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |                            ORDER BY l_linenumber DESC) AS rn
        |  FROM lineitem),
        |dups AS (SELECT DISTINCT l_orderkey, l_partkey FROM ranked WHERE rn > 1)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM dups d
        |              WHERE d.l_orderkey = l.l_orderkey AND d.l_partkey = l.l_partkey)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val li = tb(s, dir).lineitem
      val w = Window.partitionBy("l_orderkey", "l_partkey")
        .orderBy(col("l_linenumber").desc)
      val dups = li.withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1)
        .select("l_orderkey", "l_partkey").distinct()
      li.join(dups, Seq("l_orderkey", "l_partkey"), "left_semi")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // ---- J4: semi-join via IN subquery chain (stg_monitoring_summary.sql:31) ----
    // Both dimension sides are tiny → broadcast semi joins, zero shuffles
    // of the fact side.
    "q_j4_semi_in_chain" -> Q(
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n FROM customer
        |WHERE c_nationkey IN (
        |  SELECT n_nationkey FROM nation WHERE n_regionkey IN (
        |    SELECT r_regionkey FROM region WHERE r_name IN ('ASIA', 'EUROPE')))
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val regions = t.region.filter(col("r_name").isin("ASIA", "EUROPE"))
        .select("r_regionkey")
      val nations = t.nation.join(broadcast(regions),
          col("n_regionkey") === col("r_regionkey"), "left_semi")
        .select("n_nationkey")
      t.customer.join(broadcast(nations),
          col("c_nationkey") === col("n_nationkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    },

    // ---- J5: idempotency re-planned as ONE semi/anti join per run ----
    // (replaces 2 point probes per file, file_loader.py:328-336,356-366)
    "q_j5_idempotency_split" -> Q(
      """WITH worklist AS (
        |  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'
        |  ORDER BY o_orderkey LIMIT 5000),
        |log AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'A')
        |SELECT 'already_loaded' AS bucket, CAST(count(*) AS BIGINT) AS n FROM worklist
        |WHERE o_orderkey IN (SELECT l_orderkey FROM log)
        |UNION ALL
        |SELECT 'new' AS bucket, CAST(count(*) AS BIGINT) AS n FROM worklist
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM log)
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val worklist = t.orders.filter(col("o_orderstatus") === "O")
        .select("o_orderkey").orderBy("o_orderkey").limit(5000)
      val log = t.lineitem.filter(col("l_returnflag") === "A")
        .select("l_orderkey").distinct()
      val already = worklist.join(log, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("already_loaded").as("bucket"), col("n"))
      val fresh = worklist.join(log, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("new").as("bucket"), col("n"))
      already.unionByName(fresh).orderBy("bucket")
    },

    // ---- A1/A7: filtered COUNT(*) (file_ingestion_process.py:63-69) ----
    "q_a1_count" -> Q(
      """SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity > 45""") {
      (s, dir) =>
        tb(s, dir).lineitem.filter(col("l_quantity") > 45)
          .agg(count(lit(1)).as("n"))
    },

    // ---- A2 + S13: COUNT(DISTINCT) patient-count analog (file_loader.py:211-216) ----
    "q_a2_count_distinct" -> Q(
      """SELECT o_orderstatus, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) {
      (s, dir) =>
        tb(s, dir).orders.groupBy("o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
          .orderBy("o_orderstatus")
    },

    // ---- A3: conditional aggregation / process summary (pcs_summary_report.py:25-34) ----
    "q_a3_conditional_agg" -> Q(
      """SELECT CAST(count(*) AS BIGINT) AS total_files,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS processed_count,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS just_uploaded,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS decrypted_complete,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' AND o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS ingestion_fails
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'""".stripMargin) {
      (s, dir) =>
        tb(s, dir).orders
          .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType))
          .agg(count(lit(1)).as("total_files"),
            sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("processed_count"),
            sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("just_uploaded"),
            sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("decrypted_complete"),
            sum(when(col("o_orderstatus") === "P" && col("o_totalprice") > 200000, 1)
              .otherwise(0)).as("ingestion_fails"))
    },

    // ---- A4: GROUP BY + COUNT (multi_file_ingestion_process.py:37-57) ----
    "q_a4_group_count" -> Q(
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n FROM customer
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      tb(s, dir).customer.groupBy("c_nationkey").agg(count(lit(1)).as("n"))
        .orderBy("c_nationkey")
    },

    // ---- A5: MIN/MAX (file_ingestion_summary_report.sql:48-49) ----
    "q_a5_min_max" -> Q(
      """SELECT min(o_orderdate) AS min_start, max(o_orderdate) AS max_end,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      tb(s, dir).orders.filter(col("o_orderstatus") === "F")
        .agg(min("o_orderdate").as("min_start"), max("o_orderdate").as("max_end"),
          count(lit(1)).as("n"))
    },

    // ---- A6: count per file (automate_file_delete.py:41-57 analog) ----
    "q_a6_count_per_source" -> Q(
      """SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      tb(s, dir).documents.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
        .orderBy("source")
    },

    // ---- A8: DISTINCT (stg_monitoring_summary.sql:14-19) ----
    "q_a8_distinct" -> Q(
      """SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin) { (s, dir) =>
      tb(s, dir).orders.select("o_orderpriority", "o_orderstatus").distinct()
        .orderBy("o_orderpriority", "o_orderstatus")
    },

    // ---- W1: ROW_NUMBER dedup, keep latest (duplicates_check.sql:1-17) ----
    "q_w1_rownumber_dedup" -> Q(
      """SELECT l_orderkey, l_partkey, l_linenumber FROM (
        |  SELECT l_orderkey, l_partkey, l_linenumber,
        |         row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |                            ORDER BY l_linenumber DESC) AS rn
        |  FROM lineitem) WHERE rn = 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("l_orderkey", "l_partkey")
        .orderBy(col("l_linenumber").desc)
      tb(s, dir).lineitem
        .select("l_orderkey", "l_partkey", "l_linenumber")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("l_orderkey", "l_partkey")
    },

    // ---- O1: ORDER BY + LIMIT → TakeOrderedAndProject, no global sort ----
    "q_o1_orderby_limit" -> Q(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 200""".stripMargin) {
      (s, dir) =>
        tb(s, dir).lineitem.select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(200)
    },

    // ---- O2: top-k by aggregate (table_sizes.sql:1-11) ----
    "q_o2_topk_counts" -> Q(
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM lineitem
        |GROUP BY l_partkey ORDER BY n DESC, l_partkey LIMIT 10""".stripMargin) {
      (s, dir) =>
        tb(s, dir).lineitem.groupBy("l_partkey").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("l_partkey")).limit(10)
    },

    // ---- O3: ORDER BY DESC for display (stg_monitoring_summary.sql:64-65) ----
    "q_o3_recent_first" -> Q(
      """SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts2, value FROM events
        |ORDER BY ts2 DESC, event_id LIMIT 100""".stripMargin) { (s, dir) =>
      tb(s, dir).events
        .select(col("event_id"), col("event_type"), col("ts").as("ts2"), col("value"))
        .orderBy(col("ts2").desc, col("event_id")).limit(100)
    },

    // ---- U1 + F14: UNION ALL of labeled conditional-agg blocks ----
    // (file_ingestion_summary_report.sql:1-26)
    "q_u1_union_report" -> Q(
      """SELECT * FROM (
        |  SELECT 'file_ingest_process' AS process_type,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS success_count,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS failed_count
        |  FROM orders
        |  UNION ALL
        |  SELECT 'dsd_ingest_process' AS process_type,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS success_count,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS failed_count
        |  FROM lineitem)
        |ORDER BY process_type""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val main = t.orders.agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("success_count"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("failed_count"))
        .select(lit("file_ingest_process").as("process_type"),
          col("success_count"), col("failed_count"))
      val dsd = t.lineitem.agg(
        sum(when(col("l_returnflag") === "A", 1).otherwise(0)).as("success_count"),
        sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("failed_count"))
        .select(lit("dsd_ingest_process").as("process_type"),
          col("success_count"), col("failed_count"))
      main.unionByName(dsd).orderBy("process_type")
    },

    // ---- F1/F2: table-name derivation (file_loader.py:288-309) ----
    "q_f1_table_name" -> Q(
      """SELECT doc_id,
        |  'stg_' || regexp_replace(regexp_replace(
        |     source || '_person_' || CAST(doc_id AS VARCHAR) || '_20250103141949_decrypted.json',
        |     '_decrypted\.json$|\.json$', '', 'g'), '_[0-9]+', '', 'g') AS staging_table
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val fname = concat(col("source"), lit("_person_"),
        col("doc_id").cast(StringType), lit("_20250103141949_decrypted.json"))
      tb(s, dir).documents
        .select(col("doc_id"), FileName.stagingTableCol(fname).as("staging_table"))
        .orderBy("doc_id")
    },

    // ---- F3: batch-id extraction (file_loader.py:556) ----
    "q_f3_batch_id" -> Q(
      """SELECT doc_id,
        |  string_split(source || '_person_' || CAST(doc_id AS VARCHAR) || '_'
        |    || CAST(2024000000 + doc_id AS VARCHAR) || '_decrypted.json', '_')[-2] AS batch_id
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val fname = concat(col("source"), lit("_person_"),
        col("doc_id").cast(StringType), lit("_"),
        (lit(2024000000L) + col("doc_id")).cast(StringType),
        lit("_decrypted.json"))
      tb(s, dir).documents
        .select(col("doc_id"), FileName.batchIdCol(fname).as("batch_id"))
        .orderBy("doc_id")
    },

    // ---- F4: decrypted-name derivation (file_loader.py:264,559) ----
    "q_f4_decrypted_name" -> Q(
      """SELECT doc_id,
        |  regexp_replace(source || '_x_' || CAST(doc_id AS VARCHAR) || '.json',
        |                 '\.json$', '_decrypted.json') AS decrypted_name,
        |  replace(regexp_replace(source || '_x_' || CAST(doc_id AS VARCHAR) || '.json',
        |                 '\.json$', '_decrypted.json'), '_decrypted', '') AS encrypted_name
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val fname = concat(col("source"), lit("_x_"),
        col("doc_id").cast(StringType), lit(".json"))
      val dec = FileName.decryptedNameCol(fname)
      tb(s, dir).documents
        .select(col("doc_id"), dec.as("decrypted_name"),
          FileName.encryptedNameCol(dec).as("encrypted_name"))
        .orderBy("doc_id")
    },

    // ---- F5: empty→null normalization (file_loader.py:477-496) ----
    "q_f5_empty_to_null" -> Q(
      """SELECT norm, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT CASE WHEN trim(raw) = '' OR trim(raw) = 'null' THEN NULL ELSE raw END AS norm
        |  FROM (SELECT CASE WHEN doc_id % 4 = 0 THEN ''
        |                    WHEN doc_id % 4 = 1 THEN '  '
        |                    WHEN doc_id % 4 = 2 THEN 'null'
        |                    ELSE lang END AS raw FROM documents))
        |GROUP BY norm ORDER BY norm NULLS FIRST""".stripMargin) { (s, dir) =>
      val raw = when(col("doc_id") % 4 === 0, "")
        .when(col("doc_id") % 4 === 1, "  ")
        .when(col("doc_id") % 4 === 2, "null")
        .otherwise(col("lang"))
      tb(s, dir).documents
        .select(Stages.emptyToNullCol(raw).as("norm"))
        .groupBy("norm").agg(count(lit(1)).as("n"))
        .orderBy(col("norm").asc_nulls_first)
    },

    // ---- F6: flat PII masking (file_loader.py:608-621) ----
    "q_f6_mask_flat" -> Q(
      """SELECT c_custkey, '******' AS c_name, c_mktsegment FROM customer
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Stages.maskFlat(tb(s, dir).customer.select("c_custkey", "c_name", "c_mktsegment"),
          Seq("c_name"))
        .orderBy("c_custkey")
    },

    // ---- F7: nested-JSON PII masking (file_loader.py:523-536) ----
    // from_json → transform_values → to_json; no UDF, stays in codegen.
    "q_f7_mask_nested_json" -> Q(
      """SELECT event_id,
        |  CASE WHEN props IS NULL THEN NULL
        |       WHEN json_extract(props, '$.k') IS NOT NULL THEN '{"k":"******"}'
        |       ELSE props END AS masked_props
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      tb(s, dir).events
        .select(col("event_id"),
          Stages.maskJsonString(col("props"), Seq("k")).as("masked_props"))
        .orderBy("event_id")
    },

    // ---- F9: error-message formatting (file_loader.py:371-384) ----
    "q_f9_error_format" -> Q(
      """SELECT doc_id,
        |  substr(replace(replace(split_part('psycopg2.errors.UndefinedColumn: stg_' || text,
        |    chr(10), 1), 'psycopg2.errors.', ''), 'stg_', ''), 1, 60) AS err
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      tb(s, dir).documents
        .select(col("doc_id"),
          substring(
            expr("replace(replace(element_at(split(concat('psycopg2.errors.UndefinedColumn: stg_', text), '\\n'), 1), 'psycopg2.errors.', ''), 'stg_', '')"),
            1, 60).as("err"))
        .orderBy("doc_id")
    },

    // ---- F10: log-id generation (file_ingestion_process.py:52) ----
    "q_f10_log_id" -> Q(
      """SELECT 'IPID_' || strftime(CAST(ts AS TIMESTAMP), '%Y%m%d_%H_%M') AS log_id,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY log_id ORDER BY log_id LIMIT 500""".stripMargin) { (s, dir) =>
      tb(s, dir).events
        .select(concat(lit("IPID_"),
          date_format(col("ts"), "yyyyMMdd_HH_mm")).as("log_id"))
        .groupBy("log_id").agg(count(lit(1)).as("n"))
        .orderBy("log_id").limit(500)
    },

    // ---- F12: size pretty-print (table_sizes.sql:2-3) ----
    "q_f12_pretty_size" -> Q(
      """SELECT doc_id, CASE
        |  WHEN n_chars * 1024 >= 1073741824 THEN CAST(round(n_chars * 1024 / 1073741824.0, 1) AS VARCHAR) || ' GB'
        |  WHEN n_chars * 1024 >= 1048576 THEN CAST(round(n_chars * 1024 / 1048576.0, 1) AS VARCHAR) || ' MB'
        |  WHEN n_chars * 1024 >= 1024 THEN CAST(round(n_chars * 1024 / 1024.0, 1) AS VARCHAR) || ' KB'
        |  ELSE CAST(n_chars * 1024 AS VARCHAR) || ' B' END AS pretty
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      tb(s, dir).documents
        .select(col("doc_id"), Stages.prettySize(col("n_chars") * 1024).as("pretty"))
        .orderBy("doc_id")
    },

    // ---- F13: time arithmetic (file_ingestion_summary_report.sql:38) ----
    // Exact integer micros on both sides: Spark aggregates eventsRaw's
    // epoch-micros longs, DuckDB date_diffs the cast timestamps.
    "q_f13_interval_arith" -> Q(
      """SELECT user_id,
        |  date_diff('microsecond', min(CAST(ts AS TIMESTAMP)), max(CAST(ts AS TIMESTAMP))) AS span_us,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      tb(s, dir).eventsRaw
        .groupBy("user_id")
        .agg((max("ts") - min("ts")).as("span_us"), count(lit(1)).as("n"))
        .orderBy("user_id")
    },

    // ---- F14: CASE status labeling (SyncState analog) ----
    "q_f14_case_label" -> Q(
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FULFILLED'
        |       ELSE 'PENDING' END AS status_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY status_label ORDER BY status_label""".stripMargin) { (s, dir) =>
      tb(s, dir).orders
        .select(when(col("o_orderstatus") === "O", "OPEN")
          .when(col("o_orderstatus") === "F", "FULFILLED")
          .otherwise("PENDING").as("status_label"))
        .groupBy("status_label").agg(count(lit(1)).as("n"))
        .orderBy("status_label")
    },

    // ---- P6 + J2 + O1: deletion eligibility (automate_file_delete.py:91-103) ----
    "q_p6_deletion_eligibility" -> Q(
      """SELECT o_orderkey, o_orderdate FROM orders
        |WHERE o_orderstatus IN ('F', 'P')
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_totalprice IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |ORDER BY o_orderdate, o_orderkey LIMIT 1000""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val logged = t.lineitem.filter(col("l_returnflag") === "R").select("l_orderkey")
      t.orders
        .filter(col("o_orderstatus").isin("F", "P") &&
          col("o_orderdate") >= lit("1997-01-01").cast(TimestampType) &&
          col("o_totalprice").isNotNull)
        .join(logged, col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderdate")
        .orderBy(col("o_orderdate"), col("o_orderkey")).limit(1000)
    },

    // ---- S16: staged-record DELETE re-expressed as anti-join ----
    // (stg_records_deletion_process.py:12-15 → what remains after delete)
    "q_s16_staged_delete" -> Q(
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS remaining FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin) {
      (s, dir) =>
        val t = tb(s, dir)
        val migrated = t.orders.filter(col("o_orderstatus") === "F").select("o_orderkey")
        t.lineitem.join(migrated, col("l_orderkey") === col("o_orderkey"), "left_anti")
          .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("remaining"))
          .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- S1: JSON array file scan, end-to-end round trip ----
    // Writes a slice of `documents` as JSON-array files (one per source,
    // like one sync file per facility), reads them back through the real
    // entity-batch reader, aggregates. Oracle runs the same aggregate on
    // the parquet source — a mismatch anywhere in the write/read path
    // fails the hash.
    "q_s1_json_scan" -> Q(
      """SELECT source, CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id < 200 GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val docs = tb(s, dir).documents.filter(col("doc_id") < 200)
        val tmp = Scratch.dir("graft_s1_")
        val bySource = docs.select(to_json(struct(col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))).as("j"), col("source"))
          .collect().groupBy(_.getString(1))
        bySource.foreach { case (src, rows) =>
          val arr = rows.map(_.getString(0)).mkString("[\n", ",\n", "\n]")
          java.nio.file.Files.writeString(
            new java.io.File(tmp, s"$src.json").toPath, arr)
        }
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        JsonSource.readEntityBatch(s, schema,
            bySource.keys.toSeq.sorted.map(src => s"${tmp.getPath}/$src.json"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
          .orderBy("source")
    },

    // ---- as-of join (Temporal.asofJoin, the backward face of
    //      asofJoinDirected): each purchase matched to the
    //      user's most recent view at-or-before purchase time. One
    //      shuffle on user_id, window scan — no nested-loop range join.
    //      DuckDB's native ASOF LEFT JOIN is the oracle. ----
    "q_evt_asof_join" -> Q(asofBackwardSql)(asofPurchaseViews(Backward)),

    // ---- interval OVERLAP join (Temporal.intervalOverlapPairs):
    //      click-derived intervals × error-derived intervals per user,
    //      intervals from integer-exact event arithmetic; binned equi
    //      join, each pair once from its canonical bin — the oracle is
    //      the naive theta join ----
    "q_evt_interval_overlap" -> Q(
      """WITH c AS (SELECT user_id, event_id AS click_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS s1,
        |             epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 7200 + 60) * 1000000 AS e1
        |           FROM events WHERE event_type = 'click'),
        |x AS (SELECT user_id, event_id AS error_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS s2,
        |             epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 3600 + 60) * 1000000 AS e2
        |      FROM events WHERE event_type = 'error')
        |SELECT c.user_id, c.click_id, x.error_id,
        |       CAST(least(c.e1, x.e2) - greatest(c.s1, x.s2) AS BIGINT) AS overlap_us
        |FROM c JOIN x ON c.user_id = x.user_id AND c.s1 < x.e2 AND x.s2 < c.e1
        |ORDER BY click_id, error_id""".stripMargin) { (s, dir) =>
      val ev = tb(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("cs"),
          (col("ts") + expr("make_interval(0,0,0,0,0,0, event_id % 7200 + 60)")).as("ce"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("es"),
          (col("ts") + expr("make_interval(0,0,0,0,0,0, event_id % 3600 + 60)")).as("ee"))
      graft.core.Temporal.intervalOverlapPairs(clicks, errors,
          Seq("user_id"), "click_id", "cs", "ce", "error_id", "es", "ee",
          binSeconds = 3600L)
        .orderBy("click_id", "error_id")
    },

    // ---- OHLC bars (Temporal.ohlcBars): per-user daily open/high/low/
    //      close of the event value stream — one partial/final
    //      aggregate, open/close by exact (ts, id) min_by/max_by ----
    "q_evt_ohlc" -> Q(
      ohlcOracle("n_events")) { (s, dir) =>
      graft.core.Temporal.ohlcBars(tb(s, dir).events, "user_id", "ts",
          "value", "event_id", bucket = "day")
        .select(col("user_id"), col("bucket"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"),
          col("n_events"))
        .orderBy("user_id", "bucket")
    },

    // ---- time-window event dedup (Temporal.dedupWithin): suppress a
    //      (user, type) event if the previous one is <= 1h older — the
    //      telemetry debounce; identical to keeping each gap-session's
    //      first event ----
    "q_evt_dedup_within" -> Q(
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |             lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |               PARTITION BY user_id, event_type
        |               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev
        |           FROM events)
        |SELECT event_id, user_id, event_type, ts
        |FROM e WHERE prev IS NULL OR epoch_us(ts) - prev > 3600000000
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = tb(s, dir).events
        .select("event_id", "user_id", "event_type", "ts")
      graft.core.Temporal.dedupWithin(ev, Seq("user_id", "event_type"),
          "ts", "event_id", gapSeconds = 3600L)
        .orderBy("event_id")
    },

    // ---- FORWARD as-of (Temporal.asofJoinDirected Forward): each
    //      purchase to the EARLIEST view at-or-after it — the pandas
    //      merge_asof direction='forward' face; DuckDB's ASOF accepts
    //      the mirrored inequality natively. ----
    "q_evt_asof_fwd" -> Q(asofForwardSql)(asofPurchaseViews(Forward)),

    // ---- NEAREST as-of with tolerance (merge_asof direction='nearest',
    //      tolerance=2 days): closer of the backward/forward views, ties
    //      backward, match rejected past the tolerance. The oracle runs
    //      BOTH DuckDB ASOF directions and replays the exact integer-
    //      micros tie/tolerance rule. ----
    "q_evt_asof_nearest" -> Q(asofNearestSql)(
      asofPurchaseViews(Nearest, Some(asofNearestToleranceUs))),

    // ---- bounded range join (Temporal.rangePairs): (click, error)
    //      pairs per user within 4 hours, binned into an EQUI join —
    //      the naive theta formulation plans as BroadcastNestedLoop. ----
    "q_evt_range_join" -> Q(
      """SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id,
        |       epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS gap_us
        |FROM events c JOIN events e
        |  ON c.user_id = e.user_id AND c.event_type = 'click' AND e.event_type = 'error'
        | AND e.ts > c.ts AND e.ts <= c.ts + INTERVAL 14400 SECONDS
        |ORDER BY click_id, error_id""".stripMargin) { (s, dir) =>
      val ev = tb(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"), col("ts"))
      graft.core.Temporal.rangePairs(clicks, errors,
          Seq("user_id"), "ts", "click_id", "error_id", gapSeconds = 14400L)
        .orderBy("click_id", "error_id")
    },

    // ---- per-user EWMA smoothing, α=0.2, in exact integer fixed-point
    //      (Temporal.ewmaFixed): millis-scaled values and a truncating
    //      integer division per step make the recurrence bit-identical
    //      across engines, so the oracle is a DuckDB RECURSIVE CTE
    //      replaying the same integer recurrence. ----
    "q_evt_ewma" -> Q(
      s"""$fixedPointBase,
        |r AS (
        |  SELECT user_id, event_id, tus, vmillis, rn, vmillis AS ewma_millis
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.tus, b.vmillis, b.rn,
        |         CAST((2 * b.vmillis + 8 * r.ewma_millis) // 10 AS BIGINT)
        |  FROM r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        |SELECT user_id, event_id, tus, vmillis,
        |       CAST(ewma_millis AS BIGINT) AS ewma_millis
        |FROM r ORDER BY user_id, tus, event_id""".stripMargin) { (s, dir) =>
      graft.core.Temporal.ewmaFixed(tb(s, dir).events,
          "user_id", "ts", "event_id", "value", alphaNum = 2L, alphaDen = 10L)
        .orderBy("user_id", "tus", "event_id")
    },

    // ---- triangle count / clustering coefficient of the fuzzy-match
    //      graph (DupGraph.triangleStats): degree-oriented forward
    //      algorithm — wedge self-join cost O(m^1.5), each triangle
    //      counted once. High clustering ⇒ transitive closure is safe
    //      for this graph; the oracle triple-joins canonical edges. ----
    "q_er_triangles" -> Q(
      """WITH k AS (SELECT c_custkey AS id, c_name AS nm, substr(c_name, 1, 16) AS blk
        |           FROM customer),
        |p AS (SELECT a.id AS id1, b.id AS id2
        |      FROM k a JOIN k b ON a.blk = b.blk AND a.id < b.id
        |      WHERE abs(len(a.nm) - len(b.nm)) <= 1 AND levenshtein(a.nm, b.nm) <= 1),
        |e0 AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
        |       FROM p WHERE id1 <> id2),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0)
        |        GROUP BY v),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |        FROM e0 e1 JOIN e0 e2 ON e2.a = e1.a AND e2.b > e1.b
        |                   JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b),
        |w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
        |SELECT tri.n_triangles, w.n_wedges,
        |       CASE WHEN w.n_wedges > 0
        |            THEN round(tri.n_triangles * 3 / CAST(w.n_wedges AS DOUBLE), 6)
        |            ELSE 0.0 END AS clustering
        |FROM tri, w""".stripMargin) { (s, dir) =>
      val k = tb(s, dir).customer
        .select(col("c_custkey").as("id"), col("c_name").as("nm"),
          substring(col("c_name"), 1, 16).as("blk"))
      val pairs = graft.llm.DedupOps.fuzzyPairs(k, "id", "nm", "blk", maxDist = 1)
      graft.llm.DupGraph.triangleStats(pairs)
    },

    // ---- incremental aggregate maintenance (core/IncrementalAgg):
    //      two per-batch partial aggregates (even/odd orderkey halves)
    //      merged algebraically — sum/count/min/max combine, avg
    //      re-derives from merged sum+count. The oracle is the from-
    //      scratch aggregate over the full table: merging partials MUST
    //      equal recomputing. ----
    "q_incr_agg_merge" -> Q(
      """SELECT o_orderstatus AS status,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(sum(o_totalprice), 2) AS sum_price,
        |       round(min(o_totalprice), 2) AS min_price,
        |       round(max(o_totalprice), 2) AS max_price,
        |       round(sum(o_totalprice) / count(*), 6) AS avg_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY status""".stripMargin) { (s, dir) =>
      def partial(parityFilter: org.apache.spark.sql.Column) =
        tb(s, dir).orders.filter(parityFilter)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"), sum("o_totalprice").as("sum_price"),
            min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"))
      val merged = graft.core.IncrementalAgg.mergePartials(
        partial(col("o_orderkey") % 2 === 0), partial(col("o_orderkey") % 2 === 1),
        keys = Seq("status"), sumCols = Seq("n", "sum_price"),
        minCols = Seq("min_price"), maxCols = Seq("max_price"))
      graft.core.IncrementalAgg.deriveAvg(merged, "sum_price", "n", "avg_price")
        .select(col("status"), col("n"),
          round(col("sum_price"), 2).as("sum_price"),
          round(col("min_price"), 2).as("min_price"),
          round(col("max_price"), 2).as("max_price"),
          round(col("avg_price"), 6).as("avg_price"))
        .orderBy("status")
    },

    // ---- blocked fuzzy matching (DedupOps.fuzzyPairs): record-linkage
    //      candidate pairs inside equality blocks (prefix key), length
    //      pre-filter, thresholded levenshtein ≤ 1. Blocks here are
    //      ≤ maxBlock so the oracle needs no sub-split reproduction. ----
    "q_er_fuzzy_pairs" -> Q(
      """WITH k AS (SELECT c_custkey AS id, c_name AS nm, substr(c_name, 1, 16) AS blk
        |           FROM customer)
        |SELECT a.id AS id1, b.id AS id2,
        |       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM k a JOIN k b ON a.blk = b.blk AND a.id < b.id
        |WHERE abs(len(a.nm) - len(b.nm)) <= 1
        |  AND levenshtein(a.nm, b.nm) <= 1
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      val k = tb(s, dir).customer
        .select(col("c_custkey").as("id"), col("c_name").as("nm"),
          substring(col("c_name"), 1, 16).as("blk"))
      graft.llm.DedupOps.fuzzyPairs(k, "id", "nm", "blk", maxDist = 1)
        .orderBy("id1", "id2")
    },

    // ---- adaptive fuzzy blocking under skew: nation-keyed blocks
    //      overflow maxBlock=48, so the measured cascade kicks in —
    //      length-band refinement (W=16), boundary-margin recovery of
    //      cross-band pairs (len 15 vs 16), and md5 hash sub-split of
    //      the still-oversized same-length groups. The oracle replays
    //      the FULL deterministic cascade (DuckDB's '0x'||hex cast ≡
    //      Spark's conv(hex,16,10); // ≡ div for non-negatives). ----
    "q_er_fuzzy_adaptive" -> Q(
      """WITH k AS (
        |  SELECT c_custkey AS id,
        |         'n' || CAST(c_nationkey AS VARCHAR) AS blk,
        |         repeat('a', CASE WHEN c_custkey % 4 = 0 THEN 15 ELSE 14 END)
        |           || CAST(c_custkey % 5 AS VARCHAR) AS nm
        |  FROM customer),
        |bn AS (SELECT blk, count(*) AS bn FROM k GROUP BY blk),
        |kb AS (SELECT k.*, bn.bn, len(k.nm) AS ln FROM k JOIN bn USING (blk)),
        |small AS (SELECT * FROM kb WHERE bn <= 48),
        |big AS (SELECT *, ln // 16 AS band FROM kb WHERE bn > 48),
        |gn AS (SELECT blk, band, count(*) AS gn FROM big GROUP BY blk, band),
        |wsub AS (SELECT big.*, CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 4) AS BIGINT)
        |                % ((gn.gn + 47) // 48) AS sub
        |         FROM big JOIN gn USING (blk, band)),
        |mtop0 AS (SELECT blk, band + 1 AS mb, id, nm FROM big WHERE ln % 16 >= 15),
        |mbot0 AS (SELECT blk, band AS mb, id, nm FROM big WHERE ln % 16 < 1),
        |mn AS (SELECT blk, mb, count(*) AS mn FROM
        |        (SELECT blk, mb FROM mtop0 UNION ALL SELECT blk, mb FROM mbot0)
        |       GROUP BY blk, mb),
        |mtop AS (SELECT t.*, CAST('0x' || substr(md5(CAST(t.id AS VARCHAR)), 1, 4) AS BIGINT)
        |                % ((mn.mn + 47) // 48) AS sub
        |         FROM mtop0 t JOIN mn USING (blk, mb)),
        |mbot AS (SELECT t.*, CAST('0x' || substr(md5(CAST(t.id AS VARCHAR)), 1, 4) AS BIGINT)
        |                % ((mn.mn + 47) // 48) AS sub
        |         FROM mbot0 t JOIN mn USING (blk, mb)),
        |cand AS (
        |  SELECT a.id AS id1, b.id AS id2, a.nm AS s1, b.nm AS s2
        |  FROM small a JOIN small b ON a.blk = b.blk AND a.id < b.id
        |  UNION ALL
        |  SELECT a.id, b.id, a.nm, b.nm
        |  FROM wsub a JOIN wsub b
        |    ON a.blk = b.blk AND a.band = b.band AND a.sub = b.sub AND a.id < b.id
        |  UNION ALL
        |  SELECT least(a.id, b.id), greatest(a.id, b.id), a.nm, b.nm
        |  FROM mtop a JOIN mbot b ON a.blk = b.blk AND a.mb = b.mb AND a.sub = b.sub)
        |SELECT id1, id2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
        |FROM cand
        |WHERE abs(len(s1) - len(s2)) <= 1 AND levenshtein(s1, s2) <= 1
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      val k = tb(s, dir).customer
        .select(col("c_custkey").as("id"),
          concat(lit("n"), col("c_nationkey").cast("string")).as("blk"),
          concat(expr("repeat('a', CASE WHEN c_custkey % 4 = 0 THEN 15 ELSE 14 END)"),
            (col("c_custkey") % 5).cast("string")).as("nm"))
      graft.llm.DedupOps.fuzzyPairs(k, "id", "nm", "blk", maxDist = 1, maxBlock = 48)
        .orderBy("id1", "id2")
    },

    // ---- sorted-neighborhood blocking: candidates = rows within 5
    //      positions in the global (name, id) order. The oracle uses
    //      the naive global window + theta self-join; the engine
    //      computes the rank distributed (range partition + per-
    //      partition offsets) and joins on rank-bands — same pairs,
    //      no single-partition window, no theta-join. ----
    "q_er_sorted_neighborhood" -> Q(
      """WITH r AS (SELECT c_custkey AS id,
        |             row_number() OVER (ORDER BY c_name, c_custkey) AS rnk
        |           FROM customer)
        |SELECT a.id AS id1, b.id AS id2, CAST(b.rnk - a.rnk AS BIGINT) AS rank_dist
        |FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 5
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      val k = tb(s, dir).customer
        .select(col("c_custkey").as("id"), col("c_name").as("nm"))
      graft.llm.DedupOps.sortedNeighborhoodPairs(k, "id", "nm", 5)
        .orderBy("id1", "id2")
    },

    // ---- entity resolution end-to-end: fuzzy pairs → connected
    //      components (pointer jumping) → canonical entity id per
    //      record; the oracle replays the same graph with a recursive
    //      CTE. Singletons are their own entity. ----
    "q_er_entities" -> Q(
      s"""WITH RECURSIVE k AS (SELECT c_custkey AS id, c_name AS nm, substr(c_name, 1, 16) AS blk
        |                     FROM customer),
        |dups AS (SELECT a.id AS id1, b.id AS id2
        |         FROM k a JOIN k b ON a.blk = b.blk AND a.id < b.id
        |         WHERE abs(len(a.nm) - len(b.nm)) <= 1
        |           AND levenshtein(a.nm, b.nm) <= 1),
        |${OracleSql.ccComponents("dups", materialized = false)}
        |SELECT k.id, CAST(coalesce(c.component, k.id) AS BIGINT) AS entity_id,
        |       coalesce(c.component, k.id) = k.id AS is_canonical
        |FROM k LEFT JOIN comp c ON c.id = k.id
        |ORDER BY k.id""".stripMargin) { (s, dir) =>
      val k = tb(s, dir).customer
        .select(col("c_custkey").as("id"), col("c_name").as("nm"),
          substring(col("c_name"), 1, 16).as("blk"))
      val pairs = graft.llm.DedupOps.fuzzyPairs(k, "id", "nm", "blk", maxDist = 1)
      graft.llm.DupGraph.dupClusters(k.select("id"), "id", pairs)
        .select(col("id"), col("component").as("entity_id"), col("is_canonical"))
        .orderBy("id")
    },

    // ---- MERGE INTO semantics (core/Merge.upsert): update + insert +
    //      delete applied to a base snapshot in ONE plan (anti join ∪
    //      surviving updates) — base shuffled once, change set
    //      broadcast when small. Change set derived deterministically
    //      from customer: %10 keys re-segmented, %970 keys deleted,
    //      %500 keys cloned as brand-new inserts. ----
    "q_merge_upsert" -> Q(
      """WITH upd AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |         'REACTIVATED' AS c_mktsegment, (c_custkey % 97 = 0) AS _del
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'Customer#new' || c_custkey, c_nationkey,
        |         0.0, 'NEW', false
        |  FROM customer WHERE c_custkey % 500 = 0)
        |SELECT * FROM (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM upd WHERE NOT _del
        |  UNION ALL
        |  SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal, b.c_mktsegment
        |  FROM customer b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = b.c_custkey))
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val base = tb(s, dir).customer
      val upd1 = base.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_mktsegment", lit("REACTIVATED"))
        .withColumn("_del", col("c_custkey") % 97 === 0)
      val upd2 = base.filter(col("c_custkey") % 500 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          concat(lit("Customer#new"), col("c_custkey")).as("c_name"),
          col("c_nationkey"), lit(0.0).as("c_acctbal"),
          lit("NEW").as("c_mktsegment"), lit(false).as("_del"))
      graft.core.Merge.upsert(base, upd1.unionByName(upd2),
          Seq("c_custkey"), deleteCol = Some("_del"))
        .orderBy("c_custkey")
    },

    // ---- ORC sink + source roundtrip: the second columnar format
    //      (parquet is the default everywhere else; ORC ships in Spark
    //      with the same pushdown/pruning machinery). The roundtrip
    //      must preserve content exactly — the oracle aggregates the
    //      original parquet, the engine aggregates the ORC copy. ----
    "q_fmt_orc_roundtrip" -> Q(
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      val tmp = Scratch.dir("graft_orc_")
      val orcPath = s"${tmp.getPath}/orders_orc"
      tb(s, dir).orders.write.mode("overwrite").orc(orcPath)
      s.read.orc(orcPath)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("status")
    },

    // ---- hive-style partitioned parquet sink + source roundtrip:
    //      write partitionBy(status) — the 100 TB layout where the
    //      partition column lives in directory names, enabling
    //      partition PRUNING (a status predicate reads one directory;
    //      PlanAuditSpec asserts PartitionFilters). Content must
    //      survive the column's movement out of the files. ----
    "q_fmt_partitioned_roundtrip" -> Q(
      """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      val tmp = Scratch.dir("graft_part_")
      val path = s"${tmp.getPath}/orders_part"
      tb(s, dir).orders.write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(path)
      s.read.parquet(path)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"), sum("o_orderkey").cast("long").as("key_sum"))
        .orderBy("status")
    },

    // ---- CSV sink + source roundtrip (header + explicit schema — the
    //      reference's own export format, S7): content must survive the
    //      text encoding exactly for integer/string/decimal columns ----
    "q_fmt_csv_roundtrip" -> Q(
      priorityTotalsOracle) { (s, dir) =>
      val tmp = Scratch.dir("graft_csv_")
      val csvPath = s"${tmp.getPath}/orders_csv"
      val src = tb(s, dir).orders
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      src.write.mode("overwrite").option("header", "true").csv(csvPath)
      s.read.schema(src.schema).option("header", "true").csv(csvPath)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("priority")
    },

    // ---- JSONL sink + source roundtrip — the training-dataloader
    //      format (one JSON record per line; writeShards' json face):
    //      numeric/string content must survive the text encoding ----
    "q_fmt_jsonl_roundtrip" -> Q(
      priorityTotalsOracle) { (s, dir) =>
      val tmp = Scratch.dir("graft_jsonl_")
      val jsonPath = s"${tmp.getPath}/orders_jsonl"
      val src = tb(s, dir).orders
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      src.write.mode("overwrite").json(jsonPath)
      s.read.schema(src.schema).json(jsonPath)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("priority")
    },

    // ---- mergeable OHLC state (IncrementalAgg.firstLastPartial):
    //      open/close carried as struct min/max monoids — two
    //      event-parity shards merge to the exact one-shot bars ----
    "q_incr_ohlc" -> Q(
      ohlcOracle("n")) { (s, dir) =>
      val ev = tb(s, dir).events
        .withColumn("bucket", date_trunc("day", col("ts")))
        .withColumn("tsu", unix_micros(col("ts")))
      def part(pred: org.apache.spark.sql.Column) =
        graft.core.IncrementalAgg.firstLastPartial(ev.filter(pred),
          Seq("user_id", "bucket"), Seq("tsu", "event_id"), "value")
      val merged = graft.core.IncrementalAgg.mergePartials(
        part(col("event_id") % 2 === 0), part(col("event_id") % 2 === 1),
        keys = Seq("user_id", "bucket"), sumCols = Seq("n"),
        minCols = Seq("first_s", "lo"), maxCols = Seq("last_s", "hi"))
      graft.core.IncrementalAgg.deriveFirstLast(merged, "value")
        .select(col("user_id"), col("bucket"),
          round(col("first_val"), 6).as("open"),
          round(col("hi"), 6).as("high"),
          round(col("lo"), 6).as("low"),
          round(col("last_val"), 6).as("close"),
          col("n"))
        .orderBy("user_id", "bucket")
    },

    // ---- mergeable distinct-count state (IncrementalAgg.hllPartial/
    //      hllMergeEstimate): per-status HLL sketches built on two
    //      custkey-parity shards and unioned. Dense-mode union is NOT
    //      bit-identical to the one-shot sketch (the sparse→dense
    //      transition depends on sharding — see the hllPartial
    //      scaladoc; the sparse-regime IDENTITY is IncrementalAggSpec's
    //      assertion), so the oracle-checkable claim is the error
    //      envelope: the merged estimate lands within 5% of the exact
    //      count (lgK=12 ⇒ σ≈1.6%, 3σ
    //      comfortably inside). merge_within_tol must hash-match the
    //      oracle's constant true; exact counts ride along. ----
    "q_incr_hll_merge" -> Q(
      """SELECT o_orderstatus AS status,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |       true AS merge_within_tol
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
      import graft.core.IncrementalAgg
      val o = tb(s, dir).orders
        .select(col("o_orderstatus").as("status"), col("o_custkey"))
      def part(pred: org.apache.spark.sql.Column) =
        IncrementalAgg.hllPartial(o.filter(pred), Seq("status"), "o_custkey")
      val merged = IncrementalAgg.hllMergeEstimate(
        part(col("o_custkey") % 2 === 0), part(col("o_custkey") % 2 === 1))
      val exact = o.groupBy("status")
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      merged.join(exact, Seq("status"))
        .select(col("status"), col("n_exact"),
          (abs(col("approx_distinct") - col("n_exact")) * 20 <= col("n_exact"))
            .as("merge_within_tol"))
        .orderBy("status")
    },

    // ---- keyed snapshot diff (Merge.diff): reconciliation between two
    //      customer snapshots — %97 removed, %10 rebalanced (changed),
    //      %500 cloned as new keys (added); unchanged keys dropped.
    //      Null-safe struct compare on the engine side ≡ IS DISTINCT
    //      FROM in the oracle. ----
    "q_merge_diff" -> Q(
      """WITH b AS (SELECT c_custkey AS k, c_mktsegment AS seg, round(c_acctbal, 2) AS bal
        |           FROM customer),
        |a AS (SELECT c_custkey AS k, c_mktsegment AS seg,
        |             round(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 10 ELSE c_acctbal END, 2) AS bal
        |      FROM customer WHERE c_custkey % 97 <> 0
        |      UNION ALL
        |      SELECT c_custkey + 1000000, 'NEW', 0.0 FROM customer WHERE c_custkey % 500 = 0)
        |SELECT coalesce(a.k, b.k) AS k,
        |       CASE WHEN b.k IS NULL THEN 'added'
        |            WHEN a.k IS NULL THEN 'removed'
        |            ELSE 'changed' END AS change_type
        |FROM b FULL JOIN a ON a.k = b.k
        |WHERE b.k IS NULL OR a.k IS NULL
        |   OR a.seg IS DISTINCT FROM b.seg OR a.bal IS DISTINCT FROM b.bal
        |ORDER BY k""".stripMargin) { (s, dir) =>
      val c = tb(s, dir).customer
      val before = c.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"), round(col("c_acctbal"), 2).as("bal"))
      val after = c.filter(col("c_custkey") % 97 =!= 0)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
          round(when(col("c_custkey") % 10 === 0, col("c_acctbal") + 10)
            .otherwise(col("c_acctbal")), 2).as("bal"))
        .unionByName(c.filter(col("c_custkey") % 500 === 0)
          .select((col("c_custkey") + 1000000L).as("k"),
            lit("NEW").as("seg"), lit(0.0).as("bal")))
      graft.core.Merge.diff(before, after, Seq("k")).orderBy("k")
    },

    // ---- referential-integrity audit (Profile.fkOrphans): orders whose
    //      customer vanished from a filtered parent snapshot (%3 drop) —
    //      orphan share in integer basis points ----
    "q_quality_fk_orphans" -> Q(
      """WITH pk AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 3 <> 0)
        |SELECT CAST(count(*) AS BIGINT) AS n_child,
        |       CAST(0 AS BIGINT) AS n_null_fk,
        |       CAST(sum(CASE WHEN pk.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
        |       CAST(sum(CASE WHEN pk.c_custkey IS NULL THEN 1 ELSE 0 END) * 10000
        |            // count(*) AS BIGINT) AS orphan_bp
        |FROM orders o LEFT JOIN pk ON pk.c_custkey = o.o_custkey""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      graft.reports.Profile.fkOrphans(t.orders, "o_custkey",
        t.customer.filter(col("c_custkey") % 3 =!= 0), "c_custkey")
    },

    // ---- dataset card (Profile.datasetCard): the per-source release
    //      summary — sizes, token mass, dominant language + share,
    //      corpus-wide exact-duplicate membership ----
    "q_quality_dataset_card" -> Q(
      """WITH base AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS BIGINT) AS total_tokens,
        |         round(avg(length(text)), 2) AS avg_chars
        |  FROM documents GROUP BY source),
        |tl AS (SELECT source, lang AS top_lang, lc FROM (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS lc,
        |         row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang) AS rn
        |  FROM documents GROUP BY source, lang) WHERE rn = 1),
        |h AS (SELECT source, md5(text) AS hh FROM documents),
        |hot AS (SELECT hh FROM h GROUP BY hh HAVING count(*) >= 2),
        |dd AS (SELECT source, CAST(count(*) AS BIGINT) AS dup_docs
        |       FROM h JOIN hot USING (hh) GROUP BY source)
        |SELECT b.source, b.n_docs, b.total_tokens, b.avg_chars,
        |       tl.top_lang, CAST(tl.lc * 10000 // b.n_docs AS BIGINT) AS top_lang_bp,
        |       CAST(coalesce(dd.dup_docs, 0) AS BIGINT) AS dup_docs
        |FROM base b JOIN tl ON tl.source = b.source
        |LEFT JOIN dd ON dd.source = b.source
        |ORDER BY b.source""".stripMargin) { (s, dir) =>
      graft.reports.Profile.datasetCard(tb(s, dir).documents,
          "source", "text", "lang")
        .orderBy("source")
    },

    // ---- distribution-drift PSI (Profile.psiDrift): per-source
    //      Population Stability Index of n_chars vs the corpus baseline
    //      — integer-exact equal-width bins, add-one smoothing, one ln
    //      after exact counts (round-6 compare convention) ----
    "q_quality_psi" -> Q(
      """WITH b AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
        |w AS (SELECT mn, greatest(1, (mx - mn + 10) // 10) AS w FROM b),
        |bn AS (SELECT source, least((n_chars - w.mn) // w.w, 9) AS bin FROM documents, w),
        |basen AS (SELECT count(*) AS nb FROM bn),
        |base AS (SELECT bin, count(*) AS cb FROM bn GROUP BY bin),
        |gn AS (SELECT source, count(*) AS ng FROM bn GROUP BY source),
        |grid AS (SELECT g.source, g.ng, r.bin
        |         FROM gn g, (SELECT unnest(range(0, 10)) AS bin) r),
        |grp AS (SELECT source, bin, count(*) AS cg FROM bn GROUP BY source, bin)
        |SELECT grid.source, CAST(max(grid.ng) AS BIGINT) AS n_rows,
        |       round(sum(
        |         ((coalesce(grp.cg, 0) + 1) / CAST(grid.ng + 10 AS DOUBLE)
        |          - (coalesce(base.cb, 0) + 1) / CAST(basen.nb + 10 AS DOUBLE))
        |         * ln(((coalesce(grp.cg, 0) + 1) / CAST(grid.ng + 10 AS DOUBLE))
        |              / ((coalesce(base.cb, 0) + 1) / CAST(basen.nb + 10 AS DOUBLE)))), 6) AS psi
        |FROM grid LEFT JOIN grp ON grp.source = grid.source AND grp.bin = grid.bin
        |LEFT JOIN base ON base.bin = grid.bin, basen
        |GROUP BY grid.source ORDER BY grid.source""".stripMargin) { (s, dir) =>
      graft.reports.Profile.psiDrift(tb(s, dir).documents, "source",
          "n_chars", nBins = 10)
        .select(col("source"), col("n_rows"), col("psi"))
        .orderBy("source")
    },

    // ---- SCD Type-2 dimension build (Temporal.scd2): event_type runs
    //      per user collapsed into validity intervals (Kimball SCD2
    //      derived from raw events). Two windows, one Exchange. ----
    "q_evt_scd2" -> Q(
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
        |                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |           FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM o
        |      WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type AS status,
        |       CAST(row_number() OVER w AS BIGINT) AS version,
        |       ts AS eff_from,
        |       lead(ts) OVER w AS eff_to,
        |       (lead(ts) OVER w IS NULL) AS is_current
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin) { (s, dir) =>
      graft.core.Temporal.scd2(tb(s, dir).events,
          "user_id", "ts", "event_id", "event_type")
        .select(col("user_id"), col("event_type").as("status"),
          col("version").cast("long").as("version"),
          col("eff_from"), col("eff_to"), col("is_current"))
        .orderBy("user_id", "version")
    },

    // ---- time-weighted average (Temporal.timeWeightedAvg): each value
    //      weighted by its hold duration until the next event. Exact
    //      integer accumulation (millis × micros), ONE shared divide
    //      chain at the end → bit-identical cross-engine. ----
    "q_evt_time_weighted" -> Q(
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id,
        |                  CAST(round(value * 1000) AS BIGINT) AS vmillis
        |           FROM events),
        |d AS (SELECT user_id, vmillis, tus,
        |             lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus AS dur_us
        |      FROM e),
        |a AS (SELECT user_id,
        |             CAST(sum(CASE WHEN dur_us IS NOT NULL THEN vmillis * dur_us ELSE 0 END) AS BIGINT) AS num,
        |             CAST(max(tus) - min(tus) AS BIGINT) AS span_us,
        |             CAST(count(*) AS BIGINT) AS n_events,
        |             CAST(sum(vmillis) AS BIGINT) AS vsum
        |      FROM d GROUP BY user_id)
        |SELECT user_id, n_events,
        |       CASE WHEN span_us > 0 THEN num / 1000.0 / span_us
        |            ELSE vsum / (1000.0 * n_events) END AS twa
        |FROM a ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.core.Temporal.timeWeightedAvg(tb(s, dir).events,
          "user_id", "ts", "event_id", "value")
        .orderBy("user_id")
    },

    // ---- cohort retention (Temporal.cohortRetention): users by first-
    //      activity week × whole-week offsets of later activity ----
    "q_evt_cohort_retention" -> Q(
      """WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        |           FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
        |       CAST(datediff('day', f.cohort, a.wk) // 7 AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        |FROM a JOIN f ON f.user_id = a.user_id
        |GROUP BY f.cohort, week_offset ORDER BY cohort, week_offset""".stripMargin) {
      (s, dir) =>
        graft.core.Temporal.cohortRetention(tb(s, dir).events, "user_id", "ts")
          .withColumn("cohort", date_format(col("cohort"), "yyyy-MM-dd"))
          .orderBy("cohort", "week_offset")
    },

    // ---- funnel analysis (Temporal.funnel): first view → first click
    //      within 24h → first purchase within 24h of the click, per
    //      user; the MATCH_RECOGNIZE-style sequence operator ----
    "q_evt_funnel" -> Q(
      """WITH v AS (SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS t1
        |           FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, CAST(min(e.ts) AS TIMESTAMP) AS t2
        |      FROM events e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click'
        |        AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= epoch_us(v.t1)
        |        AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= epoch_us(v.t1) + 86400000000
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, CAST(min(e.ts) AS TIMESTAMP) AS t3
        |      FROM events e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase'
        |        AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= epoch_us(c.t2)
        |        AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= epoch_us(c.t2) + 86400000000
        |      GROUP BY e.user_id)
        |SELECT v.user_id, v.t1, c.t2, p.t3,
        |       CAST(1 + (c.t2 IS NOT NULL)::INT + (p.t3 IS NOT NULL)::INT AS BIGINT) AS reached
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |       LEFT JOIN p ON p.user_id = v.user_id
        |ORDER BY v.user_id""".stripMargin) { (s, dir) =>
      graft.core.Temporal.funnel(tb(s, dir).events, "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSeconds = 86400L)
        .orderBy("user_id")
    },

    // ---- MATCH_RECOGNIZE-style sequence extraction with negation
    //      (Temporal.sequenceMatch): signup → view → purchase within 7
    //      days of signup, NO error between view and purchase, bot cap
    //      50 relevant events/user (prefix in (ts, type) order) ----
    "q_evt_seq_match" -> Q(
      s"""WITH rel0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_type) AS rn
        |              FROM events
        |              WHERE event_type IN ('signup','view','purchase','error')),
        |rel AS (SELECT user_id, ts, event_type FROM rel0 WHERE rn <= 50),
        |${OracleSql.seqChainCtes},
        |fin AS (SELECT s1.user_id, s1.t1, s2.t2,
        |               CASE WHEN coalesce(nneg.n, 0) > 0 THEN NULL ELSE s3r.t3 END AS t3
        |        FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
        |                LEFT JOIN s3r ON s3r.user_id = s1.user_id
        |                LEFT JOIN nneg ON nneg.user_id = s1.user_id)
        |SELECT user_id, t1, t2, t3,
        |       CAST(1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT AS BIGINT) AS reached,
        |       (1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT) = 3 AS matched
        |FROM fin ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.core.Temporal.sequenceMatch(tb(s, dir).events, "user_id", "ts",
          "event_type", Seq("signup", "view", "purchase"),
          windowSeconds = 604800L, negations = Map(2 -> Seq("error")),
          maxEventsPerEntity = Some(50))
        .orderBy("user_id")
    },

    // ---- skew-salted aggregations (Skew two-phase): identical results
    //      to the direct groupBy, hot keys spread across `buckets`
    //      reducers in the first shuffle ----
    "q_skew_salted_count" -> Q(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        graft.core.Skew.saltedCount(tb(s, dir).lineitem, "l_returnflag",
            col("l_orderkey"))
          .orderBy("l_returnflag")
    },
    "q_skew_salted_distinct" -> Q(
      """SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        graft.core.Skew.saltedCountDistinct(tb(s, dir).lineitem,
            "l_returnflag", "l_partkey")
          .orderBy("l_returnflag")
    },

    // ---- bucketed co-located join (Bucketing): both sides persisted
    //      bucketed+sorted on the join key, so the SortMergeJoin plans
    //      with ZERO Exchange (BucketingSpec asserts the plan); the
    //      oracle is the plain join on the source parquet ----
    "q_bucketed_join" -> Q(
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      graft.core.Bucketing.writeBucketed(
        t.orders.select(col("o_custkey").as("custkey"), col("o_totalprice")),
        "bj_orders", Seq("custkey"))
      graft.core.Bucketing.writeBucketed(
        t.customer.select(col("c_custkey").as("custkey"), col("c_nationkey")),
        "bj_customer", Seq("custkey"))
      graft.core.Bucketing.bucketedJoin(s, "bj_orders", "bj_customer",
          Seq("custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("c_nationkey")
    },

    // ---- integer-exact PageRank (DupGraph.pageRank) over the
    //      customer↔supplier interaction graph (symmetrized bipartite
    //      orders⋈lineitem projection; supplier ids offset by 1e6 to
    //      disjoint the id spaces). All-Long floor arithmetic makes the
    //      5-sweep result bit-identical across engines — the oracle
    //      unrolls the same recurrence one CTE per iteration. ----
    "q_graph_pagerank" -> Q(
      """WITH e0 AS (SELECT DISTINCT o_custkey AS s, 1000000 + l_suppkey AS d
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0),
        |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY s),
        |n AS (SELECT DISTINCT s AS id FROM e),
        |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM n),
        |c1 AS (SELECT e.d AS id, sum(p.pr // deg.od) AS cb
        |       FROM e JOIN r0 p ON p.id = e.s JOIN deg ON deg.s = e.s GROUP BY e.d),
        |r1 AS (SELECT n.id, CAST(150000 + (17 * coalesce(c.cb, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c1 c ON c.id = n.id),
        |c2 AS (SELECT e.d AS id, sum(p.pr // deg.od) AS cb
        |       FROM e JOIN r1 p ON p.id = e.s JOIN deg ON deg.s = e.s GROUP BY e.d),
        |r2 AS (SELECT n.id, CAST(150000 + (17 * coalesce(c.cb, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c2 c ON c.id = n.id),
        |c3 AS (SELECT e.d AS id, sum(p.pr // deg.od) AS cb
        |       FROM e JOIN r2 p ON p.id = e.s JOIN deg ON deg.s = e.s GROUP BY e.d),
        |r3 AS (SELECT n.id, CAST(150000 + (17 * coalesce(c.cb, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c3 c ON c.id = n.id),
        |c4 AS (SELECT e.d AS id, sum(p.pr // deg.od) AS cb
        |       FROM e JOIN r3 p ON p.id = e.s JOIN deg ON deg.s = e.s GROUP BY e.d),
        |r4 AS (SELECT n.id, CAST(150000 + (17 * coalesce(c.cb, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c4 c ON c.id = n.id),
        |c5 AS (SELECT e.d AS id, sum(p.pr // deg.od) AS cb
        |       FROM e JOIN r4 p ON p.id = e.s JOIN deg ON deg.s = e.s GROUP BY e.d),
        |r5 AS (SELECT n.id, CAST(150000 + (17 * coalesce(c.cb, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c5 c ON c.id = n.id)
        |SELECT id, pr AS rank_micro FROM r5 ORDER BY id""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val e0 = custSuppEdges(t)
      val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      graft.llm.DupGraph.pageRank(sym, iterations = 5).orderBy("id")
    },

    // ---- per-group z-score standardization (TextAnalysis.standardize):
    //      group stats broadcast back, degenerate groups emit 0;
    //      round(6) absorbs co-moment merge-order drift per the
    //      q_a10_stats convention ----
    "q_evt_standardize" -> Q(
      """WITH st AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        |            FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        |       round(CASE WHEN st.sigma IS NULL OR st.sigma = 0 THEN 0
        |                  ELSE (e.value - st.mu) / st.sigma END, 6) AS value_z
        |FROM events e JOIN st USING (event_type)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      graft.llm.TextAnalysis.standardize(
          tb(s, dir).events.select("event_id", "event_type", "value"),
          "event_type", "value")
        .select(col("event_id"), col("event_type"),
          round(col("value_z"), 6).as("value_z"))
        .orderBy("event_id")
    },

    // ---- per-entity inter-arrival gap stats (Temporal.interArrival):
    //      exact integer micros, interpolated median (Spark percentile
    //      ≡ DuckDB quantile_cont) — single-event users excluded by
    //      construction ----
    "q_evt_inter_arrival" -> Q(
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id FROM events),
        |g AS (SELECT user_id,
        |             tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS gap
        |      FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |       CAST(min(gap) AS BIGINT) AS gap_min, CAST(max(gap) AS BIGINT) AS gap_max,
        |       round(quantile_cont(gap, 0.5), 4) AS gap_median
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.core.Temporal.interArrival(tb(s, dir).events, "user_id", "ts",
          "event_id")
        .orderBy("user_id")
    },

    // ---- CUSUM changepoint detection in exact integer fixed-point
    //      (Temporal.cusumFixed): millis-scaled Page recurrences are
    //      pure add-and-clamp (no division), so the DuckDB RECURSIVE
    //      CTE oracle replays them bit-identically. target 50.0 /
    //      slack 5.0 / threshold 200.0 as millis. ----
    "q_evt_cusum" -> Q(
      s"""$fixedPointBase,
        |r AS (
        |  SELECT user_id, event_id, tus, vmillis, rn,
        |         GREATEST(0, vmillis - 50000 - 5000) AS cusum_hi,
        |         GREATEST(0, 50000 - vmillis - 5000) AS cusum_lo
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.event_id, b.tus, b.vmillis, b.rn,
        |         GREATEST(0, r.cusum_hi + b.vmillis - 50000 - 5000),
        |         GREATEST(0, r.cusum_lo + 50000 - b.vmillis - 5000)
        |  FROM r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
        |SELECT user_id, event_id, tus, vmillis,
        |       CAST(cusum_hi AS BIGINT) AS cusum_hi,
        |       CAST(cusum_lo AS BIGINT) AS cusum_lo,
        |       (cusum_hi > 200000 OR cusum_lo > 200000) AS alarm
        |FROM r ORDER BY user_id, tus, event_id""".stripMargin) { (s, dir) =>
      graft.core.Temporal.cusumFixed(tb(s, dir).events, "user_id", "ts",
          "event_id", "value", targetMillis = 50000L, slackMillis = 5000L,
          thresholdMillis = 200000L)
        .orderBy("user_id", "tus", "event_id")
    },

    // ---- calendar resample + zero-fill (Temporal.resampleDaily):
    //      per-user contiguous daily grid over each user's own span,
    //      silent days zero-filled; pre-aggregated before the gap join ----
    "q_evt_resample_daily" -> Q(
      """WITH agg AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                    CAST(count(*) AS BIGINT) AS n_events, sum(value) AS sv
        |             FROM events GROUP BY 1, 2),
        |sp AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM agg GROUP BY user_id),
        |cal AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |        FROM sp)
        |SELECT c.user_id AS user_id, strftime(c.day, '%Y-%m-%d') AS day,
        |       CAST(coalesce(a.n_events, 0) AS BIGINT) AS n_events,
        |       round(coalesce(a.sv, 0), 6) AS sum_value
        |FROM cal c LEFT JOIN agg a ON a.user_id = c.user_id AND a.day = c.day
        |ORDER BY c.user_id, 2""".stripMargin) { (s, dir) =>
      graft.core.Temporal.resampleDaily(tb(s, dir).events, "user_id", "ts", "value")
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_events"), round(col("sum_value"), 6).as("sum_value"))
        .orderBy("user_id", "day")
    },

    // ---- additive seasonal decomposition (Temporal.seasonalDecompose):
    //      value = trend + seasonal + residual over the zero-filled
    //      daily grid — centered-MA trend, per-phase seasonal means,
    //      ALL integer fixed-point (⌊value·10⁶⌋ longs; `div` ≡ DuckDB
    //      `//`, both truncate toward zero incl. negatives) — the
    //      calendar-aware anomaly pre-step, bit-identical cross-engine.
    //      One per-entity rows-frame window + one phase aggregate. ----
    "q_evt_seasonal" -> Q(
      s"""$seasonalTrendCtes,
        |det AS (SELECT user_id, day, value_u, wsum // wn AS trend,
        |               value_u - (wsum // wn) AS det,
        |               ((datediff('day', DATE '1970-01-01', day) % 7) + 7) % 7 AS phase
        |        FROM tr),
        |seas AS (SELECT user_id, phase, sum(det) // count(*) AS seasonal
        |         FROM det GROUP BY 1, 2)
        |SELECT d.user_id, strftime(d.day, '%Y-%m-%d') AS day,
        |       CAST(d.value_u AS BIGINT) AS value_u, CAST(d.trend AS BIGINT) AS trend,
        |       CAST(s.seasonal AS BIGINT) AS seasonal,
        |       CAST(d.det - s.seasonal AS BIGINT) AS residual
        |FROM det d JOIN seas s ON s.user_id = d.user_id AND s.phase = d.phase
        |ORDER BY d.user_id, day""".stripMargin) { (s, dir) =>
      graft.core.Temporal.seasonalDecompose(
          tb(s, dir).events, "user_id", "ts", "value")
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("value_u"), col("trend"), col("seasonal"), col("residual"))
        .orderBy("user_id", "day")
    },

    // ---- interval coalescing (Temporal.coalesceIntervals): 30-min
    //      event holds merged into disjoint islands per user — the
    //      gaps-and-islands running-max formulation, one shared
    //      per-entity sort for both windows, exact micros. ----
    "q_evt_interval_merge" -> Q(
      """WITH iv AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS e
        |            FROM events),
        |rm AS (SELECT user_id, s, e,
        |         max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |       FROM iv),
        |isl AS (SELECT user_id, s, e,
        |          sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY s, e) AS island
        |        FROM rm)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |       CAST(min(s) AS BIGINT) AS s, CAST(max(e) AS BIGINT) AS e,
        |       CAST(count(*) AS BIGINT) AS n_intervals
        |FROM isl GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin) { (s, dir) =>
      val iv = graft.core.Tables(s, dir).eventsRaw
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + lit(1800000000L)).as("e"))
      graft.core.Temporal.coalesceIntervals(iv, "user_id", "s", "e")
        .orderBy("user_id", "island")
    },

    // ---- coverage gaps (Temporal.coverageGaps): ≥1h silence spans
    //      between coalesced activity islands — one lead() over the
    //      island frame (one row per island, not per event). ----
    "q_evt_gaps" -> Q(
      """WITH iv AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS e
        |            FROM events),
        |rm AS (SELECT user_id, s, e,
        |         max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv),
        |isl AS (SELECT user_id, s, e,
        |          sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY user_id ORDER BY s, e) AS island FROM rm),
        |co AS (SELECT user_id, island, min(s) AS s, max(e) AS e FROM isl GROUP BY 1, 2),
        |g AS (SELECT user_id, CAST(island AS BIGINT) AS island, CAST(e AS BIGINT) AS gap_start,
        |        CAST(lead(s) OVER (PARTITION BY user_id ORDER BY island) AS BIGINT) AS gap_end
        |      FROM co)
        |SELECT user_id, island, gap_start, gap_end,
        |       CAST(gap_end - gap_start AS BIGINT) AS gap_us
        |FROM g WHERE gap_end IS NOT NULL AND gap_end - gap_start >= 3600000000
        |ORDER BY user_id, island""".stripMargin) { (s, dir) =>
      val iv = graft.core.Tables(s, dir).eventsRaw
        .select(col("user_id"), col("ts").as("s"),
          (col("ts") + lit(1800000000L)).as("e"))
      graft.core.Temporal.coverageGaps(iv, "user_id", "s", "e",
          minGap = 3600000000L)
        .orderBy("user_id", "island")
    },

    // ---- event-transition matrix (Temporal.transitionMatrix): Markov
    //      next-event counts per user stream — one lead() window + one
    //      |types|²-row groupBy, never a stream self-join. ----
    // ---- purged temporal split (Temporal.embargoSplit): train up to
    //      the exact 70th-percentile timestamp, drop a 2-day embargo,
    //      test after — the backtest split that doesn't leak
    //      autocorrelated state across the boundary. Boundary = type-1
    //      order statistic on epoch micros, assignment a pure
    //      projection ----
    "q_evt_embargo_split" -> Q(
      """WITH e AS (SELECT epoch_us(ts) AS tus FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM e),
        |r AS (SELECT tus, row_number() OVER (ORDER BY tus) AS rn FROM e),
        |t1 AS (SELECT min(tus) AS t FROM r, n
        |       WHERE rn >= greatest((700 * tot + 999) // 1000, 1)),
        |lab AS (SELECT CASE WHEN tus <= t THEN 'train'
        |                    WHEN tus <= t + 172800000000 THEN 'embargo'
        |                    ELSE 'test' END AS split, tus
        |        FROM e, t1)
        |SELECT split, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(tus) AS BIGINT) AS min_us, CAST(max(tus) AS BIGINT) AS max_us
        |FROM lab GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      graft.core.Temporal.embargoSplit(
          tb(s, dir).eventsRaw.select("ts"), "ts",
          trainPermille = 700, embargoMicros = 172800000000L)
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min(col("ts")).as("min_us"),
          max(col("ts")).as("max_us"))
        .orderBy("split")
    },

    "q_evt_transitions" -> Q(
      """WITH seq AS (SELECT user_id, event_type,
        |               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |             FROM events)
        |SELECT event_type AS from_type, next_type AS to_type, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
      graft.core.Temporal.transitionMatrix(tb(s, dir).events,
          "user_id", "ts", "event_type", "event_id")
        .orderBy("from_type", "to_type")
    },

    // ---- degree-distribution profile (DupGraph.degreeProfile): log₂-
    //      binned degree histogram + truncated mean neighbor degree —
    //      the graph-shape report (the bipartite disassortativity shows
    //      plainly: hub bins have low-degree neighbors). Bin is
    //      length(bin(deg))−1: pure integer, no libm log₂. ----
    "q_graph_degree_profile" -> Q(
      """WITH e0 AS (SELECT DISTINCT o_custkey AS s, l_suppkey + 1000000 AS d
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
        |deg AS (SELECT s AS id, count(*) AS deg FROM e GROUP BY s),
        |nd AS (SELECT e.s AS id, CAST(sum(dd.deg) AS BIGINT) AS nds
        |       FROM e JOIN deg dd ON dd.id = e.d GROUP BY e.s)
        |SELECT CAST(length(bin(deg.deg)) - 1 AS BIGINT) AS deg_bin,
        |       CAST(count(*) AS BIGINT) AS n_vertices,
        |       CAST(min(deg.deg) AS BIGINT) AS deg_min,
        |       CAST(max(deg.deg) AS BIGINT) AS deg_max,
        |       CAST(sum(nd.nds) // sum(deg.deg) AS BIGINT) AS mean_nbr_deg
        |FROM deg JOIN nd USING (id)
        |GROUP BY 1 ORDER BY deg_bin""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val e0 = custSuppEdges(t)
      graft.llm.DupGraph.degreeProfile(e0).orderBy("deg_bin")
    },

    // ---- adoption curve (Temporal.adoptionCurve): daily new + running
    //      cumulative distinct users per event type. Running
    //      COUNT(DISTINCT) via the first-occurrence identity — the only
    //      corpus shuffle is the first-touch min; the cumulative window
    //      runs on day-grain frames. ----
    "q_evt_adoption" -> Q(
      """WITH fo AS (SELECT event_type, user_id,
        |              min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_day
        |            FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type, first_day AS day, count(*) AS new_entities
        |      FROM fo GROUP BY 1, 2)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |       CAST(new_entities AS BIGINT) AS new_entities,
        |       CAST(sum(new_entities) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
        |         AS cum_entities
        |FROM d ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      graft.core.Temporal.adoptionCurve(tb(s, dir).events,
          "user_id", "ts", "event_type")
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("new_entities"), col("cum_entities"))
        .orderBy("event_type", "day")
    },

    // ---- seasonal-residual anomaly flags: the payoff of
    //      seasonalDecompose — alarm on |residual| > 3.5·MAD per
    //      entity (madOutliers' exact integer medians over the exact
    //      integer residuals), so Mondays being Mondays never pages.
    //      Pure composition of two already-oracled operators. ----
    "q_evt_seasonal_anomaly" -> Q(
      s"""$seasonalTrendCtes,
        |det AS (SELECT user_id, day, value_u, value_u - (wsum // wn) AS det,
        |               ((datediff('day', DATE '1970-01-01', day) % 7) + 7) % 7 AS phase
        |        FROM tr),
        |seas AS (SELECT user_id, phase, sum(det) // count(*) AS seasonal
        |         FROM det GROUP BY 1, 2),
        |res AS (SELECT d.user_id, d.day, d.det - s.seasonal AS r
        |        FROM det d JOIN seas s ON s.user_id = d.user_id AND s.phase = d.phase),
        |h AS (SELECT user_id, r, count(*) AS c FROM res GROUP BY 1, 2),
        |cm AS (SELECT user_id, r, c, sum(c) OVER (PARTITION BY user_id ORDER BY r) AS cum,
        |              sum(c) OVER (PARTITION BY user_id) AS n FROM h),
        |m AS (SELECT user_id, min(CASE WHEN cum * 100 >= n * 50 THEN r END) AS med
        |      FROM cm GROUP BY user_id),
        |dev AS (SELECT res.user_id, res.day, res.r, m.med, abs(res.r - m.med) AS adev
        |        FROM res JOIN m USING (user_id)),
        |h2 AS (SELECT user_id, adev, count(*) AS c FROM dev GROUP BY 1, 2),
        |c2 AS (SELECT user_id, adev, c, sum(c) OVER (PARTITION BY user_id ORDER BY adev) AS cum,
        |              sum(c) OVER (PARTITION BY user_id) AS n FROM h2),
        |md AS (SELECT user_id, min(CASE WHEN cum * 100 >= n * 50 THEN adev END) AS mad
        |       FROM c2 GROUP BY user_id)
        |SELECT dev.user_id, strftime(dev.day, '%Y-%m-%d') AS day,
        |       CAST(dev.r AS BIGINT) AS residual,
        |       CAST(dev.med AS BIGINT) AS med, CAST(md.mad AS BIGINT) AS mad
        |FROM dev JOIN md USING (user_id)
        |WHERE dev.adev * 6745 > md.mad * 35000
        |ORDER BY dev.user_id, day""".stripMargin) { (s, dir) =>
      val dec = graft.core.Temporal.seasonalDecompose(
          tb(s, dir).events, "user_id", "ts", "value")
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("residual"))
      graft.llm.TextAnalysis.madOutliers(dec, "user_id", "day", "residual")
        .filter(col("is_outlier"))
        .select(col("user_id"), col("day"), col("residual").as("residual"),
          col("med"), col("mad"))
        .orderBy("user_id", "day")
    },

    // ---- per-entity OLS trend line (Temporal.trendLine): drift rate
    //      for every entity in ONE aggregation pass — monoid sums
    //      n/Σx/Σy/Σxy/Σx², exact integer numerators, truncating
    //      divisions last (div ≡ //). x rebased to each entity's first
    //      day (overflow headroom is part of the contract). ----
    "q_evt_trend_line" -> Q(
      """WITH daily AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                      CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS y
        |               FROM events GROUP BY 1, 2),
        |x0 AS (SELECT user_id, min(day) AS d0 FROM daily GROUP BY 1),
        |pts AS (SELECT d.user_id, CAST(datediff('day', x.d0, d.day) AS BIGINT) AS x, d.y
        |        FROM daily d JOIN x0 x ON x.user_id = d.user_id),
        |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x*y) AS sxy, sum(x*x) AS sxx FROM pts GROUP BY 1)
        |SELECT user_id, n, CAST(n*sxy - sx*sy AS BIGINT) AS num,
        |       CAST(n*sxx - sx*sx AS BIGINT) AS den,
        |       CAST((n*sxy - sx*sy) // (n*sxx - sx*sx) AS BIGINT) AS slope_u,
        |       CAST((sy - ((n*sxy - sx*sy) // (n*sxx - sx*sx)) * sx) // n AS BIGINT) AS intercept_u
        |FROM s ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.core.Temporal.trendLine(tb(s, dir).events, "user_id", "ts", "value")
        .orderBy("user_id")
    },

    // ---- gap-fill + LOCF (Temporal.locf over the resampled grid):
    //      silent days carry the last observed daily level forward;
    //      leading silence stays null. round AFTER the fill on both
    //      sides (the carried value is the exact double). ----
    "q_evt_locf" -> Q(
      """WITH agg AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |                    sum(value) AS sv
        |             FROM events GROUP BY 1, 2),
        |sp AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM agg GROUP BY user_id),
        |cal AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |        FROM sp),
        |g AS (SELECT c.user_id, c.day, a.sv
        |      FROM cal c LEFT JOIN agg a ON a.user_id = c.user_id AND a.day = c.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       round(last_value(sv IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS level
        |FROM g ORDER BY user_id, day""".stripMargin) { (s, dir) =>
      val grid = graft.core.Temporal.resampleDaily(tb(s, dir).events,
          "user_id", "ts", "value")
        .withColumn("level", when(col("n_events") > 0, col("sum_value")))
      graft.core.Temporal.locf(grid, "user_id", "day", Seq("level"))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("level"), 6).as("level"))
        .orderBy("user_id", "day")
    },

    // ---- trailing 7-day distinct actives (Temporal.rollingActive):
    //      the DAU/WAU family as a bounded explode + semi join — never
    //      a day-range theta join ----
    "q_evt_rolling_active" -> Q(
      """WITH du AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS aday, user_id
        |            FROM events),
        |days AS (SELECT DISTINCT aday AS day FROM du),
        |x AS (SELECT CAST(unnest(generate_series(aday, aday + 6, INTERVAL 1 DAY)) AS DATE) AS day,
        |             user_id
        |      FROM du)
        |SELECT strftime(x.day, '%Y-%m-%d') AS day,
        |       CAST(count(DISTINCT x.user_id) AS BIGINT) AS n_active
        |FROM x JOIN days d ON d.day = x.day
        |GROUP BY x.day ORDER BY day""".stripMargin) { (s, dir) =>
      graft.core.Temporal.rollingActive(tb(s, dir).events, "user_id", "ts", 7)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("n_active"))
        .orderBy("day")
    },

    // ---- personalized PageRank (DupGraph.personalizedPageRank):
    //      teleport mass lands only on the seed set (every 100th
    //      customer) — proximity-to-seeds ranking; same integer floor
    //      recurrence, 3 sweeps unrolled. Off-graph seeds exercise the
    //      full join; unreachable nodes decay to exactly 0. ----
    "q_graph_ppr" -> Q(
      """WITH e0 AS (SELECT DISTINCT o_custkey AS s, 1000000 + l_suppkey AS d
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0),
        |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY s),
        |gn AS (SELECT DISTINCT s AS id FROM e),
        |sd AS (SELECT DISTINCT c_custkey AS id FROM customer WHERE c_custkey % 100 = 0),
        |n AS (SELECT id, bool_or(tp) AS tp FROM (
        |        SELECT id, FALSE AS tp FROM gn
        |        UNION ALL SELECT id, TRUE FROM sd) GROUP BY id),
        |r0 AS (SELECT id, CAST(CASE WHEN tp THEN 1000000 ELSE 0 END AS BIGINT) AS pr FROM n),
        |c1 AS (SELECT e.d AS id, sum(p.pr // deg.od) AS cb
        |       FROM e JOIN r0 p ON p.id = e.s JOIN deg ON deg.s = e.s GROUP BY e.d),
        |r1 AS (SELECT n.id, CAST(CASE WHEN n.tp THEN 150000 ELSE 0 END
        |                         + (17 * coalesce(c.cb, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c1 c ON c.id = n.id),
        |c2 AS (SELECT e.d AS id, sum(p.pr // deg.od) AS cb
        |       FROM e JOIN r1 p ON p.id = e.s JOIN deg ON deg.s = e.s GROUP BY e.d),
        |r2 AS (SELECT n.id, CAST(CASE WHEN n.tp THEN 150000 ELSE 0 END
        |                         + (17 * coalesce(c.cb, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c2 c ON c.id = n.id),
        |c3 AS (SELECT e.d AS id, sum(p.pr // deg.od) AS cb
        |       FROM e JOIN r2 p ON p.id = e.s JOIN deg ON deg.s = e.s GROUP BY e.d),
        |r3 AS (SELECT n.id, CAST(CASE WHEN n.tp THEN 150000 ELSE 0 END
        |                         + (17 * coalesce(c.cb, 0)) // 20 AS BIGINT) AS pr
        |       FROM n LEFT JOIN c3 c ON c.id = n.id)
        |SELECT id, pr AS rank_micro FROM r3 ORDER BY id""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val e0 = custSuppEdges(t)
      val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = t.customer.filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("id"))
      graft.llm.DupGraph.personalizedPageRank(sym, seeds, iterations = 3)
        .orderBy("id")
    },

    // ---- multi-source BFS hop distances (DupGraph.bfsDistances):
    //      nearest-seed hop counts within a 3-hop budget over the same
    //      interaction graph; seeds = every 100th customer. The oracle
    //      is a bounded recursive CTE (UNION dedups (id, d) pairs, so
    //      the recursion terminates at the hop cap) reduced by min. ----
    "q_graph_bfs" -> Q(
      """WITH RECURSIVE e0 AS (SELECT DISTINCT o_custkey AS s, 1000000 + l_suppkey AS d
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0),
        |src AS (SELECT DISTINCT c_custkey AS id FROM customer WHERE c_custkey % 100 = 0),
        |reach AS (
        |  SELECT id, 0 AS dd FROM src
        |  UNION
        |  SELECT e.d AS id, rc.dd + 1 FROM reach rc JOIN e ON e.s = rc.id
        |  WHERE rc.dd < 3)
        |SELECT id, CAST(min(dd) AS BIGINT) AS dist
        |FROM reach GROUP BY id ORDER BY id""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val e0 = custSuppEdges(t)
      val sources = t.customer.filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("id"))
      graft.llm.DupGraph.bfsDistances(e0, sources, maxHops = 3).orderBy("id")
    },

    // ---- synchronous min-tie label propagation (DupGraph
    //      .labelPropagation) — community detection over the same
    //      interaction graph; 3 deterministic sweeps, each node adopting
    //      its neighborhood's most frequent label (ties → smallest). ----
    "q_graph_label_prop" -> Q(
      """WITH e0 AS (SELECT DISTINCT o_custkey AS s, 1000000 + l_suppkey AS d
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT s, d FROM e0 UNION SELECT d AS s, s AS d FROM e0),
        |n AS (SELECT DISTINCT s AS id FROM e),
        |l0 AS (SELECT id, id AS lbl FROM n),
        |v1 AS (SELECT e.d AS id, p.lbl, count(*) AS cnt
        |       FROM e JOIN l0 p ON p.id = e.s GROUP BY e.d, p.lbl),
        |w1 AS (SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl) AS rn FROM v1),
        |l1 AS (SELECT p.id, CAST(coalesce(w.lbl, p.lbl) AS BIGINT) AS lbl
        |       FROM l0 p LEFT JOIN w1 w ON w.id = p.id AND w.rn = 1),
        |v2 AS (SELECT e.d AS id, p.lbl, count(*) AS cnt
        |       FROM e JOIN l1 p ON p.id = e.s GROUP BY e.d, p.lbl),
        |w2 AS (SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl) AS rn FROM v2),
        |l2 AS (SELECT p.id, CAST(coalesce(w.lbl, p.lbl) AS BIGINT) AS lbl
        |       FROM l1 p LEFT JOIN w2 w ON w.id = p.id AND w.rn = 1),
        |v3 AS (SELECT e.d AS id, p.lbl, count(*) AS cnt
        |       FROM e JOIN l2 p ON p.id = e.s GROUP BY e.d, p.lbl),
        |w3 AS (SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl) AS rn FROM v3),
        |l3 AS (SELECT p.id, CAST(coalesce(w.lbl, p.lbl) AS BIGINT) AS lbl
        |       FROM l2 p LEFT JOIN w3 w ON w.id = p.id AND w.rn = 1)
        |SELECT id, lbl AS community FROM l3 ORDER BY id""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val e0 = custSuppEdges(t)
      graft.llm.DupGraph.labelPropagation(e0, iterations = 3).orderBy("id")
    },

    // ---- k-core peeling (DupGraph.kCore): drop degree-<k vertices
    //      with their edges, 3 rounds, over the customer–supplier
    //      interaction graph — the dense-region detector. k=45 reaches
    //      the FIXPOINT here (stable after round 1, so the result is
    //      the true 45-core: 257 vertices); multi-round cascades are
    //      pinned by kCoreSpec on a crafted chain. Per round: one
    //      degree aggregate + two semi joins, all equi-shuffles. ----
    "q_graph_kcore" -> Q(
      """WITH e0 AS (SELECT DISTINCT o_custkey AS s, l_suppkey + 1000000 AS d
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
        |d0 AS (SELECT s AS id, count(*) AS deg FROM e GROUP BY s),
        |a1 AS (SELECT id FROM d0 WHERE deg >= 45),
        |e1 AS (SELECT e.s, e.d FROM e WHERE s IN (SELECT id FROM a1) AND d IN (SELECT id FROM a1)),
        |d1 AS (SELECT s AS id, count(*) AS deg FROM e1 GROUP BY s),
        |a2 AS (SELECT id FROM d1 WHERE deg >= 45),
        |e2 AS (SELECT e1.s, e1.d FROM e1 WHERE s IN (SELECT id FROM a2) AND d IN (SELECT id FROM a2)),
        |d2 AS (SELECT s AS id, count(*) AS deg FROM e2 GROUP BY s),
        |a3 AS (SELECT id FROM d2 WHERE deg >= 45),
        |e3 AS (SELECT e2.s, e2.d FROM e2 WHERE s IN (SELECT id FROM a3) AND d IN (SELECT id FROM a3))
        |SELECT s AS id, CAST(count(*) AS BIGINT) AS deg FROM e3
        |GROUP BY s ORDER BY id""".stripMargin) { (s, dir) =>
      val t = tb(s, dir)
      val e0 = custSuppEdges(t)
      graft.llm.DupGraph.kCore(e0, k = 45, rounds = 3).orderBy("id")
    },

    // ---- zone map build (core/ZoneMap): per-shard min/max/null/rows
    //      stats over a month-sharded layout — the data-skipping index.
    //      One map-side-combined groupBy; Parquet row-group footers
    //      carry the same stats, this is the shard-level equivalent for
    //      engine-managed layouts. ----
    "q_zone_map" -> Q(
      """SELECT strftime(o_orderdate, '%Y-%m') AS shard,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       round(min(o_totalprice), 2) AS o_totalprice_min,
        |       round(max(o_totalprice), 2) AS o_totalprice_max,
        |       CAST(count(*) - count(o_totalprice) AS BIGINT) AS o_totalprice_nulls,
        |       min(o_orderdate) AS o_orderdate_min,
        |       max(o_orderdate) AS o_orderdate_max,
        |       CAST(count(*) - count(o_orderdate) AS BIGINT) AS o_orderdate_nulls
        |FROM orders GROUP BY 1 ORDER BY shard""".stripMargin) { (s, dir) =>
      graft.core.ZoneMap.build(tb(s, dir).orders,
          date_format(col("o_orderdate"), "yyyy-MM"),
          Seq("o_totalprice", "o_orderdate"))
        .withColumn("o_totalprice_min", round(col("o_totalprice_min"), 2))
        .withColumn("o_totalprice_max", round(col("o_totalprice_max"), 2))
        .orderBy("shard")
    },

    // ---- zone-map range pruning: the shards a 7-month date predicate
    //      must read — interval overlap against the stats table only
    //      (80 rows at this layout), never the corpus. Conservative:
    //      false keeps cost a read, false skips would be wrong. ----
    "q_zone_prune" -> Q(
      """WITH zm AS (SELECT strftime(o_orderdate, '%Y-%m') AS shard,
        |  count(*) AS n_rows, min(o_orderdate) AS dmin, max(o_orderdate) AS dmax
        |  FROM orders GROUP BY 1)
        |SELECT shard, CAST(n_rows AS BIGINT) AS n_rows FROM zm
        |WHERE dmin <= TIMESTAMP '1995-09-30' AND dmax >= TIMESTAMP '1995-03-01'
        |ORDER BY shard""".stripMargin) { (s, dir) =>
      val zm = graft.core.ZoneMap.build(tb(s, dir).orders,
        date_format(col("o_orderdate"), "yyyy-MM"), Seq("o_orderdate"))
      graft.core.ZoneMap.pruneRange(zm, "o_orderdate",
          lit("1995-03-01").cast("timestamp"), lit("1995-09-30").cast("timestamp"))
        .select("shard", "n_rows").orderBy("shard")
    },

    // ---- zone-map planning summary: shards/rows total vs to-read for
    //      the same predicate — the scan-reduction number a capacity
    //      review wants (7 of 80 shards here), from stats alone. ----
    "q_zone_prune_stats" -> Q(
      """WITH zm AS (SELECT strftime(o_orderdate, '%Y-%m') AS shard,
        |  count(*) AS n_rows, min(o_orderdate) AS dmin, max(o_orderdate) AS dmax
        |  FROM orders GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS shards_total,
        |  CAST(sum(CASE WHEN dmin <= TIMESTAMP '1995-09-30'
        |                 AND dmax >= TIMESTAMP '1995-03-01' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS shards_read,
        |  CAST(sum(n_rows) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN dmin <= TIMESTAMP '1995-09-30'
        |                 AND dmax >= TIMESTAMP '1995-03-01' THEN n_rows ELSE 0 END) AS BIGINT)
        |    AS rows_read
        |FROM zm""".stripMargin) { (s, dir) =>
      val zm = graft.core.ZoneMap.build(tb(s, dir).orders,
        date_format(col("o_orderdate"), "yyyy-MM"), Seq("o_orderdate"))
      graft.core.ZoneMap.pruneStats(zm, "o_orderdate",
        lit("1995-03-01").cast("timestamp"), lit("1995-09-30").cast("timestamp"))
    },

    // ---- mergeable zone maps (ZoneMap.merge): even/odd batch partials
    //      fold cell-wise (min/max/sum monoids) and MUST equal the
    //      from-scratch map — appended batches update stats in
    //      O(|shards touched|), never rescanning history. ----
    "q_zone_map_merge" -> Q(
      """SELECT strftime(o_orderdate, '%Y-%m') AS shard,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       min(o_orderdate) AS o_orderdate_min,
        |       max(o_orderdate) AS o_orderdate_max,
        |       CAST(count(*) - count(o_orderdate) AS BIGINT) AS o_orderdate_nulls
        |FROM orders GROUP BY 1 ORDER BY shard""".stripMargin) { (s, dir) =>
      def part(parity: Int) = graft.core.ZoneMap.build(
        tb(s, dir).orders.filter(col("o_orderkey") % 2 === parity),
        date_format(col("o_orderdate"), "yyyy-MM"), Seq("o_orderdate"))
      graft.core.ZoneMap.merge(Seq(part(0), part(1)), Seq("o_orderdate"))
        .orderBy("shard")
    },

    // ---- Z-order layout effectiveness (ZOrder.z × ZoneMap): the same
    //      2-D predicate against zone maps of (a) insertion-ordered and
    //      (b) z-ordered 32-shard layouts — natural reads ALL 32 shards
    //      (each spans the full custkey range), z-order reads 4 shards /
    //      1,876 of 15,000 rows. THE reason multi-dimensional layout
    //      exists, measured from stats alone. ntile shards are the SQL-
    //      replayable oracle face; production lays out via
    //      ZOrder.cluster (range partitioner — same locality, no global
    //      window). ----
    "q_zorder_skipping" -> Q(
      """WITH b AS (SELECT o_orderkey, o_custkey AS x,
        |             CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |           FROM orders),
        |z AS (SELECT o_orderkey, x, y,
        |        (SELECT CAST(sum(((x >> i) & 1) * (1::BIGINT << (2*i)) +
        |                         ((y >> i) & 1) * (1::BIGINT << (2*i+1))) AS BIGINT)
        |         FROM generate_series(0, 30) AS g(i)) AS z
        |      FROM b),
        |nat AS (SELECT x, y, ntile(32) OVER (ORDER BY o_orderkey) AS shard FROM z),
        |zl  AS (SELECT x, y, ntile(32) OVER (ORDER BY z, o_orderkey) AS shard FROM z),
        |natzm AS (SELECT shard, count(*) AS n, min(x) AS xmin, max(x) AS xmax,
        |                 min(y) AS ymin, max(y) AS ymax FROM nat GROUP BY 1),
        |zzm   AS (SELECT shard, count(*) AS n, min(x) AS xmin, max(x) AS xmax,
        |                 min(y) AS ymin, max(y) AS ymax FROM zl GROUP BY 1)
        |SELECT 'natural' AS layout,
        |  CAST(count(*) FILTER (xmin <= 800 AND xmax >= 700 AND ymin <= 9600 AND ymax >= 9500) AS BIGINT) AS shards_read,
        |  CAST(coalesce(sum(n) FILTER (xmin <= 800 AND xmax >= 700 AND ymin <= 9600 AND ymax >= 9500), 0) AS BIGINT) AS rows_read
        |FROM natzm
        |UNION ALL
        |SELECT 'zorder',
        |  CAST(count(*) FILTER (xmin <= 800 AND xmax >= 700 AND ymin <= 9600 AND ymax >= 9500) AS BIGINT),
        |  CAST(coalesce(sum(n) FILTER (xmin <= 800 AND xmax >= 700 AND ymin <= 9600 AND ymax >= 9500), 0) AS BIGINT)
        |FROM zzm ORDER BY layout""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val b = tb(s, dir).orders.select(col("o_orderkey"),
        col("o_custkey").as("x"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1970-01-01")))
          .cast("long").as("y"))
      val z = b.withColumn("z", graft.functions.ZOrder.z(col("x"), col("y")))
      def layoutStats(name: String, shardOrder: Seq[org.apache.spark.sql.Column]) = {
        // deliberate global ntile: the ORACLE needs a deterministic
        // 32-shard simulation (the production writer is
        // ZOrder.writePartitioned's repartitionByRange, not a window)
        val sharded = z.withColumn("shard",
          ntile(32).over(Window.orderBy(shardOrder: _*)))
        val zm = sharded.groupBy("shard").agg(count(lit(1)).as("n"),
          min("x").as("xmin"), max("x").as("xmax"),
          min("y").as("ymin"), max("y").as("ymax"))
        val hit = (col("xmin") <= 800 && col("xmax") >= 700 &&
          col("ymin") <= 9600 && col("ymax") >= 9500).cast("long")
        zm.agg(count(when(hit === 1, 1)).cast("long").as("shards_read"),
            coalesce(sum(col("n") * hit), lit(0L)).cast("long").as("rows_read"))
          .select(lit(name).as("layout"), col("shards_read"), col("rows_read"))
      }
      layoutStats("natural", Seq(col("o_orderkey")))
        .unionByName(layoutStats("zorder", Seq(col("z"), col("o_orderkey"))))
        .orderBy("layout")
    },

    // ---- mergeable histogram quantiles (core/IncrementalAgg): two
    //      per-shard equi-width bin-count partials (even/odd orderkey)
    //      merged by bucket-sum, quantiles read off the merged
    //      cumulative by exact cross-multiplication — the mergeable-
    //      state face of quantile maintenance (bin counts are a sum
    //      monoid; medians don't merge, histograms do). Oracle is the
    //      from-scratch histogram: merging MUST equal recomputing. ----
    "q_incr_quantile_merge" -> Q(
      """WITH h AS (SELECT least(19, CAST(floor(o_totalprice / 30000) AS BIGINT)) AS bucket,
        |             count(*) AS n FROM orders GROUP BY 1),
        |c AS (SELECT bucket, n, sum(n) OVER (ORDER BY bucket) AS cum,
        |             sum(n) OVER () AS total FROM h),
        |q AS (SELECT unnest([2500, 5000, 7500, 9000]) AS q_bp)
        |SELECT CAST(q.q_bp AS BIGINT) AS q_bp, CAST(min(c.bucket) AS BIGINT) AS bucket,
        |       CAST(min(c.cum) AS BIGINT) AS cum_n, CAST(min(c.total) AS BIGINT) AS total_n
        |FROM q JOIN c ON c.cum * 10000 >= q.q_bp * c.total
        |GROUP BY q.q_bp ORDER BY q_bp""".stripMargin) { (s, dir) =>
      import graft.core.IncrementalAgg
      def part(parity: Int) = IncrementalAgg.histogramPartial(
        tb(s, dir).orders.filter(col("o_orderkey") % 2 === parity),
        lit(parity), "o_totalprice", width = 30000, buckets = 20)
      val merged = IncrementalAgg.histogramMerge(part(0), part(1))
      IncrementalAgg.histogramQuantiles(merged, Seq(2500, 5000, 7500, 9000))
        .orderBy("q_bp")
    }
  )
}

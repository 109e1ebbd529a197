package graft.ingest

import graft.model.SchemaRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ingestion transform pipeline as composable `DataFrame => DataFrame`
  * stages (SURVEY.md §7.1.4). Every stage is pure column algebra —
  * codegen'd builtins, no UDFs — so the whole per-entity pipeline stays
  * inside one WholeStageCodegen span and scales linearly with input
  * partitions.
  */
object Stages {

  val Mask = "******"

  // ---- F5: empty→null normalization (file_loader.py:477-496) ----
  // '', whitespace-only, and the literal 'null' become NULL in every
  // string column.
  def emptyToNull(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case f if f.dataType == StringType =>
        emptyToNullCol(col(f.name)).as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Single-column expression flavor of F5 (for oracle-checked queries). */
  def emptyToNullCol(c: Column): Column =
    when(trim(c) === "" || trim(c) === "null", lit(null: String)).otherwise(c)

  // ---- P3: drop rows whose every (non-excluded) column is null ----
  // (file_loader.py:629 — dropna(how='all') runs BEFORE provenance
  // stamping; order matters, SURVEY §7.4.3.)
  def dropAllNull(df: DataFrame): DataFrame = df.na.drop("all")

  // ---- P1: column exclusion (file_loader.py:600-603) ----
  def excludeColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(cols: _*)

  // ---- F6: flat PII masking (file_loader.py:608-621) ----
  // Only overwrites columns that exist (a file missing a PII column
  // simply has nothing to mask).
  def maskFlat(df: DataFrame, piiCols: Seq[String]): DataFrame =
    piiCols.filter(df.columns.contains)
      .foldLeft(df)((d, c) => d.withColumn(c, lit(Mask)))

  // ---- F7: nested-JSON PII masking (file_loader.py:523-536, 605-606) ----
  /** Mask PII keys inside a JSON-object *string*: parse as
    * map<string,string>, mask the PII keys if present, re-serialize.
    * Non-PII keys and key order are preserved (from_json keeps document
    * order, matching the reference's dict round-trip). A malformed
    * payload parses to NULL — surfaced via [[jsonParseFailed]] so the
    * caller can fail the file like the reference does (mask_pii throws).
    */
  def maskJsonString(c: Column, piiKeys: Seq[String] = SchemaRegistry.nestedPiiKeys): Column = {
    val parsed = from_json(c, MapType(StringType, StringType))
    val masked = transform_values(parsed,
      (k, v) => when(k.isin(piiKeys: _*), lit(Mask)).otherwise(v))
    when(c.isNull, lit(null: String)).otherwise(to_json(masked))
  }

  def jsonParseFailed(c: Column): Column =
    c.isNotNull && from_json(c, MapType(StringType, StringType)).isNull

  /** F7 applied to the hts_client `extra` struct<type,value>. A NULL
    * struct stays NULL — rebuilding it unconditionally would
    * manufacture a non-null struct{null,null}, flipping downstream
    * `extra IS NULL` checks and serializing "{}" where the reference's
    * dict round-trip emits nothing.
    */
  def maskExtra(df: DataFrame, extraCol: String = "extra",
                piiKeys: Seq[String] = SchemaRegistry.nestedPiiKeys): DataFrame =
    df.withColumn(extraCol,
      when(col(extraCol).isNull, lit(null))
        .otherwise(struct(
          col(s"$extraCol.type").as("type"),
          maskJsonString(col(s"$extraCol.value"), piiKeys).as("value"))))

  /** Entity-specific transform dispatch (file_loader.py:595-621), fully
    * driven by the run's [[SchemaRegistry.EntityRegistry]]: column
    * exclusion, then nested-payload masking for tables configured in
    * `nestedPiiTables` (the hts_client `extra` pattern — a config
    * entry, not a hardcoded table name), then per-table flat masking.
    * The stages COMPOSE — a table can have both a nested payload and
    * flat PII columns — so a novel entity gets its complete transform
    * purely from config.
    */
  def entityTransforms(stagingTable: String,
                       reg: SchemaRegistry.EntityRegistry = SchemaRegistry.default)
                      (df: DataFrame): DataFrame = {
    val excluded = reg.excludedColumns.get(stagingTable)
      .fold(df)(excludeColumns(df, _))
    val nested = reg.nestedPiiTables.get(stagingTable)
      .filter(excluded.columns.contains)
      .fold(excluded)(c => maskExtra(excluded, c, reg.nestedPiiKeys))
    reg.flatPiiColumns.get(stagingTable)
      .fold(nested)(maskFlat(nested, _))
  }

  /** The per-entity transform chain of a raw JSON read, the one
    * [[Pipeline]] runs: [[dropAllNull]] (before anything adds a column), the entity's
    * [[entityTransforms]] (column exclusion, nested and flat PII
    * masking), [[emptyToNull]], then [[stampProvenanceFromPath]].
    */
  def prepareEntity(stagingTable: String, reg: SchemaRegistry.EntityRegistry,
                    loadTime: java.sql.Timestamp)(raw: DataFrame): DataFrame =
    stampProvenanceFromPath(
      emptyToNull(entityTransforms(stagingTable, reg)(dropAllNull(raw))), loadTime)

  // ---- F8: date-column detection + validation split ----

  /** Date columns by naming convention: `date_*` or `*_date`
    * (file_loader.py:499; dsd_loader.py:571). `date_of_birth` also
    * matches the reference's parse_dates list (file_loader.py:417).
    */
  def dateColumns(df: DataFrame): Seq[String] =
    df.columns.filter(c =>
      c.startsWith("date_") || c.endsWith("_date") || c == "date_of_birth").toSeq

  /** A value passes if NULL/empty or parseable as timestamp or date.
    * `try_to_timestamp` replaces the reference's exception-driven
    * per-value probe (file_loader.py:508-519) with a null-returning
    * builtin — no control-flow exceptions, fully codegen'd.
    */
  def dateValid(c: Column): Column =
    c.isNull || trim(c.cast(StringType)) === "" ||
      try_to_timestamp(c.cast(StringType)).isNotNull

  /** The row-level predicate [[dateSplit]] splits on: every date column
    * passes [[dateValid]] (true when the frame has none). Never null, so
    * `count_if(p)` and `count_if(!p)` partition the rows.
    */
  def datesValid(df: DataFrame): Column =
    dateColumns(df).map(c => dateValid(col(c))).reduceOption(_ && _).getOrElse(lit(true))

  /** Row-level valid/quarantine split over all date columns. Returns
    * (valid, quarantine) where quarantine rows carry an `error_message`
    * naming each offending column/value, shaped like the reference's
    * "record id: <id>, invalid_date => <v>" messages
    * (file_loader.py:515).
    *
    * Both loader flavors share this split; they differ downstream:
    * main loader drops bad rows but still ingests the rest and marks the
    * *file* failed (file_loader.py:627-645); DSD loader skips bad records
    * and the file still counts success when clean (dsd_loader.py:646,684-687).
    */
  def dateSplit(df: DataFrame, idCol: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val dcols = dateColumns(df)
    if (dcols.isEmpty) (df, df.limit(0).withColumn("error_message", lit(null: String)))
    else {
      val allValid = datesValid(df)
      val idExpr = idCol.filter(df.columns.contains)
        .map(c => col(c).cast(StringType)).getOrElse(lit("?"))
      val msg = concat_ws("; ", dcols.map { c =>
        when(!dateValid(col(c)),
          concat(lit("record id: "), coalesce(idExpr, lit("?")),
            lit(s", invalid_date => "), col(c).cast(StringType)))
      }: _*)
      val valid = df.filter(allValid)
      val bad = df.filter(!allValid).withColumn("error_message", msg)
      (valid, bad)
    }
  }

  // ---- F11: provenance stamping (file_loader.py:630-633) ----
  /** Column-expression provenance for bulk per-entity reads: derive the
    * per-file values from `input_file_name()` instead of a driver-side
    * loop — the 100 TB shape (SURVEY §7.4.6): one scan per entity, not
    * one job per file. `stg_load_time` is a literal captured once per
    * batch — NOT current_timestamp() per row (file_loader.py:555 takes
    * one datetime.now() per file).
    */
  def stampProvenanceFromPath(df: DataFrame, loadTime: java.sql.Timestamp): DataFrame = {
    val path = input_file_name()
    val base = element_at(split(path, "/"), -1)
    df.withColumn("stg_batch_id", graft.model.FileName.batchIdCol(base))
      .withColumn("stg_load_time", lit(loadTime))
      .withColumn("stg_file_name", base)
      .withColumn("stg_datim_id", element_at(split(path, "/"), -2))
  }

  // ---- nested-payload serialization (dsd_loader.py:638-639) ----
  /** DSD records may carry arbitrarily nested objects; the reference
    * json.dumps-serializes them before insert. Spark equivalent: every
    * struct/map/array column becomes a JSON string column (to_json),
    * leaving scalars untouched — so the staging schema stays flat.
    */
  def serializeNested(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case f if f.dataType.isInstanceOf[StructType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[ArrayType] =>
        to_json(col(f.name)).as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  // ---- F9: error-message formatting (file_loader.py:371-384, 189) ----
  def formatError(msg: String, maxLen: Int = 500): String = {
    val firstLine = msg.linesIterator.toSeq.headOption.getOrElse("")
    firstLine
      .replace("psycopg2.errors.", "")
      .replace("stg_", "")
      .take(maxLen)
  }

  /** The text a failure logs: its message, or its class name when it
    * has none (a NullPointerException, say).
    */
  def errorText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)

  /** 10k-char truncation applied at sync-log write (file_loader.py:189). */
  def truncateForSyncLog(msg: String): String = msg.take(10000)

  // ---- F10: log-id generation (file_ingestion_process.py:52) ----
  def logId(prefix: String, at: java.time.LocalDateTime): String =
    prefix + "_" + at.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HH_mm"))

  // ---- F12: size pretty-print (table_sizes.sql:2-3 analog) ----
  def prettySize(bytes: Column): Column =
    when(bytes >= 1073741824L, concat(round(bytes / 1073741824.0, 1).cast(StringType), lit(" GB")))
      .when(bytes >= 1048576L, concat(round(bytes / 1048576.0, 1).cast(StringType), lit(" MB")))
      .when(bytes >= 1024L, concat(round(bytes / 1024.0, 1).cast(StringType), lit(" KB")))
      .otherwise(concat(bytes.cast(StringType), lit(" B")))
}

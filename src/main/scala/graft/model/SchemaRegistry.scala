package graft.model

import org.apache.spark.sql.types._

/** Central schema registry — replaces the reference's live
  * `information_schema.columns` lookup per table
  * (`staging_records_ingestion/file_loader.py:45-49`) with static
  * `StructType`s. At 100 TB scale a catalog round-trip per file is a
  * non-starter; schemas are compiled in (or loaded once per run).
  *
  * The once-per-run path is [[SchemaRegistry.load]]: a JSON resource
  * merged ADDITIVELY over the compiled-in defaults, restoring the
  * reference's add-a-table-without-code operational property (a new
  * entity = a new catalog row there; a new config entry here) while
  * keeping per-file cost at zero. [[SchemaRegistry.default]] is the
  * static registry; every consumer threads an [[EntityRegistry]] with
  * that default, so existing call sites are unchanged.
  *
  * PG→Spark type mapping per SURVEY.md §1.2 (the reference's
  * `convert_postgresql_to_sqlalchemy`, `file_loader.py:562-580`, collapses
  * integer widths and numerics to Float — we keep full fidelity).
  */
object SchemaRegistry {

  /** The run-scoped entity catalog: everything the ingestion/maintenance
    * planes know about a staging entity. Loaded once per run (driver
    * side, O(config) not O(files)); defaults to the compiled-in values.
    *
    *  - `stagingTables`: the deletion/report allowlist (the reference's
    *    44-table list, stg_records_deletion_process.py:36-49);
    *  - `dsdFamilies`: record-skip loader families (dsd_loader.py:255-259);
    *  - `flatPiiColumns`: per-table flat mask lists (file_loader.py:608-621);
    *  - `nestedPiiKeys`: keys masked inside nested JSON payloads
    *    (file_loader.py:523-536);
    *  - `excludedColumns`: per-table pre-load column drops
    *    (file_loader.py:600-603, generalized beyond stg_biometric);
    *  - `entitySchemas`: optional typed StructTypes for schema'd reads
    *    (JsonSource.readEntityBatch) keyed by staging table.
    */
  final case class EntityRegistry(
      stagingTables: Seq[String],
      dsdFamilies: Seq[String],
      flatPiiColumns: Map[String, Seq[String]],
      nestedPiiKeys: Seq[String],
      // table → JSON-payload struct column whose `value` gets the
      // nested-key mask (the hts_client `extra` pattern, config-driven)
      nestedPiiTables: Map[String, String],
      excludedColumns: Map[String, Seq[String]],
      entitySchemas: Map[String, StructType])

  /** Compiled-in registry (the reference's production catalog state). */
  lazy val default: EntityRegistry = EntityRegistry(
    stagingTables = stagingTables,
    dsdFamilies = dsdFamilies,
    flatPiiColumns = flatPiiColumns,
    nestedPiiKeys = nestedPiiKeys,
    nestedPiiTables = Map("stg_hts_client" -> "extra"),
    excludedColumns = Map("stg_biometric" -> biometricExcluded),
    entitySchemas = Map.empty)

  /** Parse a registry-overlay JSON document and merge it over
    * [[default]]. Merge is ADDITIVE: list fields append (deduped),
    * map fields override per key, `nestedPiiKeys` replaces only when
    * present. Schemas are Spark DDL strings
    * (`"id BIGINT, name STRING"` → `StructType.fromDDL`). Example:
    *
    * {{{
    * { "stagingTables": ["stg_new_entity"],
    *   "flatPiiColumns": {"stg_new_entity": ["phone_number"]},
    *   "excludedColumns": {"stg_new_entity": ["internal_notes"]},
    *   "entitySchemas": {"stg_new_entity": "id BIGINT, phone_number STRING, visit_date STRING"} }
    * }}}
    *
    * Validation is STRICT — an unknown top-level key (a typo like
    * `flatPIIColumns`) or a wrong-shaped value (a string where an array
    * of strings is required) throws instead of being silently ignored:
    * this config's job is PII masking, and a dropped entry would ship
    * unmasked data with zero diagnostics.
    *
    * json4s ships on the Spark classpath; no extra dependency.
    */
  def fromJson(json: String): EntityRegistry = {
    import org.json4s._
    val allowed = Set("stagingTables", "dsdFamilies", "flatPiiColumns",
      "nestedPiiKeys", "nestedPiiTables", "excludedColumns", "entitySchemas")
    val fields = org.json4s.jackson.JsonMethods.parse(json) match {
      case JObject(fs) => fs
      case other => throw new IllegalArgumentException(
        s"registry overlay must be a JSON object, got ${other.getClass.getSimpleName}")
    }
    fields.collect { case (k, _) if !allowed(k) => k } match {
      case Nil => ()
      case bad => throw new IllegalArgumentException(
        s"unknown registry overlay key(s) ${bad.mkString(", ")}; " +
          s"allowed: ${allowed.toSeq.sorted.mkString(", ")}")
    }
    val byName = fields.toMap
    def fail(field: String, what: String): Nothing =
      throw new IllegalArgumentException(
        s"registry overlay '$field' must be $what")
    def strSeq(field: String, v: JValue): Seq[String] = v match {
      case JArray(vs) => vs.map {
        case JString(s) => s
        case _          => fail(field, "an array of strings")
      }
      case _ => fail(field, "an array of strings")
    }
    def strings(field: String): Seq[String] =
      byName.get(field).map(strSeq(field, _)).getOrElse(Seq.empty)
    def stringMap(field: String): Map[String, Seq[String]] =
      byName.get(field).map {
        case JObject(fs) => fs.map { case (k, v) => k -> strSeq(field, v) }.toMap
        case _ => fail(field, "an object of table → array of strings")
      }.getOrElse(Map.empty)
    def strStrMap(field: String): Map[String, String] =
      byName.get(field).map {
        case JObject(fs) => fs.map {
          case (k, JString(s)) => k -> s
          case _ => fail(field, "an object of table → string")
        }.toMap
        case _ => fail(field, "an object of table → string")
      }.getOrElse(Map.empty)
    def ddlMap(field: String): Map[String, StructType] =
      strStrMap(field).map { case (k, ddl) =>
        k -> (try StructType.fromDDL(ddl)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"registry overlay '$field.$k': invalid DDL '$ddl'", e)
        })
      }
    val d = default
    EntityRegistry(
      stagingTables = (d.stagingTables ++ strings("stagingTables")).distinct,
      dsdFamilies = (d.dsdFamilies ++ strings("dsdFamilies")).distinct,
      flatPiiColumns = d.flatPiiColumns ++ stringMap("flatPiiColumns"),
      nestedPiiKeys =
        if (byName.contains("nestedPiiKeys")) strings("nestedPiiKeys")
        else d.nestedPiiKeys,
      nestedPiiTables = d.nestedPiiTables ++ strStrMap("nestedPiiTables"),
      excludedColumns = d.excludedColumns ++ stringMap("excludedColumns"),
      entitySchemas = d.entitySchemas ++ ddlMap("entitySchemas"))
  }

  /** Load a registry overlay from a file path via the Hadoop FS API —
    * file://, hdfs://, s3a:// all work, like every other metadata-plane
    * read. One driver-side read per run.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): EntityRegistry = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      fromJson(out.toString("UTF-8"))
    } finally in.close()
  }

  /** Provenance columns appended to every ingested row
    * (file_loader.py:630-633).
    */
  val provenanceFields: Seq[StructField] = Seq(
    StructField("stg_batch_id", StringType),
    StructField("stg_load_time", TimestampType),
    StructField("stg_file_name", StringType),
    StructField("stg_datim_id", StringType))

  /** The 44-entity allowlist (stg_records_deletion_process.py:36-49). */
  val stagingTables: Seq[String] = Seq(
    "stg_hiv_art_pharmacy_regimens", "stg_hiv_eac_out_come",
    "stg_base_organisation_unit", "stg_base_application_codeset",
    "stg_base_organisation_unit_identifier", "stg_biometric",
    "stg_case_manager", "stg_case_manager_patients", "stg_dsd_devolvement",
    "stg_hiv_art_clinical", "stg_hiv_art_pharmacy", "stg_hiv_eac",
    "stg_hiv_eac_session", "stg_hiv_enrollment", "stg_hiv_observation",
    "stg_hiv_regimen", "stg_hiv_regimen_resolver", "stg_hiv_regimen_type",
    "stg_hiv_status_tracker", "stg_hts_client", "stg_hts_index_elicitation",
    "stg_hts_risk_stratification", "stg_laboratory_labtest",
    "stg_laboratory_test", "stg_laboratory_order", "stg_laboratory_result",
    "stg_laboratory_sample", "stg_patient_encounter", "stg_patient_person",
    "stg_patient_visit", "stg_pmtct_anc", "stg_pmtct_delivery",
    "stg_pmtct_enrollment", "stg_pmtct_infant_arv",
    "stg_pmtct_infant_information", "stg_pmtct_infant_mother_art",
    "stg_pmtct_infant_pcr", "stg_pmtct_infant_rapid_antibody",
    "stg_pmtct_infant_visit", "stg_pmtct_mother_visitation",
    "stg_prep_clinic", "stg_prep_eligibility", "stg_prep_enrollment",
    "stg_prep_interruption", "stg_triage_vital_sign")

  /** DSD table families (record-skip loader flavor, dsd_loader.py:255-259). */
  val dsdFamilies: Seq[String] = Seq(
    "prep_eligibility", "prep_clinic", "mhpss_confirmation", "pmtct_anc",
    "dsd_devolvement", "hiv_art_clinical")

  /** Flat PII mask lists per table (file_loader.py:608-621). */
  val flatPiiColumns: Map[String, Seq[String]] = Map(
    "stg_hts_index_elicitation" -> Seq(
      "last_name", "first_name", "middle_name", "phone_number",
      "alt_phone_number"),
    "stg_patient_person" -> Seq(
      "surname", "first_name", "other_name", "hospital_number",
      "nin_number", "full_name"))

  /** Nested-JSON PII keys masked inside hts_client `extra.value`
    * (file_loader.py:523-536).
    */
  val nestedPiiKeys: Seq[String] = Seq(
    "surname", "first_name", "middle_name", "phone_number",
    "hospital_number")

  /** Columns excluded from stg_biometric before load (file_loader.py:600-603). */
  val biometricExcluded: Seq[String] =
    Seq("match_type", "match_person_uuid", "match_biometric_id")

  /** Quarantine twin of a staging table (dsd_loader.py:554). */
  def quarantineTable(staging: String): String = s"${staging}_bad_dates"

  // -------- control-plane table schemas (FIXTURES.md §3) --------

  val syncFile: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("facility_id", StringType),
    StructField("file_name", StringType),
    StructField("decrypted_file_name", StringType),
    StructField("processed", IntegerType),
    StructField("create_date", TimestampType),
    StructField("modified_date", TimestampType),
    StructField("ingest_start_time", TimestampType),
    StructField("ingest_end_time", TimestampType),
    StructField("ingest_file_name", StringType),
    StructField("ingest_table_name", StringType),
    StructField("ingest_status_check", StringType),
    StructField("json_rec_count", IntegerType),
    StructField("ingest_error_message", StringType)))

  val fileIngestionLog: StructType = StructType(Seq(
    StructField("load_start_time", TimestampType),
    StructField("load_end_time", TimestampType),
    StructField("load_status_check", StringType),
    StructField("table_name", StringType),
    StructField("file_name", StringType),
    StructField("facility_id", StringType),
    StructField("json_rec_count", IntegerType),
    StructField("error_message", StringType)))

  val pipelineLog: StructType = StructType(Seq(
    StructField("log_id", StringType),
    StructField("start_time", TimestampType),
    StructField("end_time", TimestampType),
    StructField("status", StringType),
    StructField("process_type", StringType),
    StructField("error_message", StringType),
    StructField("records_processed", IntegerType)))

  val stgMonitoring: StructType = StructType(Seq(
    StructField("datim_id", StringType),
    StructField("batch_id", StringType),
    StructField("file_name", StringType),
    StructField("table_name", StringType),
    StructField("load_time", TimestampType),
    StructField("json_rec_count", IntegerType),
    StructField("processed", StringType), // 'N' | 'Y' | 'F'
    StructField("error_message", StringType)))

  val centralPartnerMapping: StructType = StructType(Seq(
    StructField("datim_id", StringType),
    StructField("patient_count", IntegerType),
    StructField("ip_name", StringType),
    StructField("is_run", BooleanType)))

  val fileDeletionLog: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("deletion_start_time", TimestampType),
    StructField("deletion_end_time", TimestampType),
    StructField("deletion_status_check", StringType),
    StructField("table_name", StringType),
    StructField("file_name", StringType),
    StructField("facility_id", StringType),
    StructField("json_rec_count", IntegerType),
    StructField("error_message", StringType)))

  val processSummaryReport: StructType = StructType(Seq(
    StructField("total_files", LongType),
    StructField("processed_count", LongType),
    StructField("just_uploaded", LongType),
    StructField("decryption_queue", LongType),
    StructField("decrypted_complete", LongType),
    StructField("real_decryption_fails", LongType),
    StructField("ingestion_fails", LongType),
    StructField("fails", LongType),
    StructField("check_data", TimestampType)))
}

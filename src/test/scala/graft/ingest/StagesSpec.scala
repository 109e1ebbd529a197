package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class StagesSpec extends SparkSpec {
  import spark.implicits._

  test("F5: empty, whitespace and 'null' strings become NULL") {
    val df = Seq(("", "a"), ("  ", "b"), ("null", "c"), ("x", ""), ("y", "keep"))
      .toDF("c1", "c2")
    val out = Stages.emptyToNull(df).collect().map(r =>
      (Option(r.getString(0)), Option(r.getString(1))))
    assert(out.toSeq === Seq(
      (None, Some("a")), (None, Some("b")), (None, Some("c")),
      (Some("x"), None), (Some("y"), Some("keep"))))
  }

  test("F5: non-string columns pass through untouched") {
    val df = Seq((1, "null"), (2, "ok")).toDF("id", "s")
    val out = Stages.emptyToNull(df).collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(Option(out(0).getString(1)).isEmpty)
  }

  test("P3: dropAllNull drops only rows where every column is null") {
    val df = Seq[(Option[String], Option[String])](
      (None, None), (Some("a"), None), (None, Some("b")))
      .toDF("x", "y")
    assert(Stages.dropAllNull(df).count() === 2)
  }

  test("F6: maskFlat overwrites present PII columns, ignores absent ones") {
    val df = Seq(("Ann", "0801", "keep")).toDF("surname", "phone_number", "other")
    val out = Stages.maskFlat(df, Seq("surname", "phone_number", "not_there"))
      .collect().head
    assert(out.getString(0) === Stages.Mask)
    assert(out.getString(1) === Stages.Mask)
    assert(out.getString(2) === "keep")
  }

  test("F7: maskJsonString masks only PII keys, preserves others and order") {
    val df = Seq(
      """{"surname":"Ann","age":"30","phone_number":"0801"}""",
      """{"age":"9"}""",
      null
    ).toDF("v")
    val out = df.select(Stages.maskJsonString(col("v")).as("m"))
      .collect().map(r => Option(r.getString(0)))
    assert(out(0) === Some("""{"surname":"******","age":"30","phone_number":"******"}"""))
    assert(out(1) === Some("""{"age":"9"}"""))
    assert(out(2) === None)
  }

  test("F7: malformed JSON is detected (reference mask_pii throws → file fails)") {
    val df = Seq("not json", """{"a":"b"}""").toDF("v")
    val flags = df.select(Stages.jsonParseFailed(col("v")).as("bad"))
      .collect().map(_.getBoolean(0))
    assert(flags.toSeq === Seq(true, false))
  }

  test("F7: maskExtra rewrites the hts_client extra struct") {
    val df = Seq(("t1", """{"first_name":"Bob","x":"1"}"""))
      .toDF("type", "value")
      .select(struct(col("type"), col("value")).as("extra"))
    val out = Stages.maskExtra(df).select("extra.type", "extra.value")
      .collect().head
    assert(out.getString(0) === "t1")
    assert(out.getString(1) === """{"first_name":"******","x":"1"}""")
  }

  test("F7: maskExtra keeps a NULL extra struct NULL (no manufactured {null,null})") {
    val df = Seq(("t1", """{"x":"1"}"""))
      .toDF("type", "value")
      .select(when(col("type") === "never", // null struct row
        struct(col("type"), col("value"))).as("extra"))
    val out = Stages.maskExtra(df).select("extra").collect().head
    assert(out.isNullAt(0), "NULL extra must stay NULL after masking")
  }

  test("P1: entityTransforms drops biometric match_* columns") {
    val df = Seq(("u", "m", "p", "b"))
      .toDF("uuid", "match_type", "match_person_uuid", "match_biometric_id")
    val out = Stages.entityTransforms("stg_biometric")(df)
    assert(out.columns.toSeq === Seq("uuid"))
  }

  test("F8: date columns detected by naming convention") {
    val df = Seq((1, "a", "b", "c", "d"))
      .toDF("id", "date_of_birth", "visit_date", "date_started", "not_a_dat")
    assert(Stages.dateColumns(df).toSet ===
      Set("date_of_birth", "visit_date", "date_started"))
  }

  test("F8: dateSplit quarantines rows with unparseable non-empty dates") {
    val df = Seq(
      ("1", "2024-01-15", "2024-02-20 10:00:00"), // valid
      ("2", "", "2024-02-20"),                    // empty passes
      ("3", null, "2024-02-21"),                  // null passes
      ("4", "junk", "2024-02-22"),                // bad → quarantine
      ("5", "2024-01-15", "31/31/2024")           // bad → quarantine
    ).toDF("id", "date_of_birth", "visit_date")
    val (valid, bad) = Stages.dateSplit(df, idCol = Some("id"))
    assert(valid.select("id").as[String].collect().sorted.toSeq === Seq("1", "2", "3"))
    val badRows = bad.select("id", "error_message").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(badRows.keySet === Set("4", "5"))
    assert(badRows("4").contains("record id: 4"))
    assert(badRows("4").contains("invalid_date => junk"))
  }

  test("F8: no date columns → nothing quarantined") {
    val df = Seq(("a", 1)).toDF("name", "n")
    val (valid, bad) = Stages.dateSplit(df)
    assert(valid.count() === 1)
    assert(bad.count() === 0)
  }

  test("F11: provenance stamping adds the four literal columns") {
    val fac = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_f11_").toFile, "FAC1")
    fac.mkdirs()
    val name = "patient_person_0_20250103141949_decrypted.json"
    java.nio.file.Files.writeString(new java.io.File(fac, name).toPath,
      """[{"v": "r1"}, {"v": "r2"}]""")
    val ts = java.sql.Timestamp.valueOf("2025-01-03 14:19:49")
    val out = Stages.stampProvenanceFromPath(
      spark.read.option("multiLine", "true").json(fac.getPath), ts)
    assert(out.columns.toSeq === Seq("v", "stg_batch_id", "stg_load_time",
      "stg_file_name", "stg_datim_id"))
    val rows = out.collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[String]("stg_batch_id") === "20250103141949")
      assert(r.getAs[java.sql.Timestamp]("stg_load_time") === ts)
      assert(r.getAs[String]("stg_file_name") === name)
      assert(r.getAs[String]("stg_datim_id") === "FAC1")
    }
  }

  test("DSD nested payloads serialize to JSON strings, scalars untouched") {
    val df = Seq((1L, "x")).toDF("id", "name")
      .withColumn("extra", struct(lit("t").as("type"), lit("v").as("value")))
      .withColumn("tags", array(lit("a"), lit("b")))
    val out = Stages.serializeNested(df)
    assert(out.schema.fields.forall(f =>
      !f.dataType.typeName.matches("struct|array|map")))
    val r = out.collect().head
    assert(r.getAs[String]("extra") === """{"type":"t","value":"v"}""")
    assert(r.getAs[String]("tags") === """["a","b"]""")
    assert(r.getAs[Long]("id") === 1L && r.getAs[String]("name") === "x")
  }

  test("F9: error formatting strips prefixes, first line, truncates") {
    val raw = "psycopg2.errors.UndefinedColumn: column stg_x of stg_patient_person\nDETAIL: more"
    val out = Stages.formatError(raw)
    assert(out === "UndefinedColumn: column x of patient_person")
    assert(Stages.formatError("a" * 600).length === 500)
    assert(Stages.truncateForSyncLog("b" * 20000).length === 10000)
  }

  test("F10: log id format") {
    val at = java.time.LocalDateTime.of(2025, 1, 3, 14, 19, 49)
    assert(Stages.logId("IPID", at) === "IPID_20250103_14_19")
  }

  test("errorText falls back to the class name when there is no message") {
    assert(Stages.errorText(new RuntimeException("boom")) === "boom")
    assert(Stages.errorText(new NullPointerException()) ===
      "java.lang.NullPointerException")
  }
}

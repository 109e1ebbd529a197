package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.types._

class StreamIngestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("uuid", StringType),
    StructField("visit_date", StringType)))

  test("AvailableNow drain ingests present files then stops; checkpoint makes re-drain a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_").toFile
    val in = new java.io.File(root, "in/FAC1"); in.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(in, "patient_person_0_20250101000000_decrypted.json").toPath,
      """[{"id": 1, "uuid": "u1", "visit_date": "2024-01-01"},
        | {"id": 2, "uuid": "", "visit_date": "2024-01-02"}]""".stripMargin)
    val out = new java.io.File(root, "out").getPath
    val ckpt = new java.io.File(root, "ckpt").getPath

    val stream = StreamIngest.entityStream(spark, schema,
      s"${root.getPath}/in/*/patient_person_*.json", "stg_patient_person")
    assert(stream.isStreaming)
    val q1 = StreamIngest.drainToParquet(stream, out, ckpt)
    q1.awaitTermination(60000)

    val got = spark.read.parquet(out)
    assert(got.count() === 2)
    val r = got.orderBy("id").collect()
    assert(r(0).getAs[String]("stg_datim_id") === "FAC1") // provenance from path
    assert(r(0).getAs[String]("stg_batch_id") === "20250101000000")
    assert(r(1).getAs[String]("uuid") === null) // empty→null stage applied

    // second drain with same checkpoint: no new files → no new rows
    val q2 = StreamIngest.drainToParquet(
      StreamIngest.entityStream(spark, schema,
        s"${root.getPath}/in/*/patient_person_*.json", "stg_patient_person"), out, ckpt)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() === 2)

    // a newly arrived file IS picked up by the next drain
    java.nio.file.Files.writeString(
      new java.io.File(in, "patient_person_1_20250101010000_decrypted.json").toPath,
      """[{"id": 3, "uuid": "u3", "visit_date": "2024-01-03"}]""")
    val q3 = StreamIngest.drainToParquet(
      StreamIngest.entityStream(spark, schema,
        s"${root.getPath}/in/*/patient_person_*.json", "stg_patient_person"), out, ckpt)
    q3.awaitTermination(60000)
    assert(spark.read.parquet(out).count() === 3)
  }

  test("the stream runs the batch pipeline's entity chain: PII masked, " +
      "all-null records dropped") {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_pii_").toFile
    val in = new java.io.File(root, "in/FAC1"); in.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(in, "patient_person_0_20250101000000_decrypted.json").toPath,
      """[{"id": 1, "first_name": "Ada", "visit_date": "2024-01-01"},
        | {}]""".stripMargin)
    val piiSchema = schema.add("first_name", StringType)
    val q = StreamIngest.drainToParquet(
      StreamIngest.entityStream(spark, piiSchema,
        s"${root.getPath}/in/*/patient_person_*.json", "stg_patient_person"),
      new java.io.File(root, "out").getPath, new java.io.File(root, "ckpt").getPath)
    q.awaitTermination(60000)
    val got = spark.read.parquet(new java.io.File(root, "out").getPath).collect()
    assert(got.length === 1, "the all-null record was dropped")
    assert(got.head.getAs[String]("first_name") === graft.ingest.Stages.Mask)
    assert(got.head.getAs[String]("stg_datim_id") === "FAC1")
  }

  test("windowed counts bucket by event-time hour") {
    import spark.implicits._
    val df = Seq(
      ("2024-01-01 10:05:00", "click"),
      ("2024-01-01 10:55:00", "click"),
      ("2024-01-01 11:05:00", "click"),
      ("2024-01-01 10:20:00", "view")
    ).toDF("raw", "event_type")
      .select(col("raw").cast("timestamp").as("ts"), col("event_type"))
    val out = StreamIngest.windowedCounts(df, "ts", "event_type")
      .orderBy("window_start", "event_type").collect()
    assert(out.map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSeq
      === Seq(
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 10:00:00.0", "view", 1L),
      ("2024-01-01 11:00:00.0", "click", 1L)))
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}

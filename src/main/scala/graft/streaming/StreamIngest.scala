package graft.streaming

import graft.ingest.Stages
import graft.model.SchemaRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming wrapper over the same ingestion stages (SURVEY
  * §7.1.7): the cron micro-batch becomes `readStream` over the facility
  * tree with `Trigger.AvailableNow` ("drain what's there, then exit" —
  * exactly the reference's hourly-cron drain semantics), and the
  * `modified_date >= watermark` low-water constant becomes the
  * checkpoint's file-source offset log.
  *
  * Scale: maxFilesPerTrigger bounds each micro-batch like the reference's
  * LIMIT 50000 work-list cap; the checkpoint replaces the sync_file
  * state machine for exactly-once file-source progress.
  */
object StreamIngest {

  /** File-source stream of JSON sync files for one entity glob, feeding
    * `stagingTable`: the same transform chain as the batch pipeline
    * ([[Stages.prepareEntity]]: all-null rows dropped, the entity's
    * column exclusion and PII masking from [[SchemaRegistry.default]],
    * empty→null, provenance from the path). It adds no date-validity
    * split: a drain writes bad-date rows where the batch pipeline
    * quarantines them.
    */
  def entityStream(spark: SparkSession, schema: StructType, pathGlob: String,
                   stagingTable: String, maxFilesPerTrigger: Int = 1000): DataFrame = {
    val raw = spark.readStream
      .schema(schema)
      .option("multiLine", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(pathGlob)
    val loadTime = new java.sql.Timestamp(System.currentTimeMillis())
    Stages.prepareEntity(stagingTable, SchemaRegistry.default, loadTime)(raw)
  }

  /** Drain-then-exit run to a parquet sink (the cron-equivalent batch):
    * AvailableNow processes everything present, checkpoints, stops.
    */
  def drainToParquet(df: DataFrame, outDir: String,
                     checkpointDir: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Event-time windowed monitoring aggregate with a watermark: files
    * per (window, table) — the streaming analog of stg_monitoring
    * group-counts. Late rows beyond the watermark are dropped, bounding
    * state.
    */
  def windowedCounts(df: DataFrame, tsCol: String, keyCol: String,
                     window: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window)
        .as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"))
}

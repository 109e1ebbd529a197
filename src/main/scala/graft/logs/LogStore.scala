package graft.logs

import graft.core.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Control-plane log tables (SURVEY §1.1) as append-only parquet with
  * latest-wins views.
  *
  * The reference mutates rows in place (`UPDATE sync_file ...`,
  * file_loader.py:111-119,180-189). Plain parquet is append-only, so a
  * keyed "update" is an append of a new version row plus a latest-wins
  * read view — exactly the reference's own W1 dedup pattern
  * (quality_assessments/duplicates_check.sql:1-17) applied as MVCC.
  *
  * Scale: the window in [[latest]] partitions by the logical key, so it
  * shuffles once by key and never widens; for an ever-growing log,
  * [[compact]] rewrites the table to current-versions-only (bounding
  * later window input), mirroring the reference's dedup DELETE
  * (duplicates_check.sql:26-54).
  */
final case class LogStore(spark: SparkSession, dir: String) {

  private def path(table: String) = s"$dir/$table"

  /** In-process writer serialization: every mutation (append/update/
    * compact) holds this monitor, so concurrent facility claims — or an
    * append racing a compact's directory swap — cannot interleave two
    * Spark write jobs into one table directory (their `_temporary`
    * staging dirs would collide, and an append could land rows in a
    * directory compact is about to delete). Control-plane writes are
    * tiny, so serializing them costs microseconds per claim. Readers do
    * not take it: a swap's renames and every recovery share [[Fs]]'s
    * own monitor.
    *
    * Cross-PROCESS concurrency is out of contract: one writing driver
    * per log directory (the reference's cron-style deployment). Multiple
    * drivers need an external lock or a transactional table format.
    */
  private val writeLock = new Object

  /** One parquet file per append: control-plane appends are small by
    * contract (the reference's equivalent is row INSERTs into Postgres;
    * the data plane never goes through LogStore), but the rows often
    * arrive through a shuffle — e.g. Maintenance's sync requeue reads
    * the [[latest]] window view — and writing them at shuffle
    * parallelism appends up to `shuffle.partitions` near-empty files
    * that every later [[history]]/[[latest]] read pays to list and open.
    * `coalesce(1)` collapses only the write stage (upstream stages keep
    * their parallelism across the shuffle boundary); [[compact]] bounds
    * the file count over a long history.
    */
  def append(table: String, rows: DataFrame): Long = writeLock.synchronized {
    // a compact that died mid-swap left the rows in Fs.oldDir(table):
    // restore them before appending, or the next compact deletes them
    Fs.recoverSwap(path(table), spark.sparkContext.hadoopConfiguration)
    val v = LogStore.nextVersion()
    rows.coalesce(1).withColumn("_version_ts", lit(v))
      .write.mode("append").parquet(path(table))
    v
  }

  /** True when the table has rows on disk. A missing directory may be a
    * [[compact]] that died between its renames: [[Fs.existsRecovered]]
    * restores [[Fs.oldDir]] first, so readers never see an empty log.
    */
  def exists(table: String): Boolean =
    Fs.existsRecovered(path(table), spark.sparkContext.hadoopConfiguration)

  /** Raw append history (all versions). */
  def history(table: String): DataFrame = spark.read.parquet(path(table))

  def emptyLike(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema)

  /** Latest-wins view: one row per key, highest version wins (W1:
    * ROW_NUMBER over PARTITION BY key ORDER BY version DESC, keep rn=1).
    */
  def latest(table: String, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_version_ts").desc)
    history(table)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_version_ts")
  }

  def latestOrEmpty(table: String, keys: Seq[String], schema: StructType): DataFrame =
    if (exists(table)) latest(table, keys) else emptyLike(schema)

  /** Time-travel read: the latest-wins view as it stood at `version`
    * (the stamp [[append]] returned) — rows appended after it are
    * invisible, keys whose FIRST version is newer vanish entirely. Same
    * one-shuffle window shape as [[latest]]; the version predicate is a
    * plain pushable filter over the stamp column.
    *
    * The travel window is bounded by [[compact]]: compaction rewrites
    * the table to a single fresh version, so snapshots older than the
    * last compact are gone (the Delta VACUUM contract). Readers needing
    * long history retention simply compact less often — the MVCC
    * window/compaction trade is the same knob.
    */
  def asOf(table: String, keys: Seq[String], version: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_version_ts").desc)
    history(table)
      .filter(col("_version_ts") <= version)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_version_ts")
  }

  /** Distinct version stamps present in a log table, oldest first —
    * the catalog for [[asOf]] (what snapshots are still readable).
    */
  def versions(table: String): DataFrame =
    history(table).select(col("_version_ts").as("version"))
      .distinct().orderBy("version")

  /** Keyed update (S11/S12): append the updated version rows. Callers
    * pass full rows (old values + changed columns) — the view resolves
    * the winner. Returns the snapshot version the update created.
    */
  def update(table: String, rows: DataFrame): Long = append(table, rows)

  /** Compact a log table to its current versions (bounds window input;
    * run periodically like the reference's dedup DELETE), through the
    * crash-safe [[Fs.replace]]. A process that dies between the swap's
    * renames is repaired by the next [[append]] or [[exists]].
    */
  def compact(table: String, keys: Seq[String],
              targetFileBytes: Long = 128L * 1024 * 1024): Unit =
      writeLock.synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    Fs.replace(path(table), conf) { staging =>
      // the rewrite must not explode into shuffle-parallelism part files:
      // latest()'s window would otherwise leave ~shuffle.partitions files
      // behind, permanently defeating compactIfNeeded's file-count fast
      // path (r11 review finding). History bytes overestimate the
      // current-rows size, so the target errs toward one file — right for
      // control-plane tables (the data plane never goes through LogStore).
      val nTarget = Fs.targetFileCount(
        Fs.dataFileStats(path(table), conf).bytes, targetFileBytes).toInt
      latest(table, keys)
        .withColumn("_version_ts", lit(LogStore.nextVersion()))
        .coalesce(nTarget)
        .write.mode("overwrite").parquet(staging)
    }
  }

  /** Trigger-gated [[compact]] — the auto-compaction policy the MVCC
    * design needs to stay bounded in steady state (r10 verdict: compact
    * existed but nothing scheduled it, so after thousands of micro-batch
    * runs the version history dominated every [[latest]] window).
    * Trigger: the table directory holds ≥ `minFiles` parquet files — a
    * pure FS-metadata probe, so the common every-run case costs ZERO
    * Spark jobs. Appends are coalesce(1) and [[compact]] rewrites to
    * ~targetFileBytes files, so file count tracks appends-since-compact
    * and drops back under the floor afterwards. File count is the whole
    * policy deliberately: a version-bloat ratio (history rows ÷ live
    * keys) can never fire on an append-only log whose keys are unique
    * per row (file_ingestion_log — each attempt IS a new logical row),
    * while the small-file pathology is exactly what hurts both table
    * shapes; for churny tables the same rewrite also drops superseded
    * versions.
    *
    * Invariant (PipelineSpec): [[latest]] before ≡ after. [[asOf]]
    * snapshots OLDER than the compact are gone (the documented VACUUM
    * trade); size `minFiles` to the time-travel retention you need.
    * Returns true iff it compacted.
    */
  def compactIfNeeded(table: String, keys: Seq[String],
                      minFiles: Int = 64): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!exists(table)) return false
    val nFiles = Fs.listFiles(path(table), conf)
      .count(_.getPath.getName.endsWith(".parquet"))
    if (nFiles < minFiles) return false
    compact(table, keys)
    true
  }
}

object LogStore {
  private val counter = new java.util.concurrent.atomic.AtomicLong()

  /** Version stamp: wall-clock millis (comparable ACROSS JVM runs —
    * System.nanoTime has an arbitrary per-JVM origin and would let an
    * older run outrank a newer one) with a 20-bit in-process counter so
    * appends within the same millisecond stay strictly ordered.
    */
  def nextVersion(): Long =
    (System.currentTimeMillis() << 20) | (counter.getAndIncrement() & 0xFFFFF)
}

package graft.streaming

import graft.core.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The shared delta-store protocol under the streaming folds
  * (IncrDedupStream / PackStream / SplitStream): one immutable
  * `ingest_batch=<tag>/` parquet delta per batch, tag =
  * `<queryId>_<batchId>` (the transaction id — a replay self-excludes
  * its own tag and overwrites), committed-dirs-only reads, and a
  * compaction through [[Fs.replace]]. Extracted in r11 after the third
  * store re-implemented it by hand (review finding: the copies were
  * already drifting — the first-batch recovery wedge below existed in
  * all three). private[graft] since r13: [[graft.llm.DedupIndex]]'s
  * incremental pair store speaks the same protocol. This is the one
  * module that spells the delta directory name: every delta is written
  * by [[write]] and every tag read back by [[tagOfDir]].
  *
  * A compaction that died between its swap's renames leaves the store
  * dir missing and its deltas in [[Fs.oldDir]]. Every entry point that
  * probes or appends to a store ([[committedDirs]], [[sweepUncommitted]],
  * [[write]], and through them every read, tag mint and compaction)
  * runs [[Fs.recoverSwap]] first, so no batch is judged against an
  * empty store and no minted `direct_<n>` tag collides with a committed
  * delta once the old content comes back.
  */
private[graft] object DeltaStore {

  def tagOf(queryId: String, batchId: Long): String = {
    val qid = if (queryId.isEmpty) "q" else queryId
    s"${qid}_$batchId"
  }

  private val Prefix = "ingest_batch="

  /** The tag of a delta dir path (the inverse of [[write]]'s naming). */
  def tagOfDir(dir: String): String =
    dir.substring(dir.lastIndexOf(Prefix) + Prefix.length)

  /** Write `df` as the delta `tag` of the store at `path` (overwrite:
    * a replay rewrites its own delta in full), after [[Fs.recoverSwap]].
    */
  def write(df: DataFrame, path: String, tag: String): Unit = {
    Fs.recoverSwap(path, df.sparkSession.sparkContext.hadoopConfiguration)
    df.write.mode("overwrite").parquet(s"$path/$Prefix$tag")
  }

  /** Delta dirs that finished their write (`_SUCCESS` present). */
  def committedDirs(path: String,
                    conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    Fs.recoverSwap(path, conf)
    Fs.listDirs(path, conf)
      .filter(d => Fs.exists(s"${d.getPath.toString}/_SUCCESS", conf))
      .map(_.getPath.toString)
  }

  /** All COMMITTED delta rows of a store dir as one frame, with
    * `ingest_batch` riding as the partition column; `template` (any
    * frame with the delta schema, minus the tag column) types the empty
    * result when the store is new.
    *
    * Committed dirs only, read by explicit path: a plain
    * `read.parquet(path)` dies with 'Unable to infer schema' when the
    * store's ONLY content is a crashed write's `_temporary` — and that
    * read runs BEFORE the replay's healing overwrite, so the stream
    * would wedge permanently on restart (r11 review finding). The
    * caller still filters out its OWN tag — a committed-but-unacked
    * delta of the replaying batch is excluded by tag, uncommitted
    * partials by the `_SUCCESS` gate here.
    */
  def readCommitted(template: DataFrame, path: String): DataFrame = {
    val spark = template.sparkSession
    val dirs = committedDirs(path, spark.sparkContext.hadoopConfiguration)
    if (dirs.nonEmpty)
      spark.read.option("basePath", path).parquet(dirs: _*)
    else template.limit(0).withColumn("ingest_batch", lit(""))
  }

  /** Sweep uncommitted (crashed) delta dirs — the direct-caller path's
    * pre-write hygiene in the dedup/pack stores.
    */
  def sweepUncommitted(path: String,
                       conf: org.apache.hadoop.conf.Configuration): Unit = {
    Fs.recoverSwap(path, conf)
    Fs.listDirs(path, conf)
      .filter(d => !Fs.exists(s"${d.getPath.toString}/_SUCCESS", conf))
      .foreach(d => Fs.delete(d.getPath.toString, conf, recursive = true))
  }

  /** Committed deltas minus the caller's excluded tag: what
    * [[compactWith]] folds and [[compactIfNeeded]] counts.
    */
  private def foldable(path: String, conf: org.apache.hadoop.conf.Configuration,
                       excludeTag: Option[String]): Seq[String] =
    committedDirs(path, conf).filterNot(d => excludeTag.contains(tagOfDir(d)))

  /** Absorb all committed deltas into ONE `ingest_batch=compacted_<n>`
    * delta whose content is `fold` of their union, written through
    * [[Fs.replace]] so readers never see partial compactions and a
    * crashed compaction's staged delta is cleared, not promoted beside
    * the next one; uncommitted partials are discarded by the swap
    * (their writer is dead; single-writer rule covers in-flight ones).
    * Owning process only, between committed batches. No-op on an
    * empty/absent store.
    *
    * `excludeTag`: a replaying batch's OWN committed-but-unacked delta
    * — it must not be baked into the compacted state (the batch is
    * about to recompute against state-excluding-itself and OVERWRITE
    * it; absorbing it first would double-count the replay, the same
    * self-exclusion rule every store read applies). The excluded dir
    * is dropped by the swap, which is safe under the replay protocol:
    * an unacknowledged batch is re-driven (streaming checkpoint or
    * caller-owned retry) and rewrites its delta in full.
    */
  def compactWith(spark: SparkSession, path: String,
                  excludeTag: Option[String] = None)
                 (fold: DataFrame => DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = foldable(path, conf, excludeTag)
    if (dirs.isEmpty) return
    val nDirs = Fs.listDirs(path, conf).length
    Fs.replace(path, conf) { staging =>
      fold(spark.read.parquet(dirs: _*))
        .write.mode("overwrite").parquet(s"$staging/${Prefix}compacted_$nDirs")
    }
  }

  /** Trigger-gated [[compactWith]] — the auto-compaction policy that
    * keeps an always-on delta store bounded in steady state (the
    * LogStore.compactIfNeeded stance, r11: compaction existed but
    * nothing scheduled it, so one delta per micro-batch accumulated
    * until someone remembered). Trigger: the store holds ≥ `minDeltas`
    * delta dirs — a pure FS-metadata probe, so the common every-batch
    * case costs ZERO Spark jobs. Owning process only, same rules as
    * compactWith. Returns true iff it compacted.
    *
    * The trigger counts COMMITTED dirs minus the caller's excluded tag
    * — exactly the set compactWith will fold — not the raw dir list: a
    * store polluted with crashed `_temporary` partials must not trip a
    * compaction of two real deltas, and the count the trigger acts on
    * must agree with the work the fold actually absorbs (r12 advice).
    */
  def compactIfNeeded(spark: SparkSession, path: String, minDeltas: Int,
                      excludeTag: Option[String] = None)
                     (fold: DataFrame => DataFrame): Boolean = {
    if (minDeltas <= 0 ||
        foldable(path, spark.sparkContext.hadoopConfiguration, excludeTag)
          .length < minDeltas) return false
    compactWith(spark, path, excludeTag)(fold)
    true
  }
}

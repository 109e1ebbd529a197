package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}

/** Metadata-plane filesystem helper over the Hadoop FileSystem API: the
  * same listings/deletes/existence probes work on local disk (file://),
  * HDFS, and the object-store connectors (s3a://, gs://, abfs://). The
  * reference's equivalents walk local disk (`delete_old_files.sh:15-20`,
  * `automate_file_delete.py:119-145`, `automate_table_extraction.py:52-57`)
  * — faithful locally, but a 100 TB deployment lists an object store, so
  * every metadata-plane call site (Maintenance, Reports, LogStore)
  * routes through here, the same API Pipeline's distributed existence
  * probes already use.
  *
  * All calls are driver-side, O(listing) metadata RPCs — bulk data never
  * moves through this class. For worker-side fan-out over many paths use
  * Pipeline's parallelized probe instead.
  *
  * It is also the one home of the staged-write-then-swap protocol that
  * stands in for a transaction over a parquet directory: every rewrite
  * (the stream folds, log and staging-table compaction, the delta
  * stores, the ANN index) goes through [[replace]], and every writer
  * that appends into such a directory calls [[recoverSwap]] first.
  */
object Fs {

  def exists(path: String, conf: Configuration): Boolean = {
    val p = new Path(path)
    p.getFileSystem(conf).exists(p)
  }

  /** Create `dir` and any missing parents (idempotent). Needed before
    * renaming INTO a brand-new directory: HDFS/S3A `rename` returns
    * false when the destination's parent does not exist, while the
    * local FS silently copy-creates it — a local-only test would never
    * see the failure.
    */
  def mkdirs(dir: String, conf: Configuration): Unit = {
    val p = new Path(dir)
    p.getFileSystem(conf).mkdirs(p)
    ()
  }

  /** Direct children of `dir`; empty if the directory doesn't exist. */
  def list(dir: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    // no exists-then-list: a reader racing swapInPlace (the rename
    // window) would pass exists() and then crash in listStatus — the
    // same TOCTOU readText's doc condemns. Missing dir = empty listing.
    try fs.listStatus(p).toIndexedSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  def listDirs(dir: String, conf: Configuration): Seq[FileStatus] =
    list(dir, conf).filter(_.isDirectory)

  /** The table directories under a warehouse `dir`: its subdirectories
    * minus hidden names (a leading `.` or `_`), so a swap's siblings
    * ([[oldDir]], [[stagingDir]]) and Spark's bookkeeping dirs are never
    * taken for tables.
    */
  def listTables(dir: String, conf: Configuration): Seq[FileStatus] =
    listDirs(dir, conf).filterNot(d => hidden(d.getPath.getName))

  /** Spark's hidden-path rule: names starting with `_` or `.` are not
    * data (`_SUCCESS`, `_temporary`, a swap's siblings).
    */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  def listFiles(dir: String, conf: Configuration): Seq[FileStatus] =
    list(dir, conf).filter(_.isFile)

  /** Delete a file (or, with `recursive`, a directory tree). False when
    * the path didn't exist.
    */
  def delete(path: String, conf: Configuration, recursive: Boolean = false): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // no exists() pre-check: FileSystem.delete already returns false
    // for a missing path, and the extra HEAD doubles metadata RPCs on
    // object stores while adding a TOCTOU window
    fs.delete(p, recursive)
  }

  /** Checked rename (move): `FileSystem.rename` signals failure — missing
    * source, existing destination, cross-filesystem move — by returning
    * false rather than throwing, which lets a half-done directory swap
    * pass silently. Callers that need move-or-die (the swap behind
    * [[replace]]) use this wrapper, which throws on false.
    */
  def rename(src: String, dst: String, conf: Configuration): Unit = {
    val s = new Path(src)
    val d = new Path(dst)
    if (!s.getFileSystem(conf).rename(s, d))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** Where a swap of `live` parks the previous content between its two
    * renames: `.<name>.old` beside `live`. The leading dot keeps every
    * sibling out of the names a table, a store or a delta can take (a
    * staging table named from an uploaded `*_old_*` file included) and
    * out of Spark's file listings.
    */
  private[graft] def oldDir(live: String): String = sibling(live, "old")

  /** Where [[replace]] writes the new content of `live`:
    * `.<name>.staging` beside it.
    */
  private[graft] def stagingDir(live: String): String = sibling(live, "staging")

  private def sibling(live: String, kind: String): String = {
    val path = live.stripSuffix("/")
    val cut = path.lastIndexOf('/') + 1
    s"${path.take(cut)}.${path.drop(cut)}.$kind"
  }

  /** The one monitor over every swap in this process: [[recoverSwap]]
    * and the renames of [[replace]] hold it, so a recovery in one thread
    * never runs inside the window between another thread's two renames
    * (it would restore [[oldDir]] into the gap, and the swap's next rename
    * would nest the new directory inside it), and two recoveries of one
    * directory never both act. The staged writes run outside it.
    * Cross-process concurrency is out of contract: one writing driver
    * per directory.
    */
  private val swapLock = new Object

  /** Resolve what a swap that died part-way left behind, before anyone
    * reads or writes `live`. [[swapInPlace]] moves `live` → `old`
    * ([[oldDir]]), then the new directory → `live`, then deletes `old`:
    *  - `live` missing, `old` present: the process died between the two
    *    renames and only `old` holds the data → restore it. Without
    *    this, the next writer sees "no state", writes its batch alone,
    *    and the swap after that deletes `old` as stale — all history
    *    lost without an error;
    *  - both present: the swap completed but `old` was not removed →
    *    delete it. `FileSystem.rename` into an existing directory
    *    silently NESTS the source as a child (and returns true), so a
    *    stale `old` would turn the next swap's checked rename into a
    *    silent nest.
    * A no-op when no `old` exists. Every writer that appends into a
    * directory [[replace]] rewrites calls this first.
    */
  def recoverSwap(live: String, conf: Configuration): Unit =
    swapLock.synchronized {
      val old = oldDir(live)
      if (exists(old, conf)) {
        if (exists(live, conf)) {
          if (!delete(old, conf, recursive = true))
            throw new java.io.IOException(
              s"swap of $live: could not clear stale $old")
        } else rename(old, live, conf)
      }
    }

  /** Whether `live` exists once [[recoverSwap]] has run: the existence
    * probe for a directory that [[replace]] rewrites.
    */
  def existsRecovered(live: String, conf: Configuration): Boolean = {
    recoverSwap(live, conf)
    exists(live, conf)
  }

  /** Crash-safe in-place directory replacement: [[recoverSwap]] first,
    * then move `live` → [[oldDir]] (checked), move `compacted` → `live`
    * (checked; on failure the old content is restored so the live path
    * never stays missing), then delete the old content (checked). A
    * crash between the two renames is repaired by the next
    * [[recoverSwap]] on the same path. All Hadoop FS, object-store
    * portable.
    */
  private[core] def swapInPlace(live: String, compacted: String,
                                conf: Configuration): Unit =
    swapLock.synchronized {
      val old = oldDir(live)
      recoverSwap(live, conf)
      rename(live, old, conf)
      try rename(compacted, live, conf)
      catch {
        case e: java.io.IOException =>
          rename(old, live, conf) // restore: live path never stays missing
          throw new java.io.IOException(
            s"swap of $live failed, original directory restored", e)
      }
      if (!delete(old, conf, recursive = true))
        throw new java.io.IOException(
          s"swap of $live completed but $old could not be removed " +
            "(next swap would treat it as stale)")
      ()
    }

  /** The one staged rewrite of a directory: [[recoverSwap]] on `live`,
    * delete [[stagingDir]] (a crashed rewrite's leftover would
    * otherwise ride this swap into `live`), `write` the new content into
    * it, then make it `live` ([[swapInPlace]], or a rename on the first
    * write). A reader never sees a partial rewrite;
    * `live` is briefly missing between the swap's two renames, and
    * [[existsRecovered]] waits that window out on the monitor. A `write`
    * that throws leaves `live` untouched. `write` may read `live` lazily: nothing replaces
    * it until `write` returns. Returns what `write` returns.
    * Single-writer per `live`.
    */
  def replace[A](live: String, conf: Configuration)(write: String => A): A = {
    recoverSwap(live, conf)
    val staging = stagingDir(live)
    delete(staging, conf, recursive = true)
    val out = write(staging)
    swapLock.synchronized {
      if (exists(live, conf)) swapInPlace(live, staging, conf)
      else rename(staging, live, conf)
    }
    out
  }

  /** Write a small text marker (overwrite). Underscore-prefixed names
    * (`_graft_batch_id`) are invisible to Spark's parquet reader — the
    * same convention as `_SUCCESS` — so a marker can live INSIDE a
    * parquet directory and travel through [[swapInPlace]] atomically
    * with the data it describes.
    */
  def writeText(path: String, content: String, conf: Configuration): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read a small text marker; None when absent. Open-and-catch rather
    * than exists-then-open: a concurrent [[swapInPlace]] can remove the
    * path between the two calls, and a reader racing a swap should see
    * "absent", not crash.
    */
  def readText(path: String, conf: Configuration): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    try {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  /** Broadcast the SESSION hadoop configuration for use inside tasks.
    * Executors must never fall back to `new Configuration()`: that drops
    * every `spark.hadoop.*` override — object-store credentials,
    * endpoints, fs impls — so distributed metadata loops (Pipeline's
    * existence probes, Maintenance.deleteFiles) would silently misreport
    * "file not found" on a real cluster while passing on local disk.
    */
  def broadcastConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))

  final case class DataFileStats(files: Long, bytes: Long)

  /** Count + bytes of the DATA files under `dir` (recursive), skipping
    * write markers and hidden bookkeeping (`_SUCCESS`, `_metadata`,
    * dot-files) — the fragmentation probe for compaction triggers,
    * where counting markers as "files" would inflate every healthy
    * single-append table toward the threshold. Driver-side metadata
    * RPCs, O(listing).
    */
  def dataFileStats(dir: String, conf: Configuration): DataFileStats =
    list(dir, conf).foldLeft(DataFileStats(0L, 0L)) { (acc, s) =>
      val name = s.getPath.getName
      // hidden/bookkeeping names gate DIRECTORIES too: a crashed
      // write's _temporary tree or a streaming sink's _spark_metadata
      // holds real-looking files that are NOT table data — counting
      // them would fire compaction triggers on healthy tables
      if (hidden(name)) acc
      else if (s.isDirectory) {
        val sub = dataFileStats(s.getPath.toString, conf)
        DataFileStats(acc.files + sub.files, acc.bytes + sub.bytes)
      } else DataFileStats(acc.files + 1, acc.bytes + s.getLen)
    }

  /** Files a rewrite of `bytes` should write at ≈`targetFileBytes`
    * each: the ceiling, never fewer than one. The compactions size
    * their rewrites and their triggers by it over [[dataFileStats]].
    */
  def targetFileCount(bytes: Long, targetFileBytes: Long): Long =
    math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
}

package graft.streaming

import graft.core.Fs
import graft.llm.{Ann, Ivf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained ANN index: a vector stream folds into a
  * CELL-PARTITIONED parquet store (IVF layout — the centroids are fit
  * once on a reference corpus and frozen; re-fit on release cadence,
  * like [[DriftStream]]'s baseline), and queries probe only their
  * `nprobe` nearest cells — at search time the probe side broadcasts
  * and Spark's dynamic partition pruning skips every non-probed
  * `cell=` directory, so a search reads O(corpus/k · nprobe) bytes no
  * matter how large the accumulated store grows.
  *
  * Ingest idempotency is BY CONSTRUCTION: each micro-batch lands as
  * its own `ingest=<queryId>_<batchId>` partition directory (staged
  * write + rename, crash-safe); an at-least-once re-delivery sees its
  * directory already present and no-ops — no marker file needed, the
  * directory IS the marker.
  *
  * UPDATE CONTRACT: the store is append-only per id — re-ingesting an
  * id with the SAME embedding is harmless (search collapses the copies
  * deterministically), but changing a vector requires [[forget]] of
  * the id BEFORE re-ingest. There is no in-place update: with two
  * different embeddings under one id the collapse picks a stable but
  * arbitrary one (greatest by array ordering — see
  * [[Ivf.topKAgainst]]), not the newest; ingest tags cannot order
  * across [[compact]] (compaction merges all tags into one), so
  * "newest" is unrecoverable once compacted.
  *
  * On a BATCH frame the fold is deterministic, and search over the
  * store equals [[Ivf.topK]] over the same corpus and index — the
  * q_stream_ann_index oracle replays the full k-means + probe + rerank
  * pipeline in DuckDB, and AnnIndexStreamSpec asserts the parity
  * directly.
  */
object AnnIndexStream {

  private def dataDir(storeDir: String): String = s"$storeDir/data"

  private def tagOf(queryId: String, batchId: Long): String = {
    val qid = if (queryId.isEmpty) "q" else queryId
    s"${qid}_$batchId"
  }

  /** Assign one batch of vectors to cells and append it to the store
    * as its own `ingest=` partition (staged, crash-safe, replay-idempotent).
    */
  def applyBatch(batch: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame, storeDir: String,
                 batchId: Long = -1L, queryId: String = ""): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    // direct (non-streaming) calls get a fresh counter tag — the fixed
    // "q_-1" tag would make every direct ingest after the first look
    // like a replay and silently no-op (the IncrDedupStream rule).
    // Single-writer, like the streaming checkpoint.
    val tag =
      if (batchId >= 0) tagOf(queryId, batchId)
      else s"direct_${Fs.listDirs(dataDir(storeDir), conf).length}"
    val dest = s"${dataDir(storeDir)}/ingest=$tag"
    if (Fs.exists(dest, conf)) return // re-delivered batch: directory IS the marker
    // one projection pass: (id, vec, cell) without joining the cells
    // back onto the batch (Ivf.withCells — broadcast centroid table)
    val assigned = Ivf.withCells(batch, idCol, vecCol, centroids)
    val staging = s"$storeDir/.staging_$tag"
    // cluster by cell before the dynamic-partition write: without it
    // every input partition opens one file PER CELL (tasks × cells tiny
    // files — measured as the 3.5s job of the refit fixtures); after it
    // the file count tracks the cell count (guide §6 output sizing) and
    // AQE sizes the shuffle
    assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging)
    // the first batch of a fresh store renames into a data/ dir that
    // does not exist yet — HDFS/S3A rename fails without the parent
    Fs.mkdirs(dataDir(storeDir), conf)
    Fs.rename(staging, dest, conf)
  }

  /** Search the accumulated store: per query the `nprobe` nearest
    * cells (round(sim,9) + cell tiebreak), exact-cosine re-rank inside
    * them (round(cos,4) + id tiebreak) — [[Ivf.topK]]'s exact rules,
    * with the store's ingest-time cell labels standing in for the
    * assignments frame. The probed frame broadcasts; its `cell` keys
    * dynamically prune the store's partition directories.
    */
  def search(spark: SparkSession, storeDir: String, centroids: DataFrame,
             queries: DataFrame, idCol: String, vecCol: String,
             k: Int, nprobe: Int = 4): DataFrame = {
    val store = spark.read
      .option("basePath", dataDir(storeDir))
      .parquet(dataDir(storeDir))
    // the store's ingest-time cell labels stand in for the assignments
    // frame; a vector re-ingested in a later batch appears once per
    // ingest and topKAgainst's pair-level dedup collapses it. The
    // probe/re-rank rules live in ONE place (Ivf.topKAgainst) — the
    // oracle requires this search ≡ Ivf.topK bit for bit.
    val corpus = store.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      Ann.l2norm(col(vecCol)).as("c_nrm"), col("cell"))
    Ivf.topKAgainst(corpus, queries, centroids, idCol, vecCol, k, nprobe)
  }

  /** [[search]] over a TWO-LEVEL quantizer ([[Ivf.fitTwoLevel]] /
    * [[refitTwoLevel]]): the query ranks k1 level-1 centroids, then
    * only the probed cells' leaves — O(√k) probe work against a store
    * whose leaf count grew with the corpus. Same store layout (leaf
    * `cell` partitions, DPP-pruned), same re-rank tail, shared through
    * [[Ivf.topKAgainst2]] so the faces cannot diverge.
    */
  def searchTwoLevel(spark: SparkSession, storeDir: String,
                     l1Centroids: DataFrame, leafCentroids: DataFrame,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, nprobe: Int = 4, nprobe1: Int = 2): DataFrame = {
    val store = spark.read
      .option("basePath", dataDir(storeDir))
      .parquet(dataDir(storeDir))
    val corpus = store.select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
      Ann.l2norm(col(vecCol)).as("c_nrm"), col("cell"))
    Ivf.topKAgainst2(corpus, queries, l1Centroids, leafCentroids,
      idCol, vecCol, k, nprobe, nprobe1)
  }

  /** Fold the accumulated `ingest=` deltas into ONE partition — the
    * small-files countermeasure: every micro-batch adds up to
    * |cells| tiny files, and a long-lived stream would otherwise make
    * each search open thousands of them per probed cell. Same
    * crash-safe swap as [[IncrDedupStream.compact]] (staging write →
    * [[Fs.swapInPlace]]); run it on maintenance cadence, single-writer
    * (the same ownership rule as the streaming checkpoint). The
    * compacted tag embeds the pre-compaction delta count so a replayed
    * post-compaction batch still gets a fresh directory name.
    */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = dataDir(storeDir)
    if (!Fs.exists(data, conf)) return
    val n = Fs.listDirs(data, conf).length
    val staging = stagingDir(data, conf)
    spark.read.option("basePath", data).parquet(data)
      .drop("ingest")
      .repartition(col("cell")) // one file family per cell, not per task×cell
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/ingest=compacted_$n")
    Fs.swapInPlace(data, staging, conf)
  }

  /** The one staging dir all maintenance ops share — DELETED before
    * each use: compact/refit/forget each write a differently-named
    * `ingest=` subdir, and `write.mode(overwrite)` clears only its own
    * subdir, so a leftover from a CRASHED op (e.g. a refit that died
    * before its swap) would otherwise ride the next op's swapInPlace
    * into the live store — resurrecting rows a later forget removed.
    */
  private def stagingDir(data: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val staging = s"$data.staging"
    Fs.delete(staging, conf, recursive = true)
    staging
  }

  /** Refit-on-cadence: the centroids are frozen at fit time (the
    * release-cadence posture), so a drifting vector stream slowly
    * degrades recall — probed cells stop matching where the data
    * actually lives. `refit` fits FRESH centroids over the accumulated
    * store ([[Ivf.fit]] — deterministic seeding + quantized-integer
    * means, so the result is identical to fitting the same corpus
    * directly) and rewrites the cell partitions in one crash-safe
    * [[Fs.swapInPlace]], compacting as a side effect. Returns the new
    * centroids frame (None if the store doesn't exist yet) — the
    * caller MUST search with these from now on; the old centroids
    * frame no longer matches the store's cell labels.
    *
    * Re-ingested duplicate ids collapse (deterministically, greatest
    * vector — the [[Ivf.topKAgainst]] rule) BEFORE the fit, so a
    * heavily-replayed id can't gravitationally drag centroids toward
    * itself. Single-writer, like [[compact]]; run on maintenance
    * cadence (recall drift is slow — hours/days, not batches). Size
    * `k` for the corpus (k ≈ n/128: cells of ~128 keep per-search work
    * constant as the store grows).
    */
  def refit(spark: SparkSession, storeDir: String, idCol: String,
            vecCol: String, k: Int = 16, iters: Int = 2): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = dataDir(storeDir)
    if (!Fs.exists(data, conf)) return None
    val store = spark.read.option("basePath", data).parquet(data)
    // cached: Ivf.fit makes ~4 driver-materializing passes (count,
    // seeding, per-iteration means) and the staging write joins it
    // again — without the cache each pass re-reads and re-aggregates
    // every parquet delta, turning a one-scan refit into six scans
    val corpus = store
      .groupBy(col(idCol))
      .agg(max(col(vecCol)).as(vecCol))
      .cache()
    val index = Ivf.fit(corpus, idCol, vecCol, k, iters)
    val n = Fs.listDirs(data, conf).length
    val staging = stagingDir(data, conf)
    // same one-projection shape as applyBatch (flat argmax ≡ the
    // index's own assignments frame — no join back onto the corpus)
    Ivf.withCells(corpus, idCol, vecCol, index.centroids)
      .repartition(col("cell")) // one file family per cell, not per task×cell
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/ingest=refit_$n")
    index.unpersist()
    corpus.unpersist()
    Fs.swapInPlace(data, staging, conf)
    Some(index.centroids)
  }

  /** [[refit]] through the TWO-LEVEL sample-trained quantizer
    * ([[Ivf.fitTwoLevel]]) — the refit that still works when the store
    * has grown enough that corpus-sized flat k would pay n·k in Lloyd
    * assign (the measured 900s wall at 200k vectors): training touches
    * a ≤ sampleCap hash-sample, the store pays only the two-level
    * assignment (≈ 2√k comparisons per vector) plus the partitioned
    * rewrite. Returns (l1Centroids, leafCentroids) to search with via
    * [[searchTwoLevel]]; the old centroids no longer match the new
    * cell labels. Same dedup-before-fit, staging-swap, and
    * single-writer rules as [[refit]].
    */
  def refitTwoLevel(spark: SparkSession, storeDir: String, idCol: String,
                    vecCol: String, targetCellSize: Int = 128,
                    iters: Int = 2, sampleCap: Int = 65536)
      : Option[(DataFrame, DataFrame)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = dataDir(storeDir)
    if (!Fs.exists(data, conf)) return None
    val store = spark.read.option("basePath", data).parquet(data)
    val corpus = store
      .groupBy(col(idCol))
      .agg(max(col(vecCol)).as(vecCol))
      .cache()
    val index = Ivf.fitTwoLevel(corpus, idCol, vecCol, targetCellSize,
      iters, sampleCap)
    val n = Fs.listDirs(data, conf).length
    val staging = stagingDir(data, conf)
    corpus.join(index.assignments, idCol)
      .select(col(idCol), col(vecCol), col("cell"))
      .repartition(col("cell")) // one file family per cell, not per task×cell
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/ingest=refit2_$n")
    index.unpersist()
    corpus.unpersist()
    Fs.swapInPlace(data, staging, conf)
    Some((index.l1Centroids, index.centroids))
  }

  /** Right-to-be-forgotten propagation: rewrite the store WITHOUT the
    * given ids (anti-join), in one crash-safe swap — a deletion
    * request must reach derived stores, not just the primary table,
    * and a vector index is exactly the derived store such sweeps
    * forget. Compacts as a side effect (the rewrite is one partition).
    * Returns the number of vector rows removed. Single-writer, like
    * [[compact]].
    */
  def forget(spark: SparkSession, storeDir: String, idCol: String,
             ids: DataFrame): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = dataDir(storeDir)
    if (!Fs.exists(data, conf)) return 0L
    val store = spark.read.option("basePath", data).parquet(data)
    // the removed count is a SEMI join (matches only) — cheaper than
    // counting the store before and after; and when nothing matches,
    // the whole rewrite is skipped
    val removed = store
      .join(ids.select(col(idCol)), Seq(idCol), "left_semi").count()
    if (removed == 0L) return 0L
    val n = Fs.listDirs(data, conf).length
    val staging = stagingDir(data, conf)
    store.drop("ingest")
      .join(ids.select(col(idCol)), Seq(idCol), "left_anti")
      .repartition(col("cell")) // one file family per cell, not per task×cell
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$staging/ingest=forgotten_$n")
    Fs.swapInPlace(data, staging, conf)
    removed
  }

  /** Wire a vector stream into the store (foreachBatch). */
  def run(items: DataFrame, idCol: String, vecCol: String,
          centroids: DataFrame, storeDir: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    items.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, idCol, vecCol, centroids, storeDir,
          batchId, ReplayGuard.streamingQueryId(batch))
      }
      .start()
}

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
  * directory IS the marker. The maintenance ops ([[compact]], [[refit]],
  * [[refitTwoLevel]], [[forget]]) rewrite `data/` through
  * [[Fs.replace]], and [[applyBatch]] runs [[Fs.recoverSwap]] before it
  * appends, so a rewrite that died mid-swap loses no batch.
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

  /** Assign one batch of vectors to cells and append it to the store
    * as its own `ingest=` partition (staged, crash-safe, replay-idempotent).
    */
  def applyBatch(batch: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame, storeDir: String,
                 batchId: Long = -1L, queryId: String = ""): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    // a maintenance op that died mid-swap left the store in
    // Fs.oldDir(data): restore it first, or the batch lands alone in a
    // fresh data/ and the next rewrite's recovery deletes it as stale
    Fs.recoverSwap(dataDir(storeDir), conf)
    // direct (non-streaming) calls get a fresh counter tag — the fixed
    // "q_-1" tag would make every direct ingest after the first look
    // like a replay and silently no-op (the IncrDedupStream rule).
    // Single-writer, like the streaming checkpoint.
    val tag =
      if (batchId >= 0) DeltaStore.tagOf(queryId, batchId)
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
    * each search open thousands of them per probed cell. Run it on
    * maintenance cadence, single-writer (the same ownership rule as the
    * streaming checkpoint).
    */
  def compact(spark: SparkSession, storeDir: String): Unit =
    liveStore(spark, storeDir).foreach { store =>
      rewrite(spark, storeDir, "compacted", store.drop("ingest"))
    }

  /** The store's rows, once [[Fs.existsRecovered]] has restored a
    * crashed swap; None when the store does not exist yet.
    */
  private def liveStore(spark: SparkSession,
                        storeDir: String): Option[DataFrame] = {
    val data = dataDir(storeDir)
    if (!Fs.existsRecovered(data, spark.sparkContext.hadoopConfiguration)) None
    else Some(spark.read.option("basePath", data).parquet(data))
  }

  /** Replace the store with ONE `ingest=<name>_<n>` partition of `rows`
    * through [[Fs.replace]] — the crash-safe swap behind compact, refit,
    * refitTwoLevel and forget, compacting as a side effect. `n` is the
    * pre-rewrite delta count, so a replayed post-rewrite batch still
    * gets a fresh directory name.
    */
  private def rewrite(spark: SparkSession, storeDir: String, name: String,
                      rows: DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = dataDir(storeDir)
    val n = Fs.listDirs(data, conf).length
    Fs.replace(data, conf) { staging =>
      rows.repartition(col("cell")) // one file family per cell, not per task×cell
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$staging/ingest=${name}_$n")
    }
  }

  /** Refit-on-cadence: the centroids are frozen at fit time (the
    * release-cadence posture), so a drifting vector stream slowly
    * degrades recall — probed cells stop matching where the data
    * actually lives. `refit` fits FRESH centroids over the accumulated
    * store ([[Ivf.fit]] — deterministic seeding + quantized-integer
    * means, so the result is identical to fitting the same corpus
    * directly) and rewrites the cell partitions in one crash-safe
    * [[Fs.replace]], compacting as a side effect. Returns the new
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
            vecCol: String, k: Int = 16, iters: Int = 2): Option[DataFrame] =
    liveStore(spark, storeDir).map { store =>
      // cached: Ivf.fit reads it twice (the count and the training-
      // sample collect) and the staging write once more — without the
      // cache each read re-reads and re-aggregates every parquet delta
      val corpus = store
        .groupBy(col(idCol))
        .agg(max(col(vecCol)).as(vecCol))
        .cache()
      val index = Ivf.fit(corpus, idCol, vecCol, k, iters)
      // same one-projection shape as applyBatch (flat argmax ≡ the
      // index's own assignments frame — no join back onto the corpus)
      rewrite(spark, storeDir, "refit",
        Ivf.withCells(corpus, idCol, vecCol, index.centroids))
      index.unpersist()
      corpus.unpersist()
      index.centroids
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
      : Option[(DataFrame, DataFrame)] =
    liveStore(spark, storeDir).map { store =>
      val corpus = store
        .groupBy(col(idCol))
        .agg(max(col(vecCol)).as(vecCol))
        .cache()
      val index = Ivf.fitTwoLevel(corpus, idCol, vecCol, targetCellSize,
        iters, sampleCap)
      rewrite(spark, storeDir, "refit2", corpus.join(index.assignments, idCol)
        .select(col(idCol), col(vecCol), col("cell")))
      index.unpersist()
      corpus.unpersist()
      (index.l1Centroids, index.centroids)
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
             ids: DataFrame): Long =
    liveStore(spark, storeDir).fold(0L) { store =>
      // the removed count is a SEMI join (matches only) — cheaper than
      // counting the store before and after; and when nothing matches,
      // the whole rewrite is skipped
      val removed = store
        .join(ids.select(col(idCol)), Seq(idCol), "left_semi").count()
      if (removed > 0L)
        rewrite(spark, storeDir, "forgotten", store.drop("ingest")
          .join(ids.select(col(idCol)), Seq(idCol), "left_anti"))
      removed
    }

  /** Wire a vector stream into the store (foreachBatch). */
  def run(items: DataFrame, idCol: String, vecCol: String,
          centroids: DataFrame, storeDir: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(items, checkpointDir, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, idCol, vecCol, centroids, storeDir, batchId, qid)
    }
}

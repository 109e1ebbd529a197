package graft.streaming

import graft.SparkSpec
import graft.llm.{Ivf, Sketch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** Kill-and-resume proof for the stateful streaming sinks: a query is
  * crashed BETWEEN a batch's side effect and its checkpoint commit (the
  * at-least-once window), restarted from the same checkpoint, and the
  * final state must equal the one-shot run —
  *  - SketchStream: cell-wise addition is NOT idempotent, so the replay
  *    must be caught by the (queryId, batchId) marker;
  *  - CdcApply: keyed latest-wins upsert IS idempotent, so the replay
  *    must converge by construction.
  * The engine really replays: the offset WAL records a batch before
  * foreachBatch runs, the commit log only after it returns, so the
  * injected throw leaves the batch pending for the restart.
  *
  * The second crash point is INSIDE the store swap, between its two
  * renames (`<state>` missing, `Fs.oldDir(<state>)` holding the prior
  * state): re-driving the batch must restore it before it folds, or the
  * history before the crash is lost without an error. The same holds
  * for the append-shaped stores, whose compactions swap: the next
  * delta must land in the restored store.
  */
class KillResumeSpec extends SparkSpec {
  import spark.implicits._

  private def writeJson(dir: java.io.File, name: String, rows: Seq[String]): Unit = {
    dir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dir, name).toPath, rows.mkString("\n"))
  }

  test("SketchStream: crash between fold and commit; resume skips the replayed batch") {
    val root = java.nio.file.Files.createTempDirectory("kill_cms").toFile
    val in = new java.io.File(root, "in")
    writeJson(in, "0.json", Seq("""{"k": "x"}""", """{"k": "y"}"""))
    writeJson(in, "1.json", Seq("""{"k": "x"}""", """{"k": "z"}"""))
    writeJson(in, "2.json", Seq("""{"k": "y"}"""))
    val grid = s"${root.getPath}/grid"
    val ckpt = s"${root.getPath}/ckpt"
    def stream = spark.readStream.schema("k string")
      .option("maxFilesPerTrigger", 1).json(in.getPath)

    // run 1: fold batch 1, then die before its checkpoint commit
    val qids = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q1 = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qid = Option(batch.sparkSession.sparkContext
          .getLocalProperty("sql.streaming.queryId")).getOrElse("")
        qids.add(qid)
        SketchStream.applyBatch(batch, "k", grid,
          batchId = batchId, queryId = qid)
        if (batchId == 1L) throw new RuntimeException("injected crash")
      }
      .start()
    intercept[StreamingQueryException] { q1.awaitTermination() }
    // the marker identity must be the real streaming queryId, not ""
    assert(qids.stream().allMatch(q => q.nonEmpty))
    assert(ReplayGuard.lastAppliedBatchId(grid,
      spark.sparkContext.hadoopConfiguration) === 1L)

    // run 2: same checkpoint — the engine replays batch 1 (the marker
    // must skip it; addition is not idempotent) and then folds batch 2
    val q2 = SketchStream.run(stream, "k", grid, ckpt)
    q2.awaitTermination()

    val streamed = spark.read.parquet(grid)
      .orderBy("seed", "bucket").collect().toSeq
    val oneShot = Sketch.cmsCounters(
        Seq("x", "y", "x", "z", "y").toDF("k"), "k")
      .orderBy("seed", "bucket").collect().toSeq
    assert(streamed === oneShot)
  }

  test("IncrDedupStream: crash between delta write and commit; resume converges") {
    val root = java.nio.file.Files.createTempDirectory("kill_incr").toFile
    val in = new java.io.File(root, "in")
    def text(tag: String) =
      (0 until 30).map(j => s"$tag${j % 9}").mkString(" ")
    writeJson(in, "0.json", Seq(
      s"""{"doc_id": 1, "text": "${text("a")}"}""",
      s"""{"doc_id": 2, "text": "${text("b")}"}"""))
    writeJson(in, "1.json", Seq(
      s"""{"doc_id": 10, "text": "${text("a")}"}""", // dup of accepted 1
      s"""{"doc_id": 11, "text": "${text("c")}"}"""))
    writeJson(in, "2.json", Seq(
      s"""{"doc_id": 20, "text": "${text("c")}"}""")) // dup of accepted 11
    val store = s"${root.getPath}/store"
    val ckpt = s"${root.getPath}/ckpt"
    def stream = spark.readStream.schema("doc_id long, text string")
      .option("maxFilesPerTrigger", 1).json(in.getPath)

    // run 1: fold batch 1 fully (verdicts + delta), die before commit
    val q1 = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IncrDedupStream.applyBatch(batch, "doc_id", "text", store,
          batchId = batchId, queryId = ReplayGuard.streamingQueryId(batch))
        if (batchId == 1L) throw new RuntimeException("injected crash")
      }
      .start()
    intercept[StreamingQueryException] { q1.awaitTermination() }

    // run 2: the engine replays batch 1 (recompute-and-overwrite must
    // not duplicate 11's signature) and then folds batch 2
    val q2 = IncrDedupStream.run(stream, "doc_id", "text", store, ckpt)
    q2.awaitTermination()

    val idx = spark.read.parquet(IncrDedupStream.indexPath(store))
    assert(idx.select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 11L), "accepted set wrong or duplicated after replay")
    val verdicts = spark.read
      .option("basePath", s"$store/verdicts").parquet(s"$store/verdicts/batch=*")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict"))
      .toMap
    assert(verdicts === Map(1L -> "kept", 2L -> "kept",
      10L -> "exact_dup_corpus", 11L -> "kept", 20L -> "exact_dup_corpus"))
  }

  test("CdcApply: crash mid-stream; resume converges to the one-shot snapshot") {
    val root = java.nio.file.Files.createTempDirectory("kill_cdc").toFile
    val in = new java.io.File(root, "in")
    writeJson(in, "0.json", Seq(
      """{"key": "a", "ts": "2024-01-01T00:00:00", "id": 1, "deleted": false, "v": 1}""",
      """{"key": "b", "ts": "2024-01-01T00:00:01", "id": 2, "deleted": false, "v": 2}"""))
    writeJson(in, "1.json", Seq(
      """{"key": "b", "ts": "2024-01-02T00:00:00", "id": 3, "deleted": false, "v": 20}""",
      """{"key": "c", "ts": "2024-01-02T00:00:01", "id": 4, "deleted": false, "v": 3}"""))
    writeJson(in, "2.json", Seq(
      """{"key": "a", "ts": "2024-01-03T00:00:00", "id": 5, "deleted": true, "v": 0}"""))
    val base = s"${root.getPath}/base"
    val ckpt = s"${root.getPath}/ckpt"
    val schema = "key string, ts timestamp, id long, deleted boolean, v long"
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in.getPath)

    val q1 = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        CdcApply.applyBatch(batch.sparkSession, batch, base,
          Seq("key"), "ts", "id", "deleted")
        if (batchId == 1L) throw new RuntimeException("injected crash")
      }
      .start()
    intercept[StreamingQueryException] { q1.awaitTermination() }

    val q2 = CdcApply.run(stream, base, ckpt, Seq("key"), "ts", "id", "deleted")
    q2.awaitTermination()

    // one-shot truth: a deleted, b overwritten by its later change, c kept
    val got = spark.read.parquet(base).select("key", "v")
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("b", 20L), ("c", 3L)))
  }

  /** The mid-swap crash: a rewrite of `<state>` staged its new content
    * (at `Fs.stagingDir(<state>)<sub>`), renamed `<state>` to
    * `Fs.oldDir(<state>)` and died before promoting the staging
    * directory — `<state>` is missing and the old sibling holds
    * everything before the crash.
    */
  private def crashMidSwap(state: String, staged: DataFrame,
                           sub: String = ""): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    staged.write.mode("overwrite").parquet(graft.core.Fs.stagingDir(state) + sub)
    graft.core.Fs.rename(state, graft.core.Fs.oldDir(state), conf)
  }

  test("SketchStream: crash between the swap's renames; re-driving the " +
      "batch and folding the next equals the one-shot grid") {
    val root = java.nio.file.Files.createTempDirectory("midswap_cms").toFile
    val grid = s"${root.getPath}/grid"
    val b1 = Seq("x", "y").toDF("k")
    val b2 = Seq("x", "z").toDF("k")
    val b3 = Seq("y", "y").toDF("k")
    SketchStream.applyBatch(b1, "k", grid, batchId = 0L, queryId = "q")
    crashMidSwap(grid, Sketch.cmsMerge(spark.read.parquet(grid),
      Sketch.cmsCounters(b2, "k")))
    SketchStream.applyBatch(b2, "k", grid, batchId = 1L, queryId = "q")
    SketchStream.applyBatch(b3, "k", grid, batchId = 2L, queryId = "q")
    val streamed = spark.read.parquet(grid)
      .orderBy("seed", "bucket").collect().toSeq
    val oneShot = Sketch.cmsCounters(b1.union(b2).union(b3), "k")
      .orderBy("seed", "bucket").collect().toSeq
    assert(streamed === oneShot)
  }

  test("CdcApply: crash between the swap's renames; re-driving the batch " +
      "and applying the next equals the one-shot snapshot") {
    val root = java.nio.file.Files.createTempDirectory("midswap_cdc").toFile
    val base = s"${root.getPath}/base"
    def changes(rows: (String, String, Long, Boolean, Long)*): DataFrame =
      rows.toDF("key", "ts", "id", "deleted", "v")
        .withColumn("ts", col("ts").cast("timestamp"))
    val b1 = changes(("a", "2024-01-01 00:00:00", 1L, false, 1L),
      ("b", "2024-01-01 00:00:01", 2L, false, 2L))
    val b2 = changes(("b", "2024-01-02 00:00:00", 3L, false, 20L),
      ("c", "2024-01-02 00:00:01", 4L, false, 3L))
    val b3 = changes(("c", "2024-01-03 00:00:00", 5L, true, 0L),
      ("d", "2024-01-03 00:00:01", 6L, false, 4L))
    def apply(b: DataFrame): Unit =
      CdcApply.applyBatch(spark, b, base, Seq("key"), "ts", "id", "deleted")
    apply(b1)
    crashMidSwap(base, spark.read.parquet(base))
    apply(b2)
    apply(b3)
    val got = spark.read.parquet(base).select("key", "v")
      .orderBy("key").as[(String, Long)].collect().toSeq
    // a comes from b1 alone: lost if the re-driven b2 ignored the old sibling
    assert(got === Seq(("a", 1L), ("b", 20L), ("d", 4L)))
  }

  private def packLayout(store: String): Seq[(String, Long, Long, Long)] =
    spark.read.option("basePath", s"$store/layout")
      .parquet(s"$store/layout/batch=*")
      .select(col("source"), col("doc_id"), col("n_tokens"), col("start_off"))
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq

  private def packTotals(store: String): Seq[(String, Long)] =
    spark.read.parquet(PackStream.totalsPath(store))
      .groupBy("src").agg(sum("bsum")).as[(String, Long)]
      .collect().sortBy(_._1).toSeq

  private def packBatch(i: Long): DataFrame =
    Seq((i, "a", 3L), (100L + i, "b", 2L)).toDF("doc_id", "source", "n")

  /** The compaction PackStream.compact would stage over `store`. */
  private def packCompacted(store: String): DataFrame =
    spark.read.parquet(PackStream.totalsPath(store))
      .groupBy("src").agg(sum("bsum").as("bsum"))

  test("PackStream: crash between a compaction's renames; the next two " +
      "batches extend the restored totals like the one-shot run") {
    val root = java.nio.file.Files.createTempDirectory("midswap_pack").toFile
    val (store, oneShot) = (s"${root.getPath}/store", s"${root.getPath}/one")
    def apply(at: String, b: DataFrame, i: Long): Unit =
      PackStream.applyBatch(b, "doc_id", "n", "source", at, 4L, i, "q")
    apply(store, packBatch(0L), 0L)
    apply(store, packBatch(1L), 1L)
    crashMidSwap(PackStream.totalsPath(store), packCompacted(store),
      "/ingest_batch=compacted_2")
    apply(store, packBatch(2L), 2L)
    apply(store, packBatch(3L), 3L)
    apply(oneShot, (0L to 3L).map(packBatch).reduce(_ union _), 0L)
    assert(packLayout(store) === packLayout(oneShot))
    assert(packTotals(store) === Seq(("a", 12L), ("b", 8L)))
    assert(packTotals(store) === packTotals(oneShot))
  }

  test("PackStream: a direct call after a crashed compaction swap mints a " +
      "fresh tag instead of overwriting the committed direct_0") {
    val root = java.nio.file.Files.createTempDirectory("midswap_direct").toFile
    val store = s"${root.getPath}/store"
    val tot = PackStream.totalsPath(store)
    def direct(i: Long): Unit = PackStream.applyBatch(packBatch(i),
      "doc_id", "n", "source", store, 4L)
    direct(0L)
    direct(1L)
    crashMidSwap(tot, packCompacted(store), "/ingest_batch=compacted_2")
    direct(2L)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(graft.core.Fs.listDirs(tot, conf).map(_.getPath.getName).sorted ===
      Seq("ingest_batch=direct_0", "ingest_batch=direct_1",
        "ingest_batch=direct_2"))
    assert(spark.read.parquet(s"$tot/ingest_batch=direct_0")
      .as[(String, Long)].collect().sortBy(_._1).toSeq ===
      Seq(("a", 3L), ("b", 2L)))
    assert(packTotals(store) === Seq(("a", 9L), ("b", 6L)))
  }

  test("AnnIndexStream: crash between a compaction's renames; the next " +
      "batch lands in the restored store and search equals the crash-free " +
      "store's") {
    val root = java.nio.file.Files.createTempDirectory("midswap_ann").toFile
    val (store, clean) = (s"${root.getPath}/store", s"${root.getPath}/clean")
    val corpus = (1L to 24L).map { i =>
      val base = if (i % 2 == 0) Seq(10f, 0f, 0f, 1f) else Seq(0f, 10f, 1f, 0f)
      (i, base.zipWithIndex.map { case (v, d) => v + ((i * 7 + d) % 5) * 0.1f })
    }.toDF("vec_id", "embedding")
    val index = Ivf.fit(corpus, "vec_id", "embedding", k = 2, iters = 1)
    def part(lo: Long, hi: Long) =
      corpus.filter(col("vec_id") >= lo && col("vec_id") <= hi)
    def ingest(at: String, b: DataFrame, i: Long): Unit =
      AnnIndexStream.applyBatch(b, "vec_id", "embedding", index.centroids,
        at, batchId = i, queryId = "q")
    Seq(store, clean).foreach { at =>
      ingest(at, part(1L, 8L), 0L)
      ingest(at, part(9L, 16L), 1L)
    }
    val data = s"$store/data"
    crashMidSwap(data, spark.read.parquet(data).drop("ingest"),
      "/ingest=compacted_2")
    Seq(store, clean).foreach(ingest(_, part(17L, 24L), 2L))
    def top(at: String): Seq[(Long, Long, Int)] =
      AnnIndexStream.search(spark, at, index.centroids,
          corpus.filter(col("vec_id") <= 4L), "vec_id", "embedding",
          k = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
        .sorted.toSeq
    assert(top(clean).size === 12)
    assert(top(store) === top(clean))
  }
}

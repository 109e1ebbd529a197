package graft.streaming

import graft.SparkSpec
import graft.llm.Ivf
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class AnnIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  // 40 deterministic 4-d vectors in two clear clusters
  private def vecs: Seq[(Long, Seq[Float])] = (1L to 40L).map { i =>
    val base = if (i % 2 == 0) Seq(10f, 0f, 0f, 1f) else Seq(0f, 10f, 1f, 0f)
    (i, base.zipWithIndex.map { case (v, d) => v + ((i * 7 + d) % 5) * 0.1f })
  }

  test("streamed store search equals Ivf.topK over the same corpus and index") {
    val dir = java.nio.file.Files.createTempDirectory("ann_stream").toFile
    val corpus = vecs.toDF("vec_id", "embedding")
    val index = Ivf.fit(corpus, "vec_id", "embedding", k = 4, iters = 2)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val items = input.toDF().toDF("vec_id", "embedding")
    def drain(): Unit = {
      val q = AnnIndexStream.run(items, "vec_id", "embedding",
        index.centroids, s"${dir.getPath}/store", s"${dir.getPath}/ckpt")
      q.awaitTermination()
    }
    input.addData(vecs.take(15): _*); drain()
    input.addData(vecs.slice(15, 30): _*); drain()
    input.addData(vecs.drop(30): _*); drain()

    val queries = corpus.filter(col("vec_id") <= 5)
    val got = AnnIndexStream.search(spark, s"${dir.getPath}/store",
        index.centroids, queries, "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val want = Ivf.topK(corpus, queries, index, "vec_id", "embedding",
        k = 3, nprobe = 2)
      .orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got === want)
    assert(got.nonEmpty && got.groupBy(_._1).size === 5)
  }

  test("a re-delivered batch no-ops: the ingest directory is the marker") {
    val dir = java.nio.file.Files.createTempDirectory("ann_replay").toFile
    val corpus = vecs.toDF("vec_id", "embedding")
    val index = Ivf.fit(corpus, "vec_id", "embedding", k = 2, iters = 1)
    val store = s"${dir.getPath}/store"
    AnnIndexStream.applyBatch(corpus.limit(10), "vec_id", "embedding",
      index.centroids, store, batchId = 0L, queryId = "q1")
    val n1 = spark.read.option("basePath", s"$store/data")
      .parquet(s"$store/data").count()
    AnnIndexStream.applyBatch(corpus.limit(10), "vec_id", "embedding",
      index.centroids, store, batchId = 0L, queryId = "q1") // replay
    val n2 = spark.read.option("basePath", s"$store/data")
      .parquet(s"$store/data").count()
    assert(n1 === 10L && n2 === 10L)
  }

  test("direct (non-streaming) applyBatch calls each land — no fixed-tag collision") {
    val dir = java.nio.file.Files.createTempDirectory("ann_direct").toFile
    val corpus = vecs.toDF("vec_id", "embedding")
    val index = Ivf.fit(corpus, "vec_id", "embedding", k = 2, iters = 1)
    val store = s"${dir.getPath}/store"
    // regression: the default batchId=-1 used to produce one shared
    // "q_-1" tag, so the second call no-op'd as a phantom replay
    AnnIndexStream.applyBatch(corpus.filter(col("vec_id") <= 10),
      "vec_id", "embedding", index.centroids, store)
    AnnIndexStream.applyBatch(corpus.filter(col("vec_id") > 10),
      "vec_id", "embedding", index.centroids, store)
    val n = spark.read.option("basePath", s"$store/data")
      .parquet(s"$store/data").count()
    assert(n === 40L)
  }

  test("compact folds all ingest deltas into one partition; search is unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("ann_compact").toFile
    val corpus = vecs.toDF("vec_id", "embedding")
    val index = Ivf.fit(corpus, "vec_id", "embedding", k = 4, iters = 2)
    val store = s"${dir.getPath}/store"
    (0 to 3).foreach { b =>
      AnnIndexStream.applyBatch(corpus.filter(col("vec_id") % 4 === b),
        "vec_id", "embedding", index.centroids, store,
        batchId = b.toLong, queryId = "q1")
    }
    val queries = corpus.filter(col("vec_id") <= 3)
    def results() = AnnIndexStream.search(spark, store, index.centroids,
        queries, "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = results()
    AnnIndexStream.compact(spark, store)
    assert(results() === before)
    val ingests = new java.io.File(s"$store/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest="))
    assert(ingests.map(_.getName).toSeq === Seq("ingest=compacted_4"))
  }

  test("forget removes exactly the requested ids from the store, crash-safely") {
    val dir = java.nio.file.Files.createTempDirectory("ann_forget").toFile
    val corpus = vecs.toDF("vec_id", "embedding")
    val index = Ivf.fit(corpus, "vec_id", "embedding", k = 4, iters = 2)
    val store = s"${dir.getPath}/store"
    AnnIndexStream.applyBatch(corpus, "vec_id", "embedding",
      index.centroids, store, batchId = 0L, queryId = "q1")
    val removed = AnnIndexStream.forget(spark, store, "vec_id",
      Seq(1L, 2L, 3L, 999L).toDF("vec_id")) // 999 not in store
    assert(removed === 3L)
    val left = spark.read.option("basePath", s"$store/data")
      .parquet(s"$store/data").select("vec_id").as[Long].collect().toSet
    assert(left.size === 37 && Seq(1L, 2L, 3L).forall(!left.contains(_)))
    // forgetting from an empty/missing store is a 0 no-op
    assert(AnnIndexStream.forget(spark, s"${dir.getPath}/nope", "vec_id",
      Seq(1L).toDF("vec_id")) === 0L)
  }

  test("a crashed op's leftover staging dir cannot ride a later op's swap") {
    // regression: compact/refit/forget share one staging dir; overwrite
    // mode clears only the writer's OWN ingest= subdir, so a subdir
    // left by a crashed refit used to be swapped live by the next
    // forget — resurrecting rows the forget was removing
    val dir = java.nio.file.Files.createTempDirectory("ann_staging").toFile
    val corpus = vecs.toDF("vec_id", "embedding")
    val index = Ivf.fit(corpus, "vec_id", "embedding", k = 4, iters = 2)
    val store = s"${dir.getPath}/store"
    AnnIndexStream.applyBatch(corpus, "vec_id", "embedding",
      index.centroids, store, batchId = 0L, queryId = "q1")
    // simulate the crash: a pre-swap refit snapshot stranded in staging
    corpus.join(
        Ivf.assignCells(corpus, "vec_id", "embedding", index.centroids), "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"${graft.core.Fs.stagingDir(s"$store/data")}/ingest=refit_99")
    val removed = AnnIndexStream.forget(spark, store, "vec_id",
      Seq(5L, 6L).toDF("vec_id"))
    assert(removed === 2L)
    val left = spark.read.option("basePath", s"$store/data")
      .parquet(s"$store/data").select("vec_id").as[Long].collect().toSet
    assert(left.size === 38 && !left.contains(5L) && !left.contains(6L),
      s"stale staging resurrected rows: ${left.size} ids, 5 in store = ${left.contains(5L)}")
  }

  test("refit: post-refit search equals Ivf.topK with freshly fit centroids") {
    val dir = java.nio.file.Files.createTempDirectory("ann_refit").toFile
    val corpus = vecs.toDF("vec_id", "embedding")
    // stale quantizer: fit over a skewed subset (odd ids = one cluster
    // dominant) — the drifted-centroids starting point refit must heal
    val stale = Ivf.fit(corpus.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4, iters = 2)
    val store = s"${dir.getPath}/store"
    (0 to 2).foreach { b =>
      AnnIndexStream.applyBatch(corpus.filter(col("vec_id") % 3 === b),
        "vec_id", "embedding", stale.centroids, store,
        batchId = b.toLong, queryId = "q1")
    }
    // replay one batch under a new tag: duplicate ids in the store must
    // collapse before the refit's k-means, not double-weight it
    AnnIndexStream.applyBatch(corpus.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", stale.centroids, store,
      batchId = 7L, queryId = "q1")

    val newCents = AnnIndexStream
      .refit(spark, store, "vec_id", "embedding", k = 4, iters = 2).get
    val fresh = Ivf.fit(corpus, "vec_id", "embedding", k = 4, iters = 2)
    def cents(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cell").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    assert(cents(newCents) === cents(fresh.centroids))

    val queries = corpus.filter(col("vec_id") <= 5)
    val got = AnnIndexStream.search(spark, store, newCents,
        queries, "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val want = Ivf.topK(corpus, queries, fresh, "vec_id", "embedding",
        k = 3, nprobe = 2)
      .orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got === want)

    // the rewrite compacted the 4 ingest deltas into one refit partition
    val ingests = new java.io.File(s"$store/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("ingest="))
    assert(ingests.map(_.getName).toSeq === Seq("ingest=refit_4"))
    // refitting a store that doesn't exist is a None no-op
    assert(AnnIndexStream.refit(spark, s"${dir.getPath}/nope",
      "vec_id", "embedding").isEmpty)
  }

  test("refitTwoLevel: post-refit searchTwoLevel equals Ivf.topK over " +
    "a freshly fit two-level index") {
    val dir = java.nio.file.Files.createTempDirectory("ann_refit2").toFile
    val corpus = vecs.toDF("vec_id", "embedding")
    val stale = Ivf.fit(corpus.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4, iters = 2)
    val store = s"${dir.getPath}/store"
    (0 to 2).foreach { b =>
      AnnIndexStream.applyBatch(corpus.filter(col("vec_id") % 3 === b),
        "vec_id", "embedding", stale.centroids, store,
        batchId = b.toLong, queryId = "q2")
    }
    // a replayed batch's duplicate copies must collapse pre-fit
    AnnIndexStream.applyBatch(corpus.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", stale.centroids, store,
      batchId = 7L, queryId = "q2")
    val (l1c, leafc) = AnnIndexStream.refitTwoLevel(spark, store,
      "vec_id", "embedding", targetCellSize = 4, iters = 2).get
    val fresh = Ivf.fitTwoLevel(corpus, "vec_id", "embedding",
      targetCellSize = 4, iters = 2)
    def leafs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cell").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    assert(leafs(leafc) === leafs(fresh.centroids))
    val queries = corpus.filter(col("vec_id") <= 5)
    val got = AnnIndexStream.searchTwoLevel(spark, store, l1c, leafc,
        queries, "vec_id", "embedding", k = 3, nprobe = 2, nprobe1 = 2)
      .orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val want = Ivf.topK(corpus, queries, fresh, "vec_id", "embedding",
        k = 3, nprobe = 2, nprobe1 = 2)
      .orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(got === want)
    fresh.unpersist(); stale.unpersist()
    assert(AnnIndexStream.refitTwoLevel(spark, s"${dir.getPath}/nope",
      "vec_id", "embedding").isEmpty)
  }

  test("search scan prunes to the probed cell partitions (DPP or static)") {
    val dir = java.nio.file.Files.createTempDirectory("ann_prune").toFile
    val corpus = vecs.toDF("vec_id", "embedding")
    val index = Ivf.fit(corpus, "vec_id", "embedding", k = 4, iters = 2)
    val store = s"${dir.getPath}/store"
    AnnIndexStream.applyBatch(corpus, "vec_id", "embedding",
      index.centroids, store, batchId = 0L, queryId = "q1")
    val plan = AnnIndexStream.search(spark, store, index.centroids,
        corpus.filter(col("vec_id") === 1), "vec_id", "embedding",
        k = 3, nprobe = 1)
      .queryExecution.executedPlan.toString
    // the store scan must carry dynamic partition-pruning on cell —
    // the probe side is broadcast, so DPP subqueries appear in the scan
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters"),
      plan)
  }
}

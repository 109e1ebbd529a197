package graft.streaming

import graft.SparkSpec
import graft.core.Fs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class PackStreamSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def layout(store: String): Array[(String, Long, Long, Long)] =
    spark.read.option("basePath", s"$store/layout")
      .parquet(s"$store/layout/batch=*")
      .select(col("source"), col("doc_id"), col("n_tokens"), col("start_off"))
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))

  test("stream extends per-source offsets across batches; final layout " +
      "equals the batch layout in arrival order") {
    val dir = java.nio.file.Files.createTempDirectory("pack_stream").toFile
    val store = s"${dir.getPath}/store"
    val ckpt = s"${dir.getPath}/ckpt"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "source", "n")

    def runOnce(): Unit = {
      val q = PackStream.run(docs, "doc_id", "n", "source", store, ckpt,
        capacity = 10L, trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    // batch 0: a:(1,4)(2,5); b:(3,7); plus a zero-length drop
    input.addData((1L, "a", 4L), (2L, "a", 5L), (3L, "b", 7L), (4L, "a", 0L))
    runOnce()
    // batch 1: a continues from 9; b from 7; new source c from 0
    input.addData((10L, "a", 6L), (11L, "b", 2L), (12L, "c", 3L))
    runOnce()
    assert(layout(store) === Array(
      ("a", 1L, 4L, 0L), ("a", 2L, 5L, 4L), ("a", 10L, 6L, 9L),
      ("b", 3L, 7L, 0L), ("b", 11L, 2L, 7L),
      ("c", 12L, 3L, 0L)))
    // chunk columns ride the accumulated offset: a's batch-1 doc spans
    // the 10-token boundary (9..15 → chunks 0-1)
    val spans = spark.read.option("basePath", s"$store/layout")
      .parquet(s"$store/layout/batch=*")
      .filter(col("doc_id") === 10L)
      .select("chunk_first", "chunk_last").as[(Long, Long)].collect()
    assert(spans === Array((0L, 1L)))
  }

  test("replaying a batch is idempotent: totals are not double-counted " +
      "and the layout is unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("pack_replay").toFile
    val store = s"${dir.getPath}/store"
    val b0 = Seq((1L, "a", 4L), (2L, "b", 6L)).toDF("doc_id", "source", "n")
    val b1 = Seq((10L, "a", 5L)).toDF("doc_id", "source", "n")
    PackStream.applyBatch(b0, "doc_id", "n", "source", store, 10L, 0L, "q")
    PackStream.applyBatch(b1, "doc_id", "n", "source", store, 10L, 1L, "q")
    val before = layout(store)
    // crash-replay of batch 1: same tag recomputes against the same
    // prior (its own delta is excluded), overwrites in place
    PackStream.applyBatch(b1, "doc_id", "n", "source", store, 10L, 1L, "q")
    assert(layout(store) === before)
    assert(before.collect { case ("a", 10L, _, off) => off }.head === 4L)
    // a THIRD batch still sees each source counted once
    PackStream.applyBatch(Seq((20L, "a", 1L)).toDF("doc_id", "source", "n"),
      "doc_id", "n", "source", store, 10L, 2L, "q")
    assert(layout(store).collect { case ("a", 20L, _, off) => off }.head === 9L)
  }

  test("a NULL source is one stream like any other: its totals accumulate " +
      "across batches (null-safe prior join)") {
    val dir = java.nio.file.Files.createTempDirectory("pack_null").toFile
    val store = s"${dir.getPath}/store"
    val nul: String = null
    PackStream.applyBatch(
      Seq((1L, nul, 4L), (2L, "a", 6L)).toDF("doc_id", "source", "n"),
      "doc_id", "n", "source", store, 10L, 0L, "q")
    PackStream.applyBatch(
      Seq((10L, nul, 5L)).toDF("doc_id", "source", "n"),
      "doc_id", "n", "source", store, 10L, 1L, "q")
    val nullRows = spark.read.option("basePath", s"$store/layout")
      .parquet(s"$store/layout/batch=*")
      .filter(col("source").isNull)
      .select("doc_id", "start_off").as[(Long, Long)].collect().sortBy(_._1)
    assert(nullRows === Array((1L, 0L), (10L, 4L)))
  }

  test("compact skips an uncommitted partial delta instead of baking it " +
      "into the compacted totals") {
    val dir = java.nio.file.Files.createTempDirectory("pack_partial").toFile
    val store = s"${dir.getPath}/store"
    PackStream.applyBatch(
      Seq((1L, "a", 3L)).toDF("doc_id", "source", "n"),
      "doc_id", "n", "source", store, 10L, 0L, "q")
    // simulate a crashed writer: a delta with data but no _SUCCESS
    val tot = PackStream.totalsPath(store)
    val partial = s"$tot/ingest_batch=q_99"
    Seq(("a", 1000L)).toDF("src", "bsum")
      .write.mode("overwrite").parquet(partial)
    Fs.delete(s"$partial/_SUCCESS", conf, recursive = false)
    PackStream.compact(spark, store)
    // the partial's 1000 must NOT be in the compacted totals
    PackStream.applyBatch(
      Seq((20L, "a", 1L)).toDF("doc_id", "source", "n"),
      "doc_id", "n", "source", store, 10L, 2L, "q")
    assert(layout(store).collect { case ("a", 20L, _, off) => off }.head === 3L)
  }

  test("compact folds totals deltas into one and preserves sums") {
    val dir = java.nio.file.Files.createTempDirectory("pack_compact").toFile
    val store = s"${dir.getPath}/store"
    (0 to 2).foreach { i =>
      PackStream.applyBatch(
        Seq((i.toLong, "a", 3L), (100L + i, "b", 2L))
          .toDF("doc_id", "source", "n"),
        "doc_id", "n", "source", store, 10L, i.toLong, "q")
    }
    PackStream.compact(spark, store)
    val tot = PackStream.totalsPath(store)
    assert(Fs.listDirs(tot, conf).length === 1)
    // next batch extends from the compacted totals: a has 9 so far
    PackStream.applyBatch(Seq((200L, "a", 1L)).toDF("doc_id", "source", "n"),
      "doc_id", "n", "source", store, 3L, 3L, "q")
    assert(layout(store).collect { case ("a", 200L, _, off) => off }.head === 9L)
  }

  test("a compaction that died before its swap leaves a staged delta that " +
      "the next compaction clears instead of promoting it twice") {
    val dir = java.nio.file.Files.createTempDirectory("pack_stale").toFile
    val (store, clean) = (s"${dir.getPath}/store", s"${dir.getPath}/clean")
    def apply(at: String, i: Long): Unit = PackStream.applyBatch(
      Seq((i, "a", 3L), (100L + i, "b", 2L)).toDF("doc_id", "source", "n"),
      "doc_id", "n", "source", at, 10L, i, "q")
    def totals(at: String): Seq[(String, Long)] =
      spark.read.parquet(PackStream.totalsPath(at))
        .groupBy("src").agg(sum("bsum")).as[(String, Long)]
        .collect().sortBy(_._1).toSeq
    Seq(store, clean).foreach { at => apply(at, 0L); apply(at, 1L) }
    // the crash: a compaction wrote its committed staged delta over the
    // two deltas, then died before its swap
    val tot = PackStream.totalsPath(store)
    spark.read.parquet(tot).groupBy("src").agg(sum("bsum").as("bsum"))
      .write.mode("overwrite").parquet(s"${graft.core.Fs.stagingDir(tot)}/ingest_batch=compacted_2")
    Seq(store, clean).foreach { at => apply(at, 2L); PackStream.compact(spark, at) }
    assert(totals(clean) === Seq(("a", 9L), ("b", 6L)))
    assert(totals(store) === totals(clean))
    Seq(store, clean).foreach(apply(_, 3L))
    assert(layout(store) === layout(clean))
  }
}

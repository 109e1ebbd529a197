package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class InfoStreamSpec extends SparkSpec {
  import spark.implicits._

  test("micro-batched token cells equal one-shot counting; both reads " +
    "serve from the same maintained state") {
    val dir = java.nio.file.Files.createTempDirectory("info_spec").toFile
    val (stA, stB) = (s"${dir.getPath}/stA", s"${dir.getPath}/stB")
    val docs = Seq(("s1", "a a b"), ("s2", "a c c"), ("s1", "b b"),
      ("s2", "c d")).toDF("s", "text")
    // two batches vs one shot: cells are a monoid — bit-identical state
    InfoStream.applyBatch(docs.limit(2), "s", "text", stA)
    InfoStream.applyBatch(docs.except(docs.limit(2)), "s", "text", stA)
    InfoStream.applyBatch(docs, "s", "text", stB)
    val a = spark.read.parquet(stA).orderBy("slice", "token").collect().toSeq
    val b = spark.read.parquet(stB).orderBy("slice", "token").collect().toSeq
    assert(a === b, "micro-batched fold must equal the one-shot cells")
    // the maintained reads equal the batch ops over the full corpus
    val jsdStream = InfoStream.readJsd(spark, stA).orderBy("slice")
      .collect().toSeq
    val jsdBatch = graft.llm.InfoStats.tokenJsdBySlice(docs, "s", "text")
      .orderBy("slice").collect().toSeq
    assert(jsdStream === jsdBatch)
    val divStream = InfoStream.readDiversity(spark, stA).orderBy("slice")
      .collect().toSeq
    val divBatch = graft.llm.InfoStats
      .tokenDiversityBySlice(docs, "s", "text")
      .orderBy("slice").collect().toSeq
    assert(divStream === divBatch)
  }

  test("a replayed (queryId, batchId) is skipped — counts are not " +
    "double-folded; a fresh queryId folds") {
    val dir = java.nio.file.Files.createTempDirectory("info_replay").toFile
    val st = s"${dir.getPath}/st"
    val docs = Seq(("s1", "x y"), ("s2", "y z")).toDF("s", "text")
    InfoStream.applyBatch(docs, "s", "text", st, batchId = 7L,
      queryId = "q1")
    val once = spark.read.parquet(st).agg(sum("cnt")).head().getLong(0)
    // the same (queryId, batchId) replays after a crash-restart: skip
    InfoStream.applyBatch(docs, "s", "text", st, batchId = 7L,
      queryId = "q1")
    assert(spark.read.parquet(st).agg(sum("cnt")).head()
      .getLong(0) === once)
    assert(ReplayGuard.lastAppliedBatchId(st,
      spark.sparkContext.hadoopConfiguration) === 7L)
    // a relocated checkpoint restarts ids under a new queryId: fold
    InfoStream.applyBatch(docs, "s", "text", st, batchId = 7L,
      queryId = "q2")
    assert(spark.read.parquet(st).agg(sum("cnt")).head()
      .getLong(0) === 2 * once)
  }

  test("run(): a live AvailableNow stream drains into the state") {
    val dir = java.nio.file.Files.createTempDirectory("info_run").toFile
    val st = s"${dir.getPath}/st"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val docs = input.toDF().toDF("s", "text")
    input.addData(("s1", "a a b"), ("s2", "c"))
    val q = InfoStream.run(docs, "s", "text", st, s"${dir.getPath}/ckpt")
    q.awaitTermination()
    val cells = spark.read.parquet(st)
      .orderBy("slice", "token")
      .as[(String, String, Long)].collect().toSeq
    assert(cells === Seq(("s1", "a", 2L), ("s1", "b", 1L),
      ("s2", "c", 1L)))
  }
}

package graft.streaming

import graft.SparkSpec
import graft.llm.Survival
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class SurvivalStreamSpec extends SparkSpec {
  import spark.implicits._

  // (duration, event): interleaved deaths and censors over 6 subjects
  private def subj = Seq((1L, 1L), (2L, 0L), (3L, 1L), (3L, 1L),
    (4L, 0L), (6L, 1L)).toDF("t", "e")

  test("micro-batched cells equal one-shot counting; the curve read " +
    "equals batch kaplanMeier") {
    val dir = java.nio.file.Files.createTempDirectory("surv_spec").toFile
    val (stA, stB) = (s"${dir.getPath}/stA", s"${dir.getPath}/stB")
    SurvivalStream.applyBatch(subj.filter($"t" <= 3L), "t", "e", stA)
    SurvivalStream.applyBatch(subj.filter($"t" > 3L), "t", "e", stA)
    SurvivalStream.applyBatch(subj, "t", "e", stB)
    val a = spark.read.parquet(stA).orderBy("t").collect().toSeq
    val b = spark.read.parquet(stB).orderBy("t").collect().toSeq
    assert(a === b, "micro-batched fold must equal the one-shot cells")
    val streamCurve = SurvivalStream.readCurve(spark, stA)
      .orderBy("t").collect().toSeq
    val batchCurve = Survival.kaplanMeier(subj, "t", "e")
      .orderBy("t").collect().toSeq
    assert(streamCurve === batchCurve)
  }

  test("a replayed (queryId, batchId) is skipped; the event contract " +
    "raises through the fold") {
    val dir = java.nio.file.Files.createTempDirectory("surv_replay").toFile
    val st = s"${dir.getPath}/st"
    SurvivalStream.applyBatch(subj, "t", "e", st, batchId = 3L,
      queryId = "q1")
    val once = spark.read.parquet(st)
      .agg(sum(col("d") + col("c"))).head().getLong(0)
    SurvivalStream.applyBatch(subj, "t", "e", st, batchId = 3L,
      queryId = "q1")
    assert(spark.read.parquet(st)
      .agg(sum(col("d") + col("c"))).head().getLong(0) === once)
    assert(ReplayGuard.lastAppliedBatchId(st,
      spark.sparkContext.hadoopConfiguration) === 3L)
    val ex = intercept[Exception] {
      SurvivalStream.applyBatch(Seq((1L, 7L)).toDF("t", "e"), "t", "e", st)
    }
    assert(ex.getMessage.contains("event flag"))
  }

  test("run(): a live AvailableNow stream drains into the state") {
    val dir = java.nio.file.Files.createTempDirectory("surv_run").toFile
    val st = s"${dir.getPath}/st"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val data = input.toDF().toDF("t", "e")
    input.addData((2L, 1L), (2L, 0L), (5L, 1L))
    val q = SurvivalStream.run(data, "t", "e", st, s"${dir.getPath}/ckpt")
    q.awaitTermination()
    val cells = spark.read.parquet(st).orderBy("t")
      .as[(Long, Long, Long)].collect().toSeq
    assert(cells === Seq((2L, 1L, 1L), (5L, 1L, 0L)))
  }
}

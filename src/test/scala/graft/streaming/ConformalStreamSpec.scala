package graft.streaming

import graft.SparkSpec
import graft.llm.RankStats
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class ConformalStreamSpec extends SparkSpec {
  import spark.implicits._

  private def cal = ((1L to 19L).map(v => ("a", v)) ++
    (1L to 40L).map(v => ("b", v * 2))).toDF("g", "v")

  test("micro-batched cells equal one-shot counting; the threshold " +
    "read equals batch conformalQuantile") {
    val dir = java.nio.file.Files.createTempDirectory("conf_spec").toFile
    val (stA, stB) = (s"${dir.getPath}/stA", s"${dir.getPath}/stB")
    ConformalStream.applyBatch(cal.filter($"v" <= 10L), "g", "v", stA)
    ConformalStream.applyBatch(cal.filter($"v" > 10L), "g", "v", stA)
    ConformalStream.applyBatch(cal, "g", "v", stB)
    val a = spark.read.parquet(stA).orderBy("_g", "_v").collect().toSeq
    val b = spark.read.parquet(stB).orderBy("_g", "_v").collect().toSeq
    assert(a === b, "micro-batched fold must equal the one-shot cells")
    val streamQ = ConformalStream.readQuantile(spark, stA)
      .orderBy("grp").collect().toSeq
    val batchQ = RankStats.conformalQuantile(cal, "v", "g")
      .orderBy("grp").collect().toSeq
    assert(streamQ === batchQ)
  }

  test("a replayed (queryId, batchId) is skipped; NULLs raise") {
    val dir = java.nio.file.Files.createTempDirectory("conf_replay").toFile
    val st = s"${dir.getPath}/st"
    ConformalStream.applyBatch(cal, "g", "v", st, batchId = 5L,
      queryId = "q1")
    val once = spark.read.parquet(st).agg(sum("_n")).head().getLong(0)
    ConformalStream.applyBatch(cal, "g", "v", st, batchId = 5L,
      queryId = "q1")
    assert(spark.read.parquet(st).agg(sum("_n")).head()
      .getLong(0) === once)
    assert(ReplayGuard.lastAppliedBatchId(st,
      spark.sparkContext.hadoopConfiguration) === 5L)
    val ex = intercept[Exception] {
      ConformalStream.applyBatch(
        Seq((Option.empty[String], 1L)).toDF("g", "v"), "g", "v", st)
    }
    assert(ex.getMessage.contains("NULL group"))
  }

  test("run(): a live AvailableNow stream drains into the state") {
    val dir = java.nio.file.Files.createTempDirectory("conf_run").toFile
    val st = s"${dir.getPath}/st"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val data = input.toDF().toDF("g", "v")
    input.addData(("a", 3L), ("a", 3L), ("a", 7L))
    val q = ConformalStream.run(data, "g", "v", st, s"${dir.getPath}/ckpt")
    q.awaitTermination()
    val cells = spark.read.parquet(st).orderBy("_g", "_v")
      .as[(String, Long, Long)].collect().toSeq
    assert(cells === Seq(("a", 3L, 2L), ("a", 7L, 1L)))
  }
}

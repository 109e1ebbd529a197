package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class BootStreamSpec extends SparkSpec {
  import spark.implicits._

  private def rows = (1L to 60L).map(i =>
    (i, if (i % 2 == 0) "a" else "b", i % 10 + 1L)).toDF("id", "g", "v")

  test("micro-batched replicate sums equal one-shot replicateStats; " +
    "the CI read equals the batch meanCI") {
    val dir = java.nio.file.Files.createTempDirectory("boot_spec").toFile
    val (stA, stB) = (s"${dir.getPath}/stA", s"${dir.getPath}/stB")
    val (b1, b2) = (rows.filter(col("id") <= 30L), rows.filter(col("id") > 30L))
    BootStream.applyBatch(b1, "id", "v", b = 20, stA, groupCols = Seq("g"))
    BootStream.applyBatch(b2, "id", "v", b = 20, stA, groupCols = Seq("g"))
    BootStream.applyBatch(rows, "id", "v", b = 20, stB, groupCols = Seq("g"))
    val a = spark.read.parquet(stA).orderBy("g", "rep").collect().toSeq
    val o = spark.read.parquet(stB).orderBy("g", "rep").collect().toSeq
    assert(a === o, "micro-batched fold must equal the one-shot sums")
    val streamCI = BootStream.readMeanCI(spark, stA, "v", Seq("g"))
      .orderBy("g").collect().toSeq
    val batchCI = graft.llm.Bootstrap.meanCI(rows, "id", "v", b = 20,
      groupCols = Seq("g")).orderBy("g").collect().toSeq
    assert(streamCI === batchCI)
  }

  test("a replayed (queryId, batchId) is skipped; a fresh queryId folds") {
    val dir = java.nio.file.Files.createTempDirectory("boot_replay").toFile
    val st = s"${dir.getPath}/st"
    BootStream.applyBatch(rows, "id", "v", b = 8, st, batchId = 3L,
      queryId = "q1")
    val once = spark.read.parquet(st).agg(sum("n_eff")).head().getLong(0)
    BootStream.applyBatch(rows, "id", "v", b = 8, st, batchId = 3L,
      queryId = "q1")
    assert(spark.read.parquet(st).agg(sum("n_eff")).head()
      .getLong(0) === once)
    assert(ReplayGuard.lastAppliedBatchId(st,
      spark.sparkContext.hadoopConfiguration) === 3L)
    BootStream.applyBatch(rows, "id", "v", b = 8, st, batchId = 3L,
      queryId = "q2")
    assert(spark.read.parquet(st).agg(sum("n_eff")).head()
      .getLong(0) === 2 * once)
  }

  test("run(): a live AvailableNow stream drains into the state") {
    val dir = java.nio.file.Files.createTempDirectory("boot_run").toFile
    val st = s"${dir.getPath}/st"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val data = input.toDF().toDF("id", "v")
    input.addData((1L, 5L), (2L, 5L), (3L, 5L))
    val q = BootStream.run(data, "id", "v", b = 6, st,
      s"${dir.getPath}/ckpt")
    q.awaitTermination()
    // constant values: every defined replicate mean is exactly 5
    val ci = BootStream.readMeanCI(spark, st, "v").collect().head
    assert(ci.getAs[Double]("point") == 5.0 &&
      ci.getAs[Double]("ci_lo") == 5.0 && ci.getAs[Double]("ci_hi") == 5.0)
  }
}

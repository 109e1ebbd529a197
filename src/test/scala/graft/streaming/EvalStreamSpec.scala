package graft.streaming

import graft.SparkSpec
import graft.llm.Evals
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class EvalStreamSpec extends SparkSpec {
  import spark.implicits._

  test("multi-batch calibration state is bit-identical to the one-shot " +
      "cells; readBins finishes the diagram") {
    val dir = java.nio.file.Files.createTempDirectory("eval_spec").toFile
    val state = s"${dir.getPath}/calib"
    val ckpt = s"${dir.getPath}/ckpt"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Int, Int)]
    val scored = input.toDF().toDF("c", "y")

    def runOnce(): Unit =
      EvalStream.run(scored, "c", "y", state, ckpt).awaitTermination()
    input.addData((50, 0), (50, 1))
    runOnce()
    input.addData((1000, 1), (940, 1))
    runOnce()
    input.addData((60, 0))
    runOnce()

    val all = Seq((50, 0), (50, 1), (1000, 1), (940, 1), (60, 0))
      .toDF("c", "y")
    val streamed = spark.read.parquet(state)
      .orderBy("bin").collect().toSeq
    val oneShot = Evals.calibrationCells(all, "c", "y")
      .orderBy("bin").collect().toSeq
    assert(streamed === oneShot)
    val bins = EvalStream.readBins(spark, state).orderBy("bin").collect()
    assert(bins.map(_.getAs[Long]("bin")).toSeq === Seq(0L, 9L))
    assert(bins(0).getAs[Long]("n") === 3L)
    // one-shot finisher agrees too (same cells, same algebra)
    val direct = Evals.calibrationBins(all, "c", "y")
      .orderBy("bin").collect()
    assert(bins.toSeq === direct.toSeq)
  }

  test("a replayed foreachBatch id is skipped; a direct fold still lands") {
    val dir = java.nio.file.Files.createTempDirectory("eval_replay").toFile
    val state = s"${dir.getPath}/calib"
    EvalStream.applyBatch(Seq((100, 1)).toDF("c", "y"), "c", "y", state,
      batchId = 0L, queryId = "q")
    // at-least-once replay (crash between swap and checkpoint commit):
    // cell addition is not idempotent, the marker must skip it
    EvalStream.applyBatch(Seq((100, 1)).toDF("c", "y"), "c", "y", state,
      batchId = 0L, queryId = "q")
    // a direct (batchId = -1) fold is unconditional and must not
    // disturb the marker
    EvalStream.applyBatch(Seq((950, 0)).toDF("c", "y"), "c", "y", state)
    assert(ReplayGuard.lastAppliedBatchId(state,
      spark.sparkContext.hadoopConfiguration) === 0L)
    val cells = spark.read.parquet(state).orderBy("bin")
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n"),
        r.getAs[Long]("conf_sum_milli"), r.getAs[Long]("n_pos"))).toSeq
    assert(cells === Seq((1L, 1L, 100L, 1L), (9L, 1L, 950L, 0L)))
  }
}

package graft.streaming

import graft.SparkSpec
import graft.llm.Sketch
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class SketchStreamSpec extends SparkSpec {
  import spark.implicits._

  test("multi-batch stream grid is bit-identical to the one-shot batch grid") {
    val dir = java.nio.file.Files.createTempDirectory("cms_spec").toFile
    val grid = s"${dir.getPath}/grid"
    val ckpt = s"${dir.getPath}/ckpt"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val items = input.toDF().toDF("k")

    def runOnce(): Unit = {
      val q = SketchStream.run(items, "k", grid, ckpt,
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    input.addData("x", "y", "x", "z")
    runOnce()
    input.addData("y", "y", "w")
    runOnce()
    input.addData("x")
    runOnce()

    val streamed = spark.read.parquet(grid)
      .orderBy("seed", "bucket").collect().toSeq
    val oneShot = Sketch.cmsCounters(
        Seq("x", "y", "x", "z", "y", "y", "w", "x").toDF("k"), "k")
      .orderBy("seed", "bucket").collect().toSeq
    assert(streamed === oneShot)

    // and the estimates over the maintained grid are the true counts
    val est = Sketch.cmsEstimate(spark.read.parquet(grid),
        Seq("x", "y", "z", "w", "absent").toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("x" -> 3L, "y" -> 3L, "z" -> 1L, "w" -> 1L,
      "absent" -> 0L))
  }

  test("a replayed foreachBatch id is skipped, not double-counted") {
    val dir = java.nio.file.Files.createTempDirectory("cms_replay").toFile
    val grid = s"${dir.getPath}/grid"
    SketchStream.applyBatch(Seq("a", "b").toDF("k"), "k", grid, batchId = 0L)
    // at-least-once replay of the same batch (crash between swap and
    // checkpoint commit): must be a no-op, addition is not idempotent
    SketchStream.applyBatch(Seq("a", "b").toDF("k"), "k", grid, batchId = 0L)
    SketchStream.applyBatch(Seq("a").toDF("k"), "k", grid, batchId = 1L)
    assert(ReplayGuard.lastAppliedBatchId(grid,
      spark.sparkContext.hadoopConfiguration) === 1L)
    val est = Sketch.cmsEstimate(spark.read.parquet(grid),
        Seq("a", "b").toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("a" -> 2L, "b" -> 1L))
  }

  test("checkpoint reset (new queryId) folds restarted batchIds instead of skipping") {
    val dir = java.nio.file.Files.createTempDirectory("cms_qid").toFile
    val grid = s"${dir.getPath}/grid"
    // query q1 folds batches 0..2
    (0 to 2).foreach { i =>
      SketchStream.applyBatch(Seq("a").toDF("k"), "k", grid,
        batchId = i.toLong, queryId = "q1")
    }
    // ops deletes/relocates the checkpoint but keeps the grid: a NEW
    // query starts over at batchId 0. Skipping on the bare id would
    // silently drop these batches — the queryId key must let them fold.
    SketchStream.applyBatch(Seq("a", "b").toDF("k"), "k", grid,
      batchId = 0L, queryId = "q2")
    val est = Sketch.cmsEstimate(spark.read.parquet(grid),
        Seq("a", "b").toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("a" -> 4L, "b" -> 1L))
    // and the marker is re-keyed: a replay of q2's batch 0 IS skipped
    SketchStream.applyBatch(Seq("a", "b").toDF("k"), "k", grid,
      batchId = 0L, queryId = "q2")
    val est2 = Sketch.cmsEstimate(spark.read.parquet(grid),
        Seq("a", "b").toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est2 === est)
  }

  test("a direct fold (batchId = -1) preserves the replay marker through the swap") {
    val dir = java.nio.file.Files.createTempDirectory("cms_direct").toFile
    val grid = s"${dir.getPath}/grid"
    val conf = spark.sparkContext.hadoopConfiguration
    SketchStream.applyBatch(Seq("a").toDF("k"), "k", grid, batchId = 3L)
    // interleaved direct/batch fold must not erase the recorded id...
    SketchStream.applyBatch(Seq("b").toDF("k"), "k", grid)
    assert(ReplayGuard.lastAppliedBatchId(grid, conf) === 3L)
    // ...so an at-least-once replay of batch 3 is still a no-op
    SketchStream.applyBatch(Seq("a").toDF("k"), "k", grid, batchId = 3L)
    val est = Sketch.cmsEstimate(spark.read.parquet(grid),
        Seq("a", "b").toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("a" -> 1L, "b" -> 1L))
  }

  test("applyBatch on a missing grid bootstraps; staging never lingers") {
    val dir = java.nio.file.Files.createTempDirectory("cms_boot").toFile
    val grid = s"${dir.getPath}/grid"
    SketchStream.applyBatch(Seq("a", "b").toDF("k"), "k", grid)
    SketchStream.applyBatch(Seq("a").toDF("k"), "k", grid)
    assert(!new java.io.File(graft.core.Fs.stagingDir(grid)).exists())
    val est = Sketch.cmsEstimate(spark.read.parquet(grid),
        Seq("a", "b").toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("a" -> 2L, "b" -> 1L))
  }
}

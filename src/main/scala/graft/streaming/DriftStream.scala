package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuously-maintained distribution-drift monitor: a FROZEN
  * baseline histogram (taken from the trusted reference corpus) plus a
  * CURRENT histogram folded from the stream — the PSI between them is
  * the alert signal that the live data's length/score distribution has
  * walked away from what the model was trained on.
  *
  * State is the [[graft.reports.Profile.psiDrift]] binning made
  * streamable: the baseline fixes (mn, width, nBins) once, so each
  * micro-batch's bin counts are a pure map-side projection that folds
  * into the current grid by ADDITION — a commutative monoid, so any
  * batching is bit-identical to one-shot counting, and
  * [[ReplayGuard.fold]] gives the same at-least-once safety as
  * [[SketchStream]]. The PSI read recomputes
  * from the two tiny grids (nBins rows each) on demand.
  */
object DriftStream {

  /** Freeze the baseline: (bin, cnt) for `nBins` equal-width bins over
    * the reference frame's min..max (exact integer width, clamped top
    * bin — the psiDrift rule), written with the binning parameters
    * encoded as bins -1 (mn), -2 (width) and -3 (nBins) so the stream
    * needs no side channel — readers recover the grid geometry from the
    * baseline itself and can never mis-clamp with a mismatched nBins.
    */
  def writeBaseline(ref: DataFrame, valueCol: String, path: String,
                    nBins: Int = 10): Unit = {
    require(nBins >= 2, s"nBins must be >= 2: $nBins")
    val spark = ref.sparkSession
    val b = ref.agg(min(col(valueCol)).cast("long").as("mn"),
      max(col(valueCol)).cast("long").as("mx")).collect()(0)
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val w = math.max(1L, (mx - mn + nBins) / nBins)
    val counts = binned(ref, valueCol, mn, w, nBins)
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    import spark.implicits._
    counts
      .unionByName(Seq((-1L, mn), (-2L, w), (-3L, nBins.toLong)).toDF("bin", "cnt"))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def binned(df: DataFrame, valueCol: String, mn: Long, w: Long,
                     nBins: Int): DataFrame =
    // integer div, clamped BOTH ways: live data may fall outside the
    // frozen baseline range (that IS drift) — it lands in the edge bins
    df.select(least(
      greatest(expr(s"(CAST($valueCol AS LONG) - ${mn}L) div ${w}L"), lit(0L)),
      lit(nBins - 1L)).as("bin"))

  /** (mn, width, nBins) recovered from the baseline's negative-bin
    * marker rows — the single source of truth for the grid geometry.
    * A baseline without the -3 nBins marker is REJECTED loudly: the
    * pre-marker format can't prove its bin count (empty bins are absent
    * from the counts, so max(bin)+1 under-counts), and silently
    * assuming a default would mis-clamp every batch into the wrong
    * grid — the exact skew the marker exists to prevent. Re-write the
    * baseline with the current writeBaseline to migrate.
    */
  private def bounds(spark: SparkSession, baselinePath: String): (Long, Long, Int) = {
    val m = spark.read.parquet(baselinePath)
      .filter(col("bin") < 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(m.contains(-3L),
      s"baseline at $baselinePath predates the nBins marker (-3 row); " +
        "re-write it with writeBaseline before streaming against it")
    (m(-1L), m(-2L), m(-3L).toInt)
  }

  /** Fold one batch's bin counts into the current grid (addition —
    * monoid) through [[ReplayGuard.fold]].
    * The grid geometry (mn, width, nBins) comes from the baseline file,
    * never from the caller — a mismatched nBins cannot skew the clamp.
    */
  def applyBatch(batch: DataFrame, valueCol: String, baselinePath: String,
                 currentPath: String,
                 batchId: Long = -1L, queryId: String = ""): Unit =
    ReplayGuard.fold(batch.sparkSession, currentPath, batchId, queryId) { prior =>
      val (mn, w, nBins) = bounds(batch.sparkSession, baselinePath)
      val g = binned(batch, valueCol, mn, w, nBins)
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
      prior.fold(g)(_.unionByName(g)
        .groupBy("bin").agg(sum(col("cnt")).as("cnt")))
    }

  /** The current drift reading: PSI of the maintained grid vs the
    * baseline (psiDrift's add-one smoothing and round-6 contract),
    * plus both row counts. One row.
    */
  /** Zero-filled (bin, _cb, _cg) grid over all nBins bins from the two
    * persisted count frames, plus the recovered nBins — the shared
    * reader behind [[psi]] and [[ks]] (one place to own the marker-row
    * filter and fill rules, and ONE bounds() metadata pass per call).
    */
  private def grids(spark: SparkSession, baselinePath: String,
                    currentPath: String): (DataFrame, Int) = {
    val nBins = bounds(spark, baselinePath)._3
    val base = spark.read.parquet(baselinePath).filter(col("bin") >= 0)
      .select(col("bin"), col("cnt").as("_cb"))
    val cur = spark.read.parquet(currentPath)
      .select(col("bin"), col("cnt").as("_cg"))
    import spark.implicits._
    val grid = (0L until nBins.toLong).toDF("bin")
      .join(base, Seq("bin"), "left").na.fill(0L, Seq("_cb"))
      .join(cur, Seq("bin"), "left").na.fill(0L, Seq("_cg"))
    (grid, nBins)
  }

  def psi(spark: SparkSession, baselinePath: String, currentPath: String): DataFrame = {
    val (grid, nBins) = grids(spark, baselinePath, currentPath)
    val totals = grid.agg(sum("_cb").as("_nb"), sum("_cg").as("_ng"))
    grid.crossJoin(broadcast(totals))
      .withColumn("_p", (col("_cb") + 1).cast("double") / (col("_nb") + nBins))
      .withColumn("_q", (col("_cg") + 1).cast("double") / (col("_ng") + nBins))
      .agg(max(col("_nb")).as("n_baseline"), max(col("_ng")).as("n_current"),
        round(sum((col("_q") - col("_p")) * log(col("_q") / col("_p"))), 6)
          .as("psi"))
  }

  /** The binned two-sample Kolmogorov–Smirnov reading over the SAME
    * maintained grids: max cumulative-count deviation between the
    * baseline and current histograms, exact in n_base·n_cur integer
    * units (`d_num`; `d` = d_num/(n_base·n_cur), `d_bin` = smallest bin
    * attaining it). The binned D lower-bounds the exact-value
    * [[graft.llm.RankStats.ksTest]] D — what a stream can maintain in
    * O(nBins) state — and reacts to shape changes PSI's add-one
    * smoothing dampens on sparse bins. All windows run over the
    * nBins-row grid; NULL `d`/`d_bin` when either side is empty.
    */
  def ks(spark: SparkSession, baselinePath: String,
         currentPath: String): DataFrame = {
    val (grid, _) = grids(spark, baselinePath, currentPath)
    val totals = grid.agg(sum("_cb").as("_nb"), sum("_cg").as("_ng"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.crossJoin(broadcast(totals))
      .withColumn("_dev",
        abs(sum("_cb").over(w) * col("_ng") - sum("_cg").over(w) * col("_nb")))
      // deterministic argmax on the tiny grid: max dev, then min bin
      .agg(max(col("_nb")).as("n_baseline"), max(col("_ng")).as("n_current"),
        max(struct(col("_dev").as("dev"), (-col("bin")).as("negbin")))
          .as("_m"))
      .select(col("n_baseline"), col("n_current"),
        col("_m.dev").as("d_num"),
        when(col("n_baseline") * col("n_current") > 0, -col("_m.negbin"))
          .as("d_bin"),
        when(col("n_baseline") * col("n_current") > 0,
          round(col("_m.dev").cast("double") /
            (col("n_baseline").cast("double") *
              col("n_current").cast("double")), 6)).as("d"))
  }

  /** Wire a value stream into the maintained drift grid (foreachBatch). */
  def run(items: DataFrame, valueCol: String, baselinePath: String,
          currentPath: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ReplayGuard.drain(items, checkpointDir, trigger) { (batch, batchId, qid) =>
      applyBatch(batch, valueCol, baselinePath, currentPath, batchId, qid)
    }
}

package graft.llm

import graft.core.Checked
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic Poisson bootstrap: confidence intervals for corpus
  * metrics (means, rates, slice differences) without collecting data to
  * the driver and without a random-number generator — the uncertainty
  * half of the eval toolkit next to [[Preference.wilsonBound]]
  * (reference scope is relational ingestion; its reports —
  * `reports_check.sql` — publish point counts with no error bars, so
  * interval estimation is beyond-reference surface).
  *
  * Why Poisson: a classical bootstrap resamples n rows WITH replacement
  * — a global operation no partitioned engine can do directly. The
  * Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
  * Massive Data Streams", Google 2012) replaces the multinomial
  * resample with an independent Poisson(1) weight per (row, replicate):
  * each row's weight depends only on the row id and the replicate
  * index, so the resample is a pure per-row projection — embarrassingly
  * parallel, growth-stable, and replayable by any engine with md5 (the
  * [[Sampling.hashBucket]] stance).
  *
  * Determinism: the weight is the Poisson(1) inverse CDF evaluated on
  * the row's 16-bit md5 bucket for that replicate — integer thresholds
  * compared against an integer bucket, no float RNG anywhere. The
  * 16-bit quantization truncates the Poisson tail at P ≈ 1.5e-5 (the
  * bucket resolution); irrelevant to interval width, and the price of
  * an oracle that can replay every weight exactly.
  *
  * Scale shapes: [[replicateStats]] explodes each row into `b`
  * replicate rows, but the explode feeds straight into a map-side
  * partial aggregate in the SAME stage — what crosses the wire is
  * b × partitions partial rows, never b × corpus. The replicate frame
  * (groups × b rows) is tiny by construction, so the CI ranking window
  * over it is bounded. Sums ride decimal(38,0) on exact long inputs
  * (quantize doubles to integer units at the call site — the RankStats
  * long-value contract), divided ONCE into the closed-form double.
  */
object Bootstrap {

  /** Ascending, distinct 16-bit thresholds of the Poisson(1) CDF:
    * weight k iff bucket ∈ [t(k-1), t(k)); buckets ≥ last threshold get
    * the maximum weight. Computed once from the pmf recurrence
    * p(k) = p(k-1)/k, floored onto the bucket grid.
    */
  val poissonThresholds: Seq[Long] = {
    var p = math.exp(-1.0)
    var c = p
    val out = scala.collection.mutable.ArrayBuffer(math.floor(c * 65536.0).toLong)
    var k = 1
    while (k <= 12) {
      p /= k
      c += p
      out += math.floor(c * 65536.0).toLong
      k += 1
    }
    out.distinct.toSeq
  }

  /** 16-bit bucket of (id, replicate) — [[Sampling.hashBucket]] over
    * the composite key, so each replicate draws independent weights.
    */
  def replicateBucket(id: Column, rep: Column): Column =
    Sampling.hashBucket(concat(id.cast("string"), lit("_"), rep.cast("string")))

  /** Poisson(1) weight for a 16-bit bucket: the number of thresholds
    * at or below it (an integer CASE chain — codegen'd, no UDF).
    */
  def poissonWeight(bucket: Column): Column = {
    val ts = poissonThresholds
    ts.zipWithIndex.foldLeft(when(bucket < lit(ts.head), lit(0L))) {
      case (acc, (t, k)) =>
        if (k == 0) acc else acc.when(bucket < lit(t), lit(k.toLong))
    }.otherwise(lit(ts.size.toLong))
  }

  /** The same weight as a SQL CASE chain over a bucket expression —
    * the DuckDB oracle face, generated from the SAME threshold list so
    * the two engines cannot drift.
    */
  def poissonWeightSql(bucketExpr: String): String = {
    val ts = poissonThresholds
    val whens = ts.zipWithIndex
      .map { case (t, k) => s"WHEN $bucketExpr < $t THEN $k" }
      .mkString(" ")
    s"(CASE $whens ELSE ${ts.size} END)"
  }

  /** Per-replicate weighted sums: one row per (groupCols..., rep) with
    * `n_eff` (Σ weight — the replicate's resample size) and `wsum_<v>`
    * (Σ weight·value, decimal(38,0)-exact) for every value column.
    * Values must be non-NULL longs (quantize at the call site).
    *
    * This is the ONE corpus pass every bootstrap statistic shares;
    * the mean/ratio/diff faces below are arithmetic over its tiny
    * (groups × b)-row output.
    */
  def replicateStats(df: DataFrame, idCol: String, valueCols: Seq[String],
                     b: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(b >= 2 && b <= 10000, s"replicates must be in [2, 10000], got $b")
    require(valueCols.nonEmpty, "need at least one value column")
    val reps = broadcast(
      df.sparkSession.range(b.toLong).select(col("id").as("rep")))
    // the explode multiplies whatever parallelism the INPUT gives: a
    // single-file table would run the whole b× resample (and its md5
    // per pair) on one task — measured 20.8s vs ~1s at sf0.1. Probe
    // width through inputFiles (a logical-plan walk): `.rdd` under AQE
    // would materialize getFinalPhysicalPlan and EXECUTE the caller's
    // upstream pipeline just to read a partition count (r12 review
    // finding). Few-file scans (and file-less local relations)
    // repartition; wide inputs — the 100 TB case — pass untouched.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val src =
      if (df.inputFiles.length < par) df.repartition(par) else df
    val keyed = src
      .select((groupCols :+ idCol).map(col) ++
        valueCols.map(v =>
          Checked.long(col(v), "replicateStats", s"value $v").as(v)): _*)
      .crossJoin(reps)
      // r14: fused native weight kernel — same md5/bucket/threshold
      // math as poissonWeight(replicateBucket(...)) (BootstrapSpec pins
      // parity), minus the hex-string + conv + CASE-chain per pair
      .withColumn("_w", graft.functions.PoissonWeightMd5.weight(
        concat(col(idCol).cast("string"), lit("_"), col("rep").cast("string")),
        poissonThresholds))
    keyed
      .groupBy((groupCols :+ "rep").map(col): _*)
      .agg(sum(col("_w")).as("n_eff"),
        valueCols.map(v =>
          sum((col("_w") * col(v)).cast("decimal(38,0)")).as(s"wsum_$v")): _*)
  }

  /** Percentile CI over a replicate frame: per group, rank the `b`
    * replicate statistics (deterministic `rep` tiebreak) and read the
    * ⌈α/2·b⌉-th and ⌈(1−α/2)·b⌉-th order statistics — the index rule
    * stated explicitly so an oracle selects the SAME rows instead of
    * trusting a quantile builtin's interpolation mode. α is given in
    * PERMILLE and the indices computed in integer arithmetic
    * (⌈p·b/2000⌉ = (p·b + 1999) div 2000): a float index
    * (`ceil(0.975·b)`) is a cross-engine trap — 1.0 − 0.025 and the
    * literal 0.975 can differ by one ULP and flip the ceil.
    * `point` is the MEDIAN replicate (the ⌈b/2⌉-th order statistic),
    * not the mean of replicates: an order statistic SELECTS one double
    * both engines computed identically from exact integer sums, where
    * a mean of b doubles would depend on float summation order (the
    * closed-form-exactness house rule).
    * The input is groups × b rows, so the ranking window is bounded.
    */
  def percentileCI(reps: DataFrame, statCol: String,
                   groupCols: Seq[String] = Nil,
                   alphaPermille: Int = 50): DataFrame = {
    require(alphaPermille > 0 && alphaPermille < 1000,
      s"alphaPermille must be in (0, 1000), got $alphaPermille")
    // ⌈p·b/2000⌉ via truncating division: p·b + 1999 ≤ 2e7 under the
    // replicate cap, double-exact, and a rational with denominator
    // 2000 is never within a ULP of the next integer
    def ceilIdx(permille: Long): Column =
      floor((lit(permille) * col("_b") + lit(1999L)) / lit(2000L))
        .cast("long")
    val w =
      if (groupCols.isEmpty) Window.orderBy(col(statCol), col("rep"))
      else Window.partitionBy(groupCols.map(col): _*)
        .orderBy(col(statCol), col("rep"))
    val cw =
      if (groupCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(groupCols.map(col): _*)
    val ranked = reps
      .withColumn("_rn", row_number().over(w))
      .withColumn("_b", count(lit(1)).over(cw))
      .withColumn("_lo_idx", ceilIdx(alphaPermille.toLong))
      .withColumn("_mid_idx", ceilIdx(1000L))
      .withColumn("_hi_idx", ceilIdx(2000L - alphaPermille.toLong))
    ranked
      .groupBy(groupCols.map(col): _*)
      .agg(
        max(col("_b")).as("n_rep"),
        round(max(when(col("_rn") === col("_mid_idx"), col(statCol))), 6)
          .as("point"),
        round(max(when(col("_rn") === col("_lo_idx"), col(statCol))), 6)
          .as("ci_lo"),
        round(max(when(col("_rn") === col("_hi_idx"), col(statCol))), 6)
          .as("ci_hi"))
  }

  /** Bootstrap CI for a (possibly grouped) MEAN of a long-valued
    * column: replicate means = Σw·v / Σw, then [[percentileCI]].
    */
  def meanCI(df: DataFrame, idCol: String, valueCol: String, b: Int,
             groupCols: Seq[String] = Nil,
             alphaPermille: Int = 50): DataFrame = {
    // a replicate that resamples a group to zero rows has no mean —
    // excluded, same stance as ratioCI (practically unreachable past
    // ~30 rows per group: P = e^(−n))
    val reps = replicateStats(df, idCol, Seq(valueCol), b, groupCols)
      .filter(col("n_eff") > 0L)
      .withColumn("_stat",
        col(s"wsum_$valueCol").cast("double") / col("n_eff").cast("double"))
    percentileCI(reps, "_stat", groupCols, alphaPermille)
  }

  /** Bootstrap CI for a RATIO of two weighted sums (a rate: numerator
    * events over denominator exposure), per group. A replicate whose
    * resampled denominator is zero contributes no ratio (NULL sorts
    * first in the rank; excluded instead via filter so indices stay
    * honest — the CI is over replicates with a defined statistic).
    */
  def ratioCI(df: DataFrame, idCol: String, numCol: String, denCol: String,
              b: Int, groupCols: Seq[String] = Nil,
              alphaPermille: Int = 50): DataFrame = {
    val reps = replicateStats(df, idCol, Seq(numCol, denCol), b, groupCols)
      .filter(col(s"wsum_$denCol") > lit(0))
      .withColumn("_stat",
        col(s"wsum_$numCol").cast("double") / col(s"wsum_$denCol").cast("double"))
    percentileCI(reps, "_stat", groupCols, alphaPermille)
  }

  /** Bootstrap CI for the DIFFERENCE of two slice means (slice `a`
    * minus slice `b`): both slices share the replicate index, weights
    * stay independent because ids differ. Replicates where either
    * slice resamples to zero rows are excluded (no defined diff).
    * Answers "is this source's docs longer than that one's, beyond
    * noise?" — the question a point difference can't.
    */
  def diffMeansCI(df: DataFrame, idCol: String, valueCol: String,
                  sliceCol: String, a: String, bSlice: String, b: Int,
                  alphaPermille: Int = 50): DataFrame = {
    val reps = replicateStats(
      df.filter(col(sliceCol).isin(a, bSlice)),
      idCol, Seq(valueCol), b, Seq(sliceCol))
    val ra = reps.filter(col(sliceCol) === a)
      .select(col("rep"), col("n_eff").as("_na"),
        col(s"wsum_$valueCol").as("_wa"))
    val rb = reps.filter(col(sliceCol) === bSlice)
      .select(col("rep"), col("n_eff").as("_nb"),
        col(s"wsum_$valueCol").as("_wb"))
    val joined = ra.join(rb, Seq("rep"))
      .filter(col("_na") > 0L && col("_nb") > 0L)
      .withColumn("_stat",
        col("_wa").cast("double") / col("_na").cast("double") -
          col("_wb").cast("double") / col("_nb").cast("double"))
    percentileCI(joined, "_stat", Nil, alphaPermille)
  }
}

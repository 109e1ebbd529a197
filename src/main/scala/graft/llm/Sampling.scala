package graft.llm

import graft.core.Checked
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling / splitting — the construction ops a
  * training-data pipeline runs after cleaning and dedup.
  *
  * Everything here is CONSISTENT-HASH based, never `rand()`: the member
  * set for a given corpus is a pure function of the id, so retries and
  * speculative tasks agree, incremental re-runs keep prior assignments
  * (a doc never migrates from test to train when new docs arrive), and
  * every split/sample is reproducible by any engine with md5 — which is
  * what makes these ops oracle-checkable.
  *
  * Scale shapes: [[hashSplit]] is a pure projection and [[sampleFraction]]
  * a pure filter — no shuffle, no sort, no state; they compose with
  * partition pruning and run at scan speed on any corpus size.
  * [[stratifiedSample]] needs a per-class top-k (one hash shuffle on the
  * class key + per-class sorted scan) — meant for small-k eval-set
  * construction; for per-class fractions at corpus scale, filter with
  * [[sampleFraction]]-style thresholds instead (no shuffle at all).
  */
object Sampling {

  /** 16-bit hash bucket in [0, 65536): the first 4 md5 hex digits of the
    * id — the same portable stride hash as Ivf seeding and blockedPairs.
    */
  def hashBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long")

  /** Threshold for a cumulative fraction, as an exact integer both
    * engines agree on. */
  def bucketThreshold(cumFraction: Double): Long =
    math.min(65536L, math.floor(cumFraction * 65536.0).toLong)

  /** Deterministic train/val/test (or any n-way) split: label each row
    * by which cumulative-weight bucket range its hash falls in. Weights
    * are normalized; expected sizes track the weights to ±2⁻¹⁶.
    */
  /** The split label of an id as a PURE EXPRESSION — because the
    * assignment is a function of the id's hash alone, the label
    * attaches to any frame carrying the id (a pairs frame, a log)
    * without joining back to the corpus.
    */
  def splitLabel(id: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "positive weights")
    val total = splits.map(_._2).sum
    val cums = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    val bounds = splits.map(_._1).zip(cums.map(bucketThreshold))
    val b = hashBucket(id)
    bounds.init.foldLeft(Option.empty[Column]) {
      case (acc, (name, t)) =>
        Some(acc.fold(when(b < t, name))(_.when(b < t, name)))
    }.fold(lit(bounds.last._1))(_.otherwise(bounds.last._1))
  }

  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)]): DataFrame =
    df.withColumn("split", splitLabel(col(idCol), splits))

  /** Split-composition audit: does [[hashSplit]] preserve the label
    * mix? One row per (split, label) with the in-split share, the
    * corpus-wide label share, and their absolute deviation — the
    * sanity gate a training/eval split publishes before anyone trusts
    * per-split metrics (a skewed split invalidates train-vs-test
    * comparisons before a single model runs). All three marginals ride
    * windows over the (splits × labels)-sized CELL frame — separate
    * aggregations would each re-scan the corpus (the
    * proportionalAllocate lesson); shares are single divisions of
    * exact counts, round(6). NULL labels raise.
    */
  def splitBalance(df: DataFrame, idCol: String, labelCol: String,
                   splits: Seq[(String, Double)]): DataFrame = {
    val cell = df
      .select(splitLabel(col(idCol), splits).as("split"),
        Checked.label(col(labelCol), "splitBalance",
          s"label in $labelCol").as("label"))
      .groupBy("split", "label").agg(count(lit(1)).as("n"))
    val wS = Window.partitionBy("split")
    val wL = Window.partitionBy("label")
    val wAll = Window.partitionBy()
    cell
      .withColumn("_sn", sum(col("n")).over(wS))
      .withColumn("_ln", sum(col("n")).over(wL))
      .withColumn("_tot", sum(col("n")).over(wAll))
      .select(col("split"), col("label"), col("n"),
        round(col("n").cast("double") / col("_sn").cast("double"), 6)
          .as("share"),
        round(col("_ln").cast("double") / col("_tot").cast("double"), 6)
          .as("global_share"),
        round(abs(col("n").cast("double") / col("_sn").cast("double") -
          col("_ln").cast("double") / col("_tot").cast("double")), 6)
          .as("abs_dev"))
  }

  /** Consistent-hash sample: keep ids whose bucket falls below
    * frac·65536. A pure filter — it reaches the scan, shuffles nothing,
    * and selects the same documents on every run.
    */
  def sampleFraction(df: DataFrame, idCol: String, frac: Double): DataFrame =
    df.filter(hashBucket(col(idCol)) < lit(bucketThreshold(frac)))

  /** Deterministic stratified sample: the k lowest-hash docs per class
    * (hash order ≈ uniform random, but reproducible; id tiebreak).
    * Adds `sample_rank` (1-based within the class).
    */
  def stratifiedSample(df: DataFrame, idCol: String, classCol: String,
                       k: Int): DataFrame =
    lowestHashPerClass(df, idCol, classCol, lit(k))

  /** The ONE deterministic-sampling window (md5-bucket order, id
    * tiebreak, per-class limit) both [[stratifiedSample]] and
    * [[proportionalSample]] draw through — a second copy would let the
    * two samplers' orderings drift (r12 review finding).
    */
  private def lowestHashPerClass(df: DataFrame, idCol: String,
                                 classCol: String, limit: Column): DataFrame = {
    val w = Window.partitionBy(classCol)
      .orderBy(hashBucket(col(idCol)).asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= limit)
  }

  /** Domain-mixture rebalance plan: one row per domain with the
    * consistent-hash keep-threshold that downsamples over-represented
    * domains toward a UNIFORM mixture (rate caps at 1 — we never
    * upsample; under-represented domains pass through whole).
    *
    * rate = min(1, total / (n_dom · cnt)) — the expression is one IEEE
    * double divide over exact integers, so any engine reproduces the
    * threshold bit-for-bit (the oracle recomputes it in DuckDB).
    *
    * Scale shape: the empty-frame windows run on the per-domain
    * aggregate — one row per domain, thousands at most — so the
    * single-partition exchange is over a trivially small input; the
    * corpus itself is touched only by the groupBy.
    */
  def domainMixture(df: DataFrame, domainCol: String): DataFrame = {
    // deliberate global window: runs over the tiny per-domain
    // aggregate (rows = |domains|), never the corpus (audited r9;
    // WindowExec's no-partition warning is muted in GraftSession.quiet)
    val w = Window.partitionBy()
    df.groupBy(domainCol).agg(count(lit(1)).as("n_docs"))
      .withColumn("rate",
        least(lit(1.0), sum("n_docs").over(w).cast("double") /
          (col("n_docs") * count(lit(1)).over(w))))
      .withColumn("keep_threshold", floor(col("rate") * 65536).cast("long"))
  }

  /** Apply a [[domainMixture]] plan: keep each doc iff its hash bucket
    * falls under its domain's threshold. The plan is broadcast (one row
    * per domain), so the sample is a map-side filter — no shuffle of the
    * corpus, stable membership across runs and corpus growth of OTHER
    * domains (a domain's own growth lowers its rate, as it must).
    */
  def mixtureSample(df: DataFrame, domainCol: String, idCol: String): DataFrame = {
    val plan = domainMixture(df, domainCol)
      .select(col(domainCol).as("__mix_domain"), col("keep_threshold"))
    // null-safe key: groupBy emits a plan row for the NULL domain, and
    // <=> lets those docs claim it — a null-unsafe join would silently
    // drop every NULL-domain doc from the sample instead of rating it.
    df.join(broadcast(plan), col(domainCol) <=> col("__mix_domain"))
      .filter(hashBucket(col(idCol)) < col("keep_threshold"))
      .drop("__mix_domain", "keep_threshold")
  }

  /** Temperature-scaled mixture plan — the multilingual-training
    * rebalance (sample domain i with probability ∝ p_i^(1/T), the
    * "sampling temperature" knob): T=1 keeps the natural mixture, T→∞
    * flattens to uniform. Downsample-only normalization anchors the
    * SMALLEST domain at rate 1, giving the closed form
    * `rate_i = (n_min / n_i)^(1 − 1/T)`.
    *
    * Cross-engine exactness: at the default T=2 the power is a square
    * root — correctly rounded under IEEE-754, so the rate and the
    * floor'd threshold are bit-identical in any engine (the oracle
    * recomputes them in DuckDB). Other temperatures go through libm
    * pow(), which is NOT correctly-rounded — fine for production,
    * excluded from hash-compared oracles. Same scale shape as
    * [[domainMixture]]: windows over the one-row-per-domain aggregate.
    */
  def temperatureMixture(df: DataFrame, domainCol: String,
                         temperature: Double = 2.0): DataFrame = {
    require(temperature >= 1.0, "temperature must be >= 1")
    val w = Window.partitionBy() // deliberate: |domains|-row frame (audited r9)
    val ratio = col("_nmin").cast("double") / col("n_docs")
    val rate =
      if (temperature == 2.0) sqrt(ratio)
      else pow(ratio, lit(1.0 - 1.0 / temperature))
    df.groupBy(domainCol).agg(count(lit(1)).as("n_docs"))
      .withColumn("_nmin", min("n_docs").over(w))
      .withColumn("rate", rate)
      .withColumn("keep_threshold", floor(col("rate") * 65536).cast("long"))
      .drop("_nmin")
  }

  /** Apply a [[temperatureMixture]] plan: broadcast one row per domain,
    * map-side consistent-hash filter — no corpus shuffle. Consistent
    * hashing means no membership CHURN: when another domain's growth
    * moves n_min, a domain's kept set only grows or shrinks at the
    * threshold boundary — docs never swap in and out.
    */
  def temperatureSample(df: DataFrame, domainCol: String, idCol: String,
                        temperature: Double = 2.0): DataFrame = {
    val plan = temperatureMixture(df, domainCol, temperature)
      .select(col(domainCol).as("__mix_domain"), col("keep_threshold"))
    // null-safe for the same reason as mixtureSample: NULL-domain docs
    // form their own stratum rather than vanishing.
    df.join(broadcast(plan), col(domainCol) <=> col("__mix_domain"))
      .filter(hashBucket(col(idCol)) < col("keep_threshold"))
      .drop("__mix_domain", "keep_threshold")
  }

  /** Weight-proportional Bernoulli sampling, integer-exact: keep row i
    * with probability p_i = targetCount · w_i / Σw — longer/heavier
    * items proportionally more likely, expected sample size =
    * targetCount (the Poisson-sampling scheme behind size-biased corpus
    * subsetting, e.g. token-mass-proportional document picks).
    *
    * The keep test is the exact integer cross-multiplication
    * `hash(id) · Σw < 65536 · targetCount · w_i` — no doubles anywhere,
    * so membership is bit-stable across engines and replayable in SQL
    * (weights must be non-negative integers; Σw is one scalar aggregate
    * folded in as a literal). Rows with p_i ≥ 1 (w_i ≥ Σw/targetCount)
    * are always kept
    * — the usual heavy-item saturation of Poisson sampling. Consistent
    * hashing gives the same no-churn property as the mixture samplers:
    * membership changes only where thresholds move.
    */
  def weightedBernoulli(df: DataFrame, idCol: String, weightCol: String,
                        targetCount: Long): DataFrame = {
    require(targetCount >= 1 && targetCount <= Long.MaxValue / 65536,
      s"targetCount out of range: $targetCount")
    // One scalar-aggregate job up front (sum/min/max of the weights) so
    // the integer cross-multiplication can be PROVED overflow-free —
    // hash·Σw and 65536·targetCount·w_i both silently wrap Long
    // otherwise, flipping membership with no error. The checked
    // envelope (Σw ≤ 2⁶³⁻¹/65536 ≈ 1.4e14, same for targetCount·max w)
    // covers any real corpus; beyond it, rescale the weights.
    val stats = df.agg(
      sum(col(weightCol).cast("long")).as("_sw"),
      min(col(weightCol).cast("long")).as("_minw"),
      max(col(weightCol).cast("long")).as("_maxw")).first()
    if (stats.isNullAt(0)) df.limit(0)
    else {
      val (sw, minW, maxW) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      require(minW >= 0, s"weights must be non-negative, found $minW")
      val lim = BigInt(Long.MaxValue)
      require(BigInt(65535) * BigInt(sw) <= lim,
        s"sum of weights $sw overflows the 16-bit keep test; rescale weights")
      require(BigInt(65536) * BigInt(targetCount) * BigInt(maxW) <= lim,
        s"targetCount*maxWeight ($targetCount * $maxW) overflows the keep test")
      // Σw now rides as a literal: the keep test is a pure map-side
      // filter, no broadcast join needed.
      df.filter(hashBucket(col(idCol)) * lit(sw) <
        lit(65536L * targetCount) * col(weightCol).cast("long"))
    }
  }

  /** Hard per-domain cap: keep at most `cap` rows per domain,
    * deterministically — rows rank inside their domain by
    * (md5(id), id) and the first `cap` survive. Unlike the rate-based
    * mixtures above (expected sizes), the cap is EXACT: the standard
    * "no single domain may exceed N documents" corpus rule.
    *
    * Plan: one shuffle on the domain key + a rank window per domain
    * partition. A corpus-hot domain makes that one sorting task wide;
    * when cap ≪ domain size, pre-filter with `hashBucket(id) <
    * bucketThreshold(overscan·cap/n)` to shrink the sort input — the
    * window then ranks the SMALLEST hash values, which the prefilter
    * preserves, so the result is identical whenever the prefilter
    * retains ≥ cap rows (binomially certain at overscan ≥ 2). Kept
    * out of this helper so the oracle-exact form stays one expression.
    */
  def domainCap(df: DataFrame, domainCol: String, idCol: String,
                cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= cap)
      .drop("_rn")
  }

  /** Deterministic training-shard plan: a seeded global pseudo-random
    * shuffle + sharding of the corpus, the last step before a training
    * run consumes it. Each row gets
    *   - `shard` — the first 4 hex digits of md5("seed|id") mod
    *     numShards (the same portable bucket family as [[hashBucket]]);
    *   - `sort_key` — the full seeded md5, a reproducible shuffle order
    *     inside the shard (hash order ≈ uniform random order, but
    *     stable across runs and engines — re-exporting yields
    *     byte-identical shards);
    *   - `shard_pos` — the row's 1-based position within its shard.
    *
    * Scale shape: the plan is one projection plus one shuffle-by-shard
    * with a per-shard sort — exactly the exchange the shard writer
    * ([[writeShards]]) performs anyway, so the position column is free
    * at export time. No global total-order sort is ever needed: order
    * only has to be defined WITHIN a shard, which is what training
    * dataloaders consume.
    */
  private def withShardKeys(df: DataFrame, idCol: String, numShards: Int,
                            seed: Long): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    df.withColumn("sort_key",
        md5(concat(lit(s"$seed|"), col(idCol).cast("string"))))
      .withColumn("shard",
        conv(substring(col("sort_key"), 1, 4), 16, 10).cast("long")
          % numShards)
  }

  private def shardPosWindow(idCol: String) =
    row_number().over(Window.partitionBy(col("shard"))
      .orderBy(col("sort_key"), col(idCol))).cast("long")

  def shardPlan(df: DataFrame, idCol: String, numShards: Int,
                seed: Long = 42L): DataFrame =
    withShardKeys(df, idCol, numShards, seed)
      .withColumn("shard_pos", shardPosWindow(idCol))

  /** Materialize the shard plan as one directory per shard
    * (`shard=<k>/…`), rows inside each shard's file in `sort_key`
    * order. ONE exchange total: the explicit repartition on the shard
    * value followed by a partition-local sort on
    * (shard, sort_key, id) satisfies both the position window's
    * required distribution+ordering (so EnsureRequirements inserts
    * nothing for it) and the writer's file-split order — no second
    * shuffle, no global sort.
    */
  def writeShards(df: DataFrame, idCol: String, path: String,
                  numShards: Int, seed: Long = 42L,
                  format: String = "parquet"): Unit =
    withShardKeys(df, idCol, numShards, seed)
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("sort_key"), col(idCol))
      .withColumn("shard_pos", shardPosWindow(idCol))
      .write.mode("overwrite")
      .partitionBy("shard")
      .format(format) // "json" = the JSONL shards training loaders eat
      .save(path)

  /** Shard manifest — the dataset-card / reproducibility record for a
    * [[writeShards]] export: one row per shard with its row count and
    * an ORDER-INDEPENDENT content checksum (the sum of each member
    * id's 16-bit hash bucket — exact integer, so any engine, any
    * partitioning, and any row order reproduce it bit-for-bit; a
    * changed/missing/extra id changes the sum with probability
    * 1 − 2⁻¹⁶ per id). Verifying a delivered dataset = recompute the
    * manifest from the shards and diff. One aggregate over the shard
    * plan; no window, no sort.
    */
  def shardManifest(df: DataFrame, idCol: String, numShards: Int,
                    seed: Long = 42L): DataFrame =
    withShardKeys(df, idCol, numShards, seed)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(hashBucket(col(idCol))).as("id_hash_sum"))

  /** Epoch-weighted mixture materialization: replicate (or thin) each
    * domain to a target number of TRAINING EPOCHS, emitting one row per
    * (doc, epoch ordinal) — the "books ×2.5, web ×0.8" recipe dataset
    * cards publish, materialized so a dataloader can stream the mix
    * directly. Epochs are basis points of one pass (`10000` = exactly
    * once): each doc repeats `bp div 10000` times, plus one more iff
    * its hash bucket clears `(bp mod 10000)·65536 div 10000` — the
    * fractional epoch is the same consistent-hash subset idiom as
    * [[sampleFraction]], so it is deterministic, exact-integer (any
    * engine reproduces membership bit-for-bit), and stable under
    * corpus growth. `bp < 10000` therefore DOWN-samples (0 full copies,
    * fractional keep) — one operator covers both directions of a
    * mixture. Domains missing from the map (and the NULL domain) pass
    * through at exactly one epoch.
    *
    * Output: input columns + `epoch` (0-based copy ordinal). Rows with
    * zero copies vanish; row order within a training run should come
    * from [[writeShards]] downstream, which shuffles (doc, epoch) rows
    * like any other corpus.
    *
    * Scale shape: a broadcast join against the domains-sized weight
    * table + a bounded `sequence` explode — no corpus shuffle; output
    * volume is exactly the requested Σ epochs·|domain|.
    */
  def epochUpsample(df: DataFrame, idCol: String, domainCol: String,
                    epochsBp: Map[String, Long]): DataFrame = {
    require(epochsBp.values.forall(bp => bp >= 0 && bp <= 1000000L),
      s"epoch basis points out of [0, 1000000]: $epochsBp")
    val spark = df.sparkSession
    import spark.implicits._
    val w = epochsBp.toSeq.toDF("__up_domain", "__up_bp")
    df.join(broadcast(w), col(domainCol) === col("__up_domain"), "left")
      .withColumn("__up_bp", coalesce(col("__up_bp"), lit(10000L)))
      .withColumn("__up_n",
        expr("__up_bp div 10000") +
          when(hashBucket(col(idCol)) <
            expr("((__up_bp % 10000) * 65536) div 10000"), 1L).otherwise(0L))
      .filter(col("__up_n") >= 1)
      .withColumn("epoch", explode(sequence(lit(0L), col("__up_n") - 1)))
      .drop("__up_domain", "__up_bp", "__up_n")
  }

  /** Curriculum staging: assign every row to one of `stages`
    * equal-sized difficulty stages by EXACT global rank of
    * (score, id) — easiest first. Training curricula feed stage 0
    * before stage 1; ntile() would be the one-liner but plans as a
    * single-partition global sort, so the rank rides
    * [[Packing.rankShards]]'s two-level block scan instead (block
    * summaries only — the same plan shape at 100 TB). The id rides as
    * a TIE column, not composed into the key: a score·2³² + id
    * composition silently overflows once ids pass 2³² (exactly what a
    * re-keyed 10× corpus produced), while the tie-column form puts no
    * range constraint on ids at all.
    *
    * Contract: integral `score` and `id` (quantize float scores to
    * integer millis upstream), (score, id) unique — i.e. id unique.
    *
    * Output: input columns + `rank` (global, 0-based) + `stage`
    * (0..stages−1, sizes balanced ±1).
    */
  def curriculumStages(df: DataFrame, idCol: String, scoreCol: String,
                       stages: Int, maxBlocks: Long = 1L << 20): DataFrame = {
    require(stages >= 1, s"stages must be >= 1: $stages")
    Seq(idCol, scoreCol).foreach { c =>
      import org.apache.spark.sql.types._
      require(Set[DataType](LongType, IntegerType, ShortType, ByteType)
          .contains(df.schema(c).dataType),
        s"curriculumStages needs integral $c, got " +
          df.schema(c).dataType.simpleString)
    }
    Packing.rankShards(df, scoreCol, numShards = stages,
        maxBlocks = maxBlocks, tieCols = Seq(idCol))
      .withColumnRenamed("shard", "stage")
  }

  /** Exact proportional allocation across strata — the largest-
    * remainder (Hamilton) apportionment: split a FIXED budget of k
    * rows across strata proportionally to their sizes, with the
    * leftover after integer quotas going to the largest remainders
    * (stratum-name tiebreak). Builds the fixed-size eval set
    * [[stratifiedSample]]'s per-class constant k cannot: Σ alloc = k
    * exactly, every stratum within one row of its real share. All
    * integer arithmetic (quota = k·n div N, remainder = k·n mod N);
    * requires k ≤ N and k·N within long range.
    *
    * Output: one row per stratum (stratum, n, alloc). The allocation
    * frame is strata-sized — the remainder-rank window AND the total
    * run over it, not the corpus (a second counts aggregation would
    * re-scan the corpus: Spark does not dedup common subplans — r12
    * review finding). NULL strata raise (an equi-join downstream would
    * silently drop their allocation); an EMPTY corpus returns an empty
    * frame (no rows exist to evaluate a guard on — callers needing a
    * loud empty check own it), while a non-empty corpus smaller than
    * the budget raises.
    */
  def proportionalAllocate(df: DataFrame, stratumCol: String,
                           k: Long): DataFrame = {
    require(k >= 1L, s"budget must be positive, got $k")
    val counts = df
      .select(when(col(stratumCol).isNull,
        raise_error(lit(s"proportionalAllocate: NULL stratum in $stratumCol")))
        .otherwise(col(stratumCol)).as(stratumCol))
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
    val wAllStrata = Window.partitionBy()
    val quotas = counts
      .withColumn("_t",
        when(sum(col("n")).over(wAllStrata) < k,
          raise_error(lit(s"proportionalAllocate: budget $k exceeds corpus")))
          .otherwise(sum(col("n")).over(wAllStrata)))
      .withColumn("_base", expr(s"$k * n div _t"))
      .withColumn("_rem", expr(s"($k * n) % _t"))
    // leftover = k − Σ base, handed to the largest remainders; the
    // window covers the strata-sized frame only
    val wR = Window.orderBy(col("_rem").desc, col(stratumCol).asc)
    val wAll = Window.partitionBy()
    quotas
      .withColumn("_rr", row_number().over(wR))
      .withColumn("_leftover", lit(k) - sum(col("_base")).over(wAll))
      .select(col(stratumCol), col("n"),
        (col("_base") +
          when(col("_rr") <= col("_leftover"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** Materialize a [[proportionalAllocate]] plan: per stratum, the
    * `alloc` lowest-hash rows through [[lowestHashPerClass]]. Exactly
    * k rows total on a NULL-free stratum column (the allocator raises
    * on NULLs — an equi-join here would have silently dropped them).
    */
  def proportionalSample(df: DataFrame, stratumCol: String, idCol: String,
                         k: Long): DataFrame = {
    val alloc = proportionalAllocate(df, stratumCol, k)
      .select(col(stratumCol), col("alloc"))
    lowestHashPerClass(df.join(broadcast(alloc), Seq(stratumCol)),
        idCol, stratumCol, col("alloc"))
      .drop("sample_rank", "alloc")
  }
}

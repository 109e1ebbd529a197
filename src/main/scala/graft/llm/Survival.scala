package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Checked
import Packing.{prefixScan, withBoundedBlocks}

/** Time-to-event (survival) analysis over right-censored durations: the
  * Kaplan–Meier product-limit curve and the two-group log-rank test —
  * "how long until a signup converts, and did cohort A convert faster?"
  * The retention/churn toolkit next to [[graft.core.Temporal]]'s cohort
  * and funnel operators (reference scope is relational ingestion; its
  * monitoring surface — `reports_check.sql` — counts statuses, so
  * time-to-event estimation is beyond-reference surface like
  * [[RankStats]]).
  *
  * Scale posture: both estimators reduce the corpus to ONE keyed
  * aggregate over distinct durations (map-side combined), then run all
  * risk-set prefixes through the two-level [[Packing.prefixScan]] — no
  * per-subject global sort anywhere. The only global window rides the
  * distinct-duration frame, which the quantization contract bounds by
  * the time grid (hours/days), not the corpus.
  *
  * Exactness: risk sets, death and censor counts are exact BIGINT
  * prefix algebra; the survival curve and the log-rank moments are the
  * ONE closed-form double layer on top, mirrored term for term by the
  * SQL oracle (round(,6) in the query absorbs libm ln() last-ulp drift,
  * the unigramLogProb convention).
  *
  * Contract (the RankStats long-value stance): durations must be
  * non-NULL, non-negative and long-castable — the CALLER quantizes
  * (e.g. hours), which fixes tie semantics and bounds the curve frame;
  * the event flag must be exactly 0 (right-censored) or 1 (observed).
  * Violations raise with the operator named.
  */
object Survival {

  private def checkedDuration(c: Column, op: String): Column =
    when(c.isNull, raise_error(lit(s"$op: NULL duration")))
      .when(c < 0, raise_error(concat(lit(s"$op: negative duration ("),
        c.cast("string"), lit(")"))))
      .otherwise(c).cast("long")

  private def checkedEvent(c: Column, op: String): Column =
    when(c.isNull || (c =!= 0 && c =!= 1),
      raise_error(concat(lit(s"$op: event flag must be 0 or 1, got "),
        coalesce(c.cast("string"), lit("NULL")))))
      .otherwise(c).cast("long")

  /** Kaplan–Meier product-limit estimator: one row per distinct
    * duration t with the exact risk set `n_risk` (subjects with
    * duration ≥ t), observed events `d`, censored exits `c`, and the
    * stepped `survival` Ŝ(t) = Π over event times ≤ t of
    * (1 − d/n_risk). Censor-only times keep the previous survival (the
    * curve steps only at event times, but censors still shrink later
    * risk sets — the whole point of KM over a naive event ECDF).
    *
    * A time that kills the entire remaining risk set (d = n_risk) pins
    * survival to exactly 0.0 from there on, handled explicitly — Spark's
    * ln(0) is NULL, which a windowed sum would silently SKIP, resurrecting
    * the curve.
    */
  def kaplanMeier(df: DataFrame, durationCol: String, eventCol: String,
                  maxBlocks: Long = 1L << 20): DataFrame =
    kaplanMeierFromCells(cells(df, durationCol, eventCol), maxBlocks)

  /** Exact (t, d, c) duration cells — deaths and censored exits per
    * distinct duration, ONE keyed map-side-combined aggregate. The
    * cells are a commutative monoid (sum d, sum c per t), which is
    * what makes [[graft.streaming.SurvivalStream]]'s maintained state
    * bit-identical to one-shot counting (the ConformalStream
    * contract). `op` names the calling entry point in contract-raise
    * messages (nelsonAalen and the streaming fold are NOT KM).
    */
  def cells(df: DataFrame, durationCol: String, eventCol: String,
            op: String = "kaplanMeier"): DataFrame = {
    df.select(
        checkedDuration(col(durationCol), op).as("_v"),
        checkedEvent(col(eventCol), op).as("_e"))
      .groupBy("_v")
      .agg(sum("_e").as("d"), (count(lit(1)) - sum("_e")).as("c"))
      .select(col("_v").as("t"), col("d"), col("c"))
  }

  /** 95% two-sided normal quantile, shared with the SQL oracles. */
  private val z95 = 1.959963984540054

  /** The survival-curve tail over a risk-set frame carrying (t, d,
    * n_risk): cumulative ln((n−d)/n) over t, with the d = n_risk
    * extinction pinned to an explicit 0.0 (Spark's ln(0) is NULL,
    * which a windowed sum would silently SKIP — resurrecting the
    * curve). Alongside the point curve it carries the Greenwood
    * variance Ŝ(t)²·Σ d/(n(n−d)) and the 95% log-log (cloglog)
    * confidence band Ŝ^{exp(±z·se_θ)} with se_θ = √Σ / |ln Ŝ| — the
    * transform keeps the band inside (0, 1) where a plain ±z·√var
    * does not. Both are NULL past extinction (the variance formula
    * divides by n−d = 0 there) and the band is NULL while Ŝ = 1 (no
    * events yet — ln Ŝ = 0, θ undefined; R's `survival` NAs the same
    * rows). Windows optionally partition by `partitionCols` — the ONE
    * shared home for all the subtle guards, so the grouped and global
    * curves cannot drift (the keyed-vs-global [[Packing.prefixScan]]
    * stance). Callers that select only the point curve pay nothing:
    * Catalyst prunes the unused CI expressions.
    */
  private def withSurvival(pre: DataFrame,
                           partitionCols: Seq[String]): DataFrame = {
    val w = (if (partitionCols.isEmpty) Window.orderBy("t")
             else Window.partitionBy(partitionCols.map(col): _*)
               .orderBy("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lnTerm = when(col("d") > 0L && col("d") < col("n_risk"),
      log((col("n_risk") - col("d")).cast("double")) -
        log(col("n_risk").cast("double"))).otherwise(lit(0.0))
    val gwTerm = when(col("d") > 0L && col("d") < col("n_risk"),
      col("d").cast("double") /
        (col("n_risk").cast("double") *
          (col("n_risk") - col("d")).cast("double"))).otherwise(lit(0.0))
    val seTheta = sqrt(col("_gw")) / abs(log(col("survival")))
    pre
      .withColumn("_lnSum", sum(lnTerm).over(w))
      .withColumn("_gw", sum(gwTerm).over(w))
      .withColumn("_dead",
        max(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(w))
      .withColumn("survival",
        when(col("_dead") === 1L, lit(0.0)).otherwise(exp(col("_lnSum"))))
      .withColumn("greenwood_var",
        when(col("_dead") === 0L,
          col("survival") * col("survival") * col("_gw")))
      .withColumn("ci_lo",
        when(col("_dead") === 0L && col("survival") < 1.0,
          pow(col("survival"), exp(lit(z95) * seTheta))))
      .withColumn("ci_hi",
        when(col("_dead") === 0L && col("survival") < 1.0,
          pow(col("survival"), exp(-lit(z95) * seTheta))))
      .drop("_lnSum", "_gw", "_dead")
  }

  /** The product-limit curve served from persisted (t, d, c) cells —
    * the batch face of the streaming state (shares [[kaplanMeier]]'s
    * semantics and oracle exactly). The curve frame is
    * distinct-durations-sized (grid-bounded by the caller's
    * quantization), so ONE ordered window over it is the
    * block-summary idiom, not a corpus sort.
    */
  /** The exact global risk-set frame (t, d, c, n_risk) from (t, d, c)
    * cells — the shared prefix machinery under [[kaplanMeierFromCells]],
    * [[kaplanMeierCi]] and [[nelsonAalen]]: n_risk at t is the total
    * mass minus the exclusive prefix, via the two-level block scan.
    */
  private def riskSetFrame(cellsDf: DataFrame,
                           maxBlocks: Long): DataFrame = {
    val vc = cellsDf.select(col("t").as("_v"), col("d").as("_d"),
      (col("d") + col("c")).as("_n"))
    val total = vc.agg(coalesce(sum("_n"), lit(0L)).as("_total"))
    prefixScan(withBoundedBlocks(vc, "_v", maxBlocks), Nil, "_v", Seq("_n"))
      .crossJoin(broadcast(total))
      .select(col("_v").as("t"), col("_d").as("d"),
        (col("_n") - col("_d")).as("c"),
        (col("_total") - col("_pre__n")).as("n_risk"))
  }

  def kaplanMeierFromCells(cellsDf: DataFrame,
                           maxBlocks: Long = 1L << 20): DataFrame =
    withSurvival(riskSetFrame(cellsDf, maxBlocks), Nil)
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        col("survival"))

  /** [[kaplanMeier]] with its uncertainty: the Greenwood variance and
    * the 95% log-log confidence band — what every real survival plot
    * draws around the step curve. Same exact risk-set integers and
    * extinction pin ([[withSurvival]] is the one shared home);
    * greenwood_var/ci are NULL past extinction, the band also NULL
    * while Ŝ = 1 (see withSurvival). Output: (t, n_risk, d, c,
    * survival, greenwood_var, ci_lo, ci_hi).
    */
  def kaplanMeierCi(df: DataFrame, durationCol: String, eventCol: String,
                    maxBlocks: Long = 1L << 20): DataFrame =
    withSurvival(
      riskSetFrame(cells(df, durationCol, eventCol, "kaplanMeierCi"),
        maxBlocks), Nil)
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        col("survival"), col("greenwood_var"), col("ci_lo"),
        col("ci_hi"))

  /** Competing-risks cumulative incidence (Aalen–Johansen for the
    * all-cause-KM special case): when a subject can exit by SEVERAL
    * mutually exclusive causes (converted vs churned), the naive
    * per-cause KM overstates every risk — censoring competitors treats
    * them as still-at-risk. CIF_k(t) = Σ_{u ≤ t} Ŝ(u⁻)·d_k(u)/n(u)
    * with Ŝ the ALL-cause survival, so Σ_k CIF_k(t) = 1 − Ŝ(t)
    * exactly (spec-pinned). Cause 0 = censored, k ≥ 1 = exit causes;
    * NULL/negative causes raise. Output: one row per (t, cause) over
    * the times × observed-causes grid (both grid-bounded) with the
    * exact all-cause `n_risk`, the cause's `d` at t, and the stepped
    * `cif`.
    */
  def cumulativeIncidence(df: DataFrame, durationCol: String,
                          causeCol: String,
                          maxBlocks: Long = 1L << 20): DataFrame =
    cifGrid(df, durationCol, causeCol, maxBlocks, "cumulativeIncidence")
      .select(col("t"), col("cause"), col("n_risk"), col("d"),
        col("cif"))

  /** The shared (t, cause) CIF grid under [[cumulativeIncidence]] and
    * [[cumulativeIncidenceCi]]: per row the exact all-cause risk-set
    * integers (`n_risk`, `d_all`), the cause's `d`, the left-limit
    * all-cause survival `s_prev`, the stepped `cif`, and `_dead` (any
    * time ≤ t exhausted the risk set — where every variance formula
    * divides by zero).
    */
  private def cifGrid(df: DataFrame, durationCol: String,
                      causeCol: String, maxBlocks: Long,
                      op: String): DataFrame = {
    val rows = df.select(
      checkedDuration(col(durationCol), op).as("_v"),
      when(col(causeCol).isNull || col(causeCol) < 0,
        raise_error(concat(lit(s"$op: cause must be >= 0, got "),
          coalesce(col(causeCol).cast("string"), lit("NULL")))))
        .otherwise(col(causeCol)).cast("long").as("_k"))
    val allCells = rows.groupBy("_v")
      .agg(sum(when(col("_k") > 0L, 1L).otherwise(0L)).as("d"),
        sum(when(col("_k") === 0L, 1L).otherwise(0L)).as("c"))
      .select(col("_v").as("t"), col("d"), col("c"))
    val wT = Window.orderBy("t")
    val tf = kaplanMeierFromCells(allCells, maxBlocks)
      .withColumn("s_prev", lag(col("survival"), 1, 1.0).over(wT))
    val causes = rows.filter(col("_k") > 0L)
      .select(col("_k").as("cause")).distinct()
    val dk = rows.filter(col("_k") > 0L)
      .groupBy(col("_v").as("t"), col("_k").as("cause"))
      .agg(count(lit(1)).as("_dk"))
    val wC = Window.partitionBy("cause").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tf.select(col("t"), col("n_risk"), col("d").as("d_all"),
        col("s_prev"))
      .crossJoin(broadcast(causes))
      .join(dk, Seq("t", "cause"), "left")
      .na.fill(0L, Seq("_dk"))
      .withColumn("_inc",
        when(col("_dk") > 0L,
          col("s_prev") * col("_dk").cast("double") /
            col("n_risk").cast("double")).otherwise(lit(0.0)))
      .withColumn("_dead",
        max(when(col("d_all") === col("n_risk"), 1L).otherwise(0L))
          .over(wC))
      .select(col("t"), col("cause"), col("n_risk"), col("d_all"),
        col("_dk").as("d"), col("s_prev"), col("_dead"),
        sum(col("_inc")).over(wC).as("cif"))
  }

  /** [[cumulativeIncidence]] with its uncertainty — the Greenwood
    * analogue for competing risks: the delta-method variance of the
    * Aalen–Johansen CIF (Gaynor et al. 1993 / Marubini–Valsecchi, the
    * SAS PROC LIFETEST formula),
    *   V̂(t) = Σ_{u≤t} [F̂(t)−F̂(u)]² d_u/(n_u(n_u−d_u))
    *        + Σ_{u≤t} Ŝ(u⁻)² d_ku(n_u−d_ku)/n_u³
    *        − 2 Σ_{u≤t} [F̂(t)−F̂(u)] Ŝ(u⁻) d_ku/n_u²
    * (d_u all-cause events, d_ku this cause's). The F̂(t)-dependent
    * sums expand into cumulative windows — [F̂(t)−F̂(u)]² =
    * F̂(t)²−2F̂(t)F̂(u)+F̂(u)² — so the whole variance is a handful of
    * windowed sums over the grid-bounded frame, never an O(T²) pass.
    * In the single-cause case it reduces exactly to the Greenwood
    * variance of 1−Ŝ (spec-pinned against [[kaplanMeierCi]]). The 95%
    * band is the log(−log) transform of the survival-like 1−F̂ (the
    * withSurvival convention, kept inside (0, 1)). var_cif/ci are NULL
    * past risk-set extinction; the band is also NULL while F̂ = 0 (no
    * cause events yet — θ undefined) or F̂ ≥ 1. Output: one row per
    * (t, cause): (t, cause, n_risk, d, cif, var_cif, ci_lo, ci_hi).
    */
  def cumulativeIncidenceCi(df: DataFrame, durationCol: String,
                            causeCol: String,
                            maxBlocks: Long = 1L << 20): DataFrame = {
    val grid = cifGrid(df, durationCol, causeCol, maxBlocks,
      "cumulativeIncidenceCi")
    val wC = Window.partitionBy("cause").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("n_risk").cast("double")
    val dA = col("d_all").cast("double")
    val dK = col("d").cast("double")
    // per-u terms, zero when the guard fails (d_all = 0 contributes
    // nothing; d_all = n_risk is extinction — masked by _dead)
    val okA = col("d_all") > 0L && col("d_all") < col("n_risk")
    val termA = when(okA, dA / (nD * (nD - dA))).otherwise(lit(0.0))
    val termD = dK * col("s_prev") / (nD * nD)
    val termG = col("s_prev") * col("s_prev") * dK * (nD - dK) /
      (nD * nD * nD)
    grid
      .withColumn("_cumA", sum(termA).over(wC))
      .withColumn("_cumB", sum(termA * col("cif")).over(wC))
      .withColumn("_cumC", sum(termA * col("cif") * col("cif")).over(wC))
      .withColumn("_cumD", sum(termD).over(wC))
      .withColumn("_cumE", sum(termD * col("cif")).over(wC))
      .withColumn("_cumG", sum(termG).over(wC))
      // clamped at 0: the expansion is a difference of cumulative
      // sums, so exact-zero variances can cancel to ±1e-18 — a
      // negative variance is numerically meaningless and would flip
      // sign bits across engines
      .withColumn("var_cif",
        when(col("_dead") === 0L, greatest(
          col("cif") * col("cif") * col("_cumA")
            - lit(2.0) * col("cif") * col("_cumB") + col("_cumC")
            + col("_cumG")
            - lit(2.0) * (col("cif") * col("_cumD") - col("_cumE")),
          lit(0.0))))
      // the division is guarded INSIDE the expression: windows block
      // projection collapse, so an unguarded _seTheta column would be
      // evaluated for the cif = 0 rows (ln 1 = 0 divisor) even though
      // every consumer masks them — ANSI mode makes that a hard error
      .withColumn("_seTheta",
        when(col("_dead") === 0L && col("cif") > 0.0 && col("cif") < 1.0,
          sqrt(greatest(col("var_cif"), lit(0.0))) /
            ((lit(1.0) - col("cif")) * abs(log(lit(1.0) - col("cif"))))))
      .withColumn("ci_lo",
        when(col("_dead") === 0L && col("cif") > 0.0 && col("cif") < 1.0,
          lit(1.0) - pow(lit(1.0) - col("cif"),
            exp(-lit(z95) * col("_seTheta")))))
      .withColumn("ci_hi",
        when(col("_dead") === 0L && col("cif") > 0.0 && col("cif") < 1.0,
          lit(1.0) - pow(lit(1.0) - col("cif"),
            exp(lit(z95) * col("_seTheta")))))
      .select(col("t"), col("cause"), col("n_risk"), col("d"),
        col("cif"), col("var_cif"), col("ci_lo"), col("ci_hi"))
  }

  /** Nelson–Aalen cumulative hazard: H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ with the
    * standard variance Σ dᵢ/nᵢ² — the hazard-scale companion to
    * [[kaplanMeier]] (a straight line means constant risk; e^{−H}
    * gives the Fleming–Harrington survival alternative). Same exact
    * risk-set integers and grid-bounded curve frame; the two
    * cumulative ratios are the one double layer. Output: (t, n_risk,
    * d, c, cum_hazard, var_hazard).
    */
  def nelsonAalen(df: DataFrame, durationCol: String, eventCol: String,
                  maxBlocks: Long = 1L << 20): DataFrame = {
    val pre = riskSetFrame(cells(df, durationCol, eventCol, "nelsonAalen"),
      maxBlocks)
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("n_risk").cast("double")
    pre
      .withColumn("cum_hazard",
        sum(col("d").cast("double") / nD).over(w))
      .withColumn("var_hazard",
        sum(col("d").cast("double") / (nD * nD)).over(w))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        col("cum_hazard"), col("var_hazard"))
  }

  /** Restricted mean survival time: the area under the Kaplan–Meier
    * step curve on [0, τ] — "mean hours-to-conversion within the first
    * τ hours", the bounded summary that exists even when the tail
    * never converges (mean survival doesn't, under censoring). Exact
    * risk-set integers feed the curve; the area is Σ Ŝ(tᵢ)·(min(tᵢ₊₁,
    * τ) − tᵢ) over event/censor times below τ plus the [0, t_min) head
    * at Ŝ = 1, one double fold over the grid-bounded times frame
    * (round(,6) in the query). Output: one row (tau, n, rmst); rmst is
    * NULL on an empty frame.
    */
  def rmst(df: DataFrame, durationCol: String, eventCol: String,
           tau: Long, maxBlocks: Long = 1L << 20): DataFrame = {
    require(tau > 0, s"tau must be positive, got $tau")
    val km = kaplanMeier(df, durationCol, eventCol, maxBlocks)
    val w = Window.orderBy("t")
    val head = km.agg(min("t").as("_tmin"),
      coalesce(sum(col("d") + col("c")), lit(0L)).as("n"))
    val area = km
      .withColumn("_next", lead(col("t"), 1).over(w))
      .filter(col("t") < tau)
      .select((col("survival") *
        (least(coalesce(col("_next"), lit(tau)), lit(tau)) - col("t"))
          .cast("double")).as("_a"))
      .agg(coalesce(sum("_a"), lit(0.0)).as("_area"))
    area.crossJoin(broadcast(head))
      .select(lit(tau).as("tau"), col("n"),
        (least(col("_tmin"), lit(tau)).cast("double") + col("_area"))
          .as("rmst"))
  }

  /** Checked (_v duration, _e event, _g group label) rows. */
  private def groupedRows(df: DataFrame, durationCol: String,
                          eventCol: String, groupCol: String,
                          op: String): DataFrame =
    df.select(
      checkedDuration(col(durationCol), op).as("_v"),
      checkedEvent(col(eventCol), op).as("_e"),
      Checked.label(col(groupCol), op, s"group in $groupCol").as("_g"))

  /** Per-group Kaplan–Meier curves in ONE pass — the side-by-side
    * view behind every A/B survival plot ([[logRank]] gives the test,
    * this gives the curves). Cells aggregate per (group, duration);
    * risk-set prefixes ride the group-keyed [[Packing.prefixScan]]
    * (value blocks shared across groups — a hot group spreads over its
    * duration blocks instead of single-tasking); survival windows are
    * partitioned by group over the grid-bounded curve frame. Output:
    * (grp, t, n_risk, d, c, survival) with the same semantics as
    * [[kaplanMeier]] per group.
    */
  def kaplanMeierByGroup(df: DataFrame, durationCol: String,
                         eventCol: String, groupCol: String,
                         maxBlocks: Long = 1L << 20): DataFrame = {
    val op = "kaplanMeierByGroup"
    val rows = groupedRows(df, durationCol, eventCol, groupCol, op)
    val kv = rows.groupBy("_g", "_v")
      .agg(sum("_e").as("_d"), count(lit(1)).as("_n"))
    val totals = kv.groupBy("_g").agg(sum("_n").as("_total"))
    val pre = prefixScan(withBoundedBlocks(kv, "_v", maxBlocks), Seq("_g"),
      "_v", Seq("_n"))
      .join(broadcast(totals), Seq("_g"))
      .select(col("_g").as("grp"), col("_v").as("t"), col("_d").as("d"),
        (col("_n") - col("_d")).as("c"),
        (col("_total") - col("_pre__n")).as("n_risk"))
    withSurvival(pre, Seq("grp"))
      .select(col("grp"), col("t"), col("n_risk"), col("d"), col("c"),
        col("survival"))
  }

  /** Weibull fit of the survival curve by regression on the
    * linearized form: ln(−ln Ŝ(t)) = k·ln t − k·ln λ at event times
    * with 0 < Ŝ < 1 and t > 0 — "is the conversion hazard rising
    * (k > 1) or is it an exponential (k ≈ 1)?", the parametric shape
    * read off the KM estimate. OLS over the grid-bounded curve frame
    * (one double fold, round(,6) in the query). Output: one row
    * (n_points, shape, scale); NULL fit when fewer than two usable
    * points, zero slope variance, or an exactly-zero slope (the scale
    * formula divides by it — a flat ln-ln cloud has no Weibull shape,
    * so both parameters are NULL, not a 0/Infinity pair).
    */
  def weibullFit(df: DataFrame, durationCol: String, eventCol: String,
                 maxBlocks: Long = 1L << 20): DataFrame = {
    val km = kaplanMeier(df, durationCol, eventCol, maxBlocks)
      .filter(col("d") > 0L && col("t") > 0L &&
        col("survival") > 0.0 && col("survival") < 1.0)
      .select(log(col("t").cast("double")).as("_x"),
        log(-log(col("survival"))).as("_y"))
    val a = km.agg(count(lit(1)).as("n_points"),
      sum("_x").as("_sx"), sum("_y").as("_sy"),
      sum(col("_x") * col("_y")).as("_sxy"),
      sum(col("_x") * col("_x")).as("_sxx"))
    val nD = col("n_points").cast("double")
    val vx = nD * col("_sxx") - col("_sx") * col("_sx")
    val cxy = nD * col("_sxy") - col("_sx") * col("_sy")
    val slope = cxy / vx
    val usable = col("n_points") >= 2L && vx > 0.0 && cxy =!= 0.0
    a.select(col("n_points"),
      when(usable, slope).as("shape"),
      when(usable,
        exp(-((col("_sy") - slope * col("_sx")) / nD) / slope))
        .as("scale"))
  }

  /** Cox proportional-hazards regression, one covariate, Breslow tie
    * handling — "how much does activity level multiply the conversion
    * hazard?", the model behind every churn score. The corpus reduces
    * in ONE pass to the (t, x) cell grid (duration × quantized
    * covariate, both caller-quantized — the RankStats long contract),
    * which is COLLECTED (grid-bounded, the linearCka bounded-collect
    * stance) and Newton–Raphson runs on the driver ([[CoxGrid]]): per
    * event time, the risk set's Σe^{βx}, Σxe^{βx}, Σx²e^{βx} fold from a
    * running per-x count array swept over t descending
    * (O(times·gridX) per iteration), β ← β + U/I from score
    * U(β) = Σ(s_t − d_t·R1/R) and information I(β) = Σ d_t(R2/R −
    * (R1/R)²). Newton converges to a fixed point, so cross-engine
    * summation-order drift dies at the answer (round(,6) in the query).
    * Output: one row (n, n_events, beta, se = 1/√I(β̂), z = β/se); beta
    * is NULL when the covariate is constant on every risk set (I = 0 —
    * nothing to estimate), when any sweep goes non-finite (complete
    * separation overflowing e^{βx}), or when the closing Newton step is
    * still material after the iteration budget (non-converged fit,
    * never a silent guess).
    */
  def coxPh(df: DataFrame, durationCol: String, eventCol: String,
            xCol: String, iterations: Int = 8,
            maxCells: Int = 1 << 20): DataFrame = {
    val grid = coxGrid(df, durationCol, eventCol, Seq(xCol), iterations,
      maxCells, "coxPh")
    val spark = df.sparkSession
    import spark.implicits._
    val (b, se, z) = grid.fit(iterations) match {
      case None => (None, None, None)
      case Some((beta, s)) =>
        (Some(beta(0)), Some(s(0)), Some(beta(0) / s(0)))
    }
    Seq((grid.n, grid.nEvents, b, se, z))
      .toDF("n", "n_events", "beta", "se", "z")
  }

  /** The checked (t, x₁..x_p) cell grid behind all four Cox faces: ONE
    * corpus pass to per-cell (n, d) counts, then the bounded-collect
    * GUARD, not just a stance — un-quantized durations/covariates make
    * the grid corpus-sized and the collect a silent driver OOM, so
    * limit+count fails loudly instead.
    */
  private def coxGrid(df: DataFrame, durationCol: String, eventCol: String,
                      xCols: Seq[String], iterations: Int, maxCells: Int,
                      op: String): CoxGrid = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(maxCells >= 1, s"maxCells must be positive, got $maxCells")
    val xs = xCols.indices.map(j => s"_x$j")
    val rows = df.select(Seq(
      checkedDuration(col(durationCol), op).as("_v"),
      checkedEvent(col(eventCol), op).as("_e")) ++
      xCols.zip(xs).map { case (c, x) =>
        Checked.long(col(c), op, s"covariate in $c").as(x)
      }: _*)
    val cells = rows.groupBy(("_v" +: xs).map(col): _*)
      .agg(count(lit(1)).as("_n"), sum("_e").as("_d"))
      .limit(maxCells + 1)
      .collect()
      .map(r => (r.getAs[Long]("_v"), xs.map(r.getAs[Long]).toVector,
        r.getAs[Long]("_n"), r.getAs[Long]("_d")))
    require(cells.length <= maxCells,
      s"$op: the (duration x covariates) grid exceeds maxCells=" +
        s"$maxCells - quantize coarser (the RankStats long contract)")
    new CoxGrid(cells, xCols.size)
  }

  private def finite(xs: Double*): Boolean =
    xs.forall(java.lang.Double.isFinite)

  /** The driver-side (t, x) cell grid over p ∈ {1, 2} covariates shared
    * by [[coxPh]], [[coxPh2]] and their Schoenfeld diagnostics: per-x
    * running risk counts swept over distinct t DESCENDING so each
    * time's risk set is the suffix; Newton on the Breslow partial
    * likelihood with the exact p×p information solve.
    */
  private final class CoxGrid(cells: Array[(Long, Vector[Long], Long, Long)],
                              p: Int) {
    require(p == 1 || p == 2, s"CoxGrid solves 1 or 2 covariates, got $p")
    import scala.math.Ordering.Implicits.seqOrdering
    private val xs = cells.map(_._2).distinct.sorted
    private val xIdx = xs.zipWithIndex.toMap
    private val times = cells.map(_._1).distinct.sorted(Ordering[Long].reverse)
    private val byT = cells.groupBy(_._1)
    val n: Long = cells.map(_._3).sum
    val nEvents: Long = cells.map(_._4).sum

    /** One descending-t sweep at β, per-x risk counts maintained as the
      * suffix: calls `f(t, d_t, s_t, R, R1, R2)` at each event time, s_t
      * the observed event-covariate totals, R = Σ risk·e^{β·x},
      * R1_j = Σ x_j·risk·e^{β·x} and R2_jl (l ≥ j) = Σ x_j·x_l·risk·e^{β·x}.
      */
    private def sweep(beta: Array[Double])(f: (Long, Long, Array[Long],
        Double, Array[Double], Array[Array[Double]]) => Unit): Unit = {
      val riskByX = new Array[Double](xs.length)
      times.foreach { t =>
        val here = byT(t)
        here.foreach(c => riskByX(xIdx(c._2)) += c._3.toDouble)
        val dT = here.map(_._4).sum
        if (dT > 0) {
          val s = Array.tabulate(p)(j => here.map(c => c._2(j) * c._4).sum)
          var r = 0.0
          val r1 = new Array[Double](p)
          val r2 = Array.ofDim[Double](p, p)
          var k = 0
          while (k < xs.length) {
            val x = xs(k)
            var eta = 0.0
            for (j <- 0 until p) eta += beta(j) * x(j)
            val w = riskByX(k) * math.exp(eta)
            r += w
            for (j <- 0 until p) {
              r1(j) += x(j) * w
              for (l <- j until p) r2(j)(l) += x(j).toDouble * x(l) * w
            }
            k += 1
          }
          f(t, dT, s, r, r1, r2)
        }
      }
    }

    /** Score U(β) = Σ(s_t − d_t·R1/R) and information
      * I(β) = Σ d_t(R2/R − R1R1ᵀ/R²), upper triangle.
      */
    private def scoreInfo(beta: Array[Double])
        : (Array[Double], Array[Array[Double]]) = {
      val u = new Array[Double](p)
      val info = Array.ofDim[Double](p, p)
      sweep(beta) { (_, dT, s, r, r1, r2) =>
        for (j <- 0 until p) {
          u(j) += s(j) - dT * r1(j) / r
          for (l <- j until p)
            info(j)(l) += dT * (r2(j)(l) / r - (r1(j) / r) * (r1(l) / r))
        }
      }
      (u, info)
    }

    /** The Newton step I⁻¹U and se_j = √((I⁻¹)_jj) — u/I and 1/√I for
      * one covariate, the closed-form 2×2 inverse for two; None when U
      * or I is non-finite or I is singular/non-PD (a constant or
      * collinear covariate).
      */
    private def solve(ui: (Array[Double], Array[Array[Double]]))
        : Option[(Array[Double], Array[Double])] = {
      val (u, i) = ui
      if (p == 1) {
        val i11 = i(0)(0)
        if (!finite(u(0), i11) || i11 <= 0.0) None
        else Some((Array(u(0) / i11), Array(1.0 / math.sqrt(i11))))
      } else {
        val (i11, i12, i22) = (i(0)(0), i(0)(1), i(1)(1))
        val det = i11 * i22 - i12 * i12
        if (!finite(u(0), u(1), i11, i12, i22, det) || det <= 0.0) None
        else Some((Array((i22 * u(0) - i12 * u(1)) / det,
            (i11 * u(1) - i12 * u(0)) / det),
          Array(math.sqrt(i22 / det), math.sqrt(i11 / det))))
      }
    }

    /** Newton fit: Some((β̂, se)) iff converged within the budget
      * (closing step component-wise ≤ 1e-8·(1+|β̂_j|)), se from the
      * CLOSING sweep's information (the oracle's final evaluation
      * mirrors this extra sweep). None on a degenerate/non-finite sweep
      * (constant covariate, complete separation — a monotone likelihood
      * walks β to ±inf and e^{βx} overflows) or a still-material closing
      * step — never a silently-wrong point estimate.
      */
    def fit(iterations: Int): Option[(Array[Double], Array[Double])] = {
      val beta = new Array[Double](p)
      var it = 0
      var degenerate = false
      while (it < iterations && !degenerate) {
        solve(scoreInfo(beta)) match {
          case None => degenerate = true
          case Some((step, _)) =>
            for (j <- 0 until p) beta(j) += step(j)
            if (!beta.forall(java.lang.Double.isFinite)) degenerate = true
        }
        it += 1
      }
      if (degenerate) None
      else solve(scoreInfo(beta)).collect {
        case (step, se) if (0 until p).forall(j =>
            math.abs(step(j)) <= 1e-8 * (1.0 + math.abs(beta(j)))) =>
          (beta, se)
      }
    }

    /** The aggregated (Breslow-tie) Schoenfeld residuals at β, one row
      * per event time ascending: (t, d_t, and per covariate j the triple
      * (s_j,t, x̄_j(β,t) = R1_j/R, resid_j(t) = s_j,t − d_t·x̄_j)), plus
      * per covariate the OLS slope and Pearson correlation of resid_j on
      * t (NULL under < 2 event times or zero time variance; the corr
      * also under zero residual variance).
      */
    def schoenfeld(beta: Array[Double]): (Seq[(Long, Long,
        Seq[(Long, Double, Double)])], Seq[(Option[Double], Option[Double])]) = {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Seq[(Long, Double, Double)])]
      sweep(beta) { (t, dT, s, r, r1, _) =>
        out += ((t, dT, (0 until p).map { j =>
          val xbar = r1(j) / r
          (s(j), xbar, s(j) - dT * xbar)
        }))
      }
      val resid = out.sortBy(_._1).toSeq
      val m = resid.length.toDouble
      val ts = resid.map(_._1.toDouble)
      val st = ts.sum
      val stt = resid.map(r => r._1.toDouble * r._1).sum
      val vt = m * stt - st * st
      def trend(rs: Seq[Double]): (Option[Double], Option[Double]) = {
        val sr = rs.sum
        val srr = rs.map(r => r * r).sum
        val str = ts.zip(rs).map(p => p._1 * p._2).sum
        val vr = m * srr - sr * sr
        val cov = m * str - st * sr
        (if (m >= 2.0 && vt > 0.0) Some(cov / vt) else None,
          if (m >= 2.0 && vt > 0.0 && vr > 0.0)
            Some(cov / math.sqrt(vt * vr)) else None)
      }
      (resid, (0 until p).map(j => trend(resid.map(_._3(j)._3))))
    }
  }

  /** Proportional-hazards diagnostic for [[coxPh]] — the first
    * question after any Cox fit: does the hazard ratio actually stay
    * CONSTANT over time, or does the covariate's effect fade/grow (in
    * which case the single β is an average that misleads)? Emits the
    * aggregated (Breslow-tie) Schoenfeld residual per event time —
    * resid(t) = s_t − d_t·x̄(β̂,t), the observed event-covariate total
    * minus its risk-set expectation under the fitted model — plus the
    * OLS slope of resid on t and the Pearson correlation (the
    * Grambsch–Therneau-style trend read: under PH the residuals are
    * centered noise with no time trend; a planted time-varying effect
    * shows as |corr| >> 0). Same one-pass (t, x) cell grid and
    * bounded collect as coxPh; the residual frame is event-times-sized
    * (grid-bounded). Output: one row per event time (t, d, s_obs,
    * xbar, resid, slope, corr) with slope/corr constant across rows
    * (NULL when < 2 event times or zero time variance); ZERO rows when
    * the underlying fit did not converge — a diagnostic of a fit that
    * doesn't exist would be noise presented as signal.
    */
  def schoenfeldPh(df: DataFrame, durationCol: String, eventCol: String,
                   xCol: String, iterations: Int = 8,
                   maxCells: Int = 1 << 20): DataFrame = {
    val grid = coxGrid(df, durationCol, eventCol, Seq(xCol), iterations,
      maxCells, "schoenfeldPh")
    val spark = df.sparkSession
    import spark.implicits._
    val out = grid.fit(iterations).toSeq.flatMap { case (beta, _) =>
      val (resid, Seq((slope, corr))) = grid.schoenfeld(beta)
      resid.map { case (t, d, Seq((s, xbar, r))) =>
        (t, d, s, xbar, r, slope, corr)
      }
    }
    out.toDF("t", "d", "s_obs", "xbar", "resid", "slope", "corr")
  }

  /** Two-covariate Cox proportional hazards (Breslow ties) — the
    * [[coxPh]] design generalized to the smallest multivariate model a
    * real churn/hazard analysis needs: "does activity level still
    * multiply the conversion hazard AFTER adjusting for engagement
    * breadth?". Same scale posture: ONE corpus pass to the
    * (t, x1, x2) cell grid (all caller-quantized — the RankStats long
    * contract), bounded-collect, and driver Newton with the exact
    * 2×2 information solve per step (score U = (u1, u2), information
    * I = [[i11, i12], [i12, i22]], β ← β + I⁻¹U via the closed-form
    * inverse; O(times·gridCells) per iteration). se_j = √((I⁻¹)_jj) at
    * β̂, z_j = β_j/se_j. NULL fit when the information matrix is
    * singular/non-PD on any step (a collinear or constant covariate),
    * any sweep goes non-finite (complete separation), or the closing
    * Newton step is still material after the iteration budget — the
    * [[coxPh]] non-convergence stance, component-wise.
    */
  def coxPh2(df: DataFrame, durationCol: String, eventCol: String,
             x1Col: String, x2Col: String, iterations: Int = 8,
             maxCells: Int = 1 << 20): DataFrame = {
    val grid = coxGrid(df, durationCol, eventCol, Seq(x1Col, x2Col),
      iterations, maxCells, "coxPh2")
    val spark = df.sparkSession
    import spark.implicits._
    val none = None: Option[Double]
    val out = grid.fit(iterations) match {
      case None => (grid.n, grid.nEvents, none, none, none, none, none, none)
      case Some((b, se)) =>
        (grid.n, grid.nEvents, Some(b(0)), Some(se(0)), Some(b(0) / se(0)),
          Some(b(1)), Some(se(1)), Some(b(1) / se(1)))
    }
    Seq(out).toDF("n", "n_events", "beta1", "se1", "z1", "beta2",
      "se2", "z2")
  }

  /** Proportional-hazards diagnostic for [[coxPh2]] — [[schoenfeldPh]]
    * per covariate: after the two-covariate fit, does EACH hazard
    * ratio stay constant over time? One row per event time with both
    * covariates' aggregated (Breslow-tie) Schoenfeld residuals
    * resid_j(t) = s_j,t − d_t·x̄_j(β̂,t) and each covariate's OWN
    * residual-vs-time OLS slope and Pearson correlation (constant
    * across rows; NULL under < 2 event times or zero time variance) —
    * a time-varying effect on one covariate flags THAT covariate's
    * corr, not its partner's. Same (t, x1, x2) cell grid and bounded
    * collect as [[coxPh2]] (shared [[CoxGrid]]); ZERO rows when the
    * underlying fit did not converge.
    */
  def schoenfeldPh2(df: DataFrame, durationCol: String, eventCol: String,
                    x1Col: String, x2Col: String, iterations: Int = 8,
                    maxCells: Int = 1 << 20): DataFrame = {
    val grid = coxGrid(df, durationCol, eventCol, Seq(x1Col, x2Col),
      iterations, maxCells, "schoenfeldPh2")
    val spark = df.sparkSession
    import spark.implicits._
    val out = grid.fit(iterations).toSeq.flatMap { case (beta, _) =>
      val (resid, Seq((slope1, corr1), (slope2, corr2))) =
        grid.schoenfeld(beta)
      resid.map { case (t, d, Seq((s1, xb1, r1), (s2, xb2, r2))) =>
        (t, d, s1, xb1, r1, s2, xb2, r2, slope1, corr1, slope2, corr2)
      }
    }
    out.toDF("t", "d", "s1_obs", "xbar1", "resid1", "s2_obs", "xbar2",
      "resid2", "slope1", "corr1", "slope2", "corr2")
  }

  /** Two-group log-rank test: did the groups' time-to-event
    * distributions differ? One output row with the exact totals
    * (group labels, subject counts `n_a`/`n_b`, observed events
    * `d_a`/`d_b`) and the Mantel–Haenszel moments — `o_minus_e` =
    * Σ(d_a,t − E[d_a,t]), `var_sum` = Σ hypergeometric variances over
    * event times, and `z` = o_minus_e/√var_sum (NULL when var_sum = 0 —
    * e.g. every event ties at one time that exhausts the risk set).
    * Group a = lexicographic min label; exactly two non-NULL labels or
    * the header guard raises.
    */
  def logRank(df: DataFrame, durationCol: String, eventCol: String,
              groupCol: String, maxBlocks: Long = 1L << 20): DataFrame = {
    val op = "logRank"
    val rows = groupedRows(df, durationCol, eventCol, groupCol, op)
    val hdr = RankStats.twoGroupHeader(rows)
    val vc = rows.crossJoin(broadcast(hdr))
      .groupBy("_v")
      .agg(
        sum(when(col("_g") === col("group_a"), 1L).otherwise(0L)).as("_na"),
        sum(when(col("_g") === col("group_b"), 1L).otherwise(0L)).as("_nb"),
        sum(when(col("_g") === col("group_a"), col("_e")).otherwise(0L))
          .as("_da"),
        sum(when(col("_g") === col("group_b"), col("_e")).otherwise(0L))
          .as("_db"))
    val pre = prefixScan(withBoundedBlocks(vc, "_v", maxBlocks), Nil, "_v",
      Seq("_na", "_nb"))
      .crossJoin(broadcast(hdr))
    val n1 = (col("n_a") - col("_pre__na")).cast("double")
    val n2 = (col("n_b") - col("_pre__nb")).cast("double")
    val nn = n1 + n2
    val dd = (col("_da") + col("_db")).cast("double")
    // event-free times contribute 0 to both moments INSIDE the sums
    // (not via a filter): an all-censored cohort — a routine window
    // with no conversions yet — must still report its one row of
    // totals with z NULL, not vanish
    val isEvent = col("_da") + col("_db") > 0L
    val term = pre.select(
      col("group_a"), col("group_b"), col("n_a"), col("n_b"),
      col("_da"), col("_db"),
      when(isEvent, col("_da").cast("double") - dd * n1 / nn)
        .otherwise(lit(0.0)).as("_ome"),
      when(isEvent && nn > 1.0,
        dd * (n1 / nn) * (n2 / nn) * (nn - dd) / (nn - 1.0))
        .otherwise(lit(0.0)).as("_var"))
    term.groupBy("group_a", "group_b", "n_a", "n_b")
      .agg(sum("_da").as("d_a"), sum("_db").as("d_b"),
        sum("_ome").as("o_minus_e"), sum("_var").as("var_sum"))
      .withColumn("z",
        when(col("var_sum") > 0.0,
          col("o_minus_e") / sqrt(col("var_sum"))).otherwise(lit(null)
          .cast("double")))
  }
}

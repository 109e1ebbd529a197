package graft.llm

import graft.core.Checked
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Information-theoretic distribution audits at corpus scale: mutual
  * information between two categorical columns, per-slice token
  * diversity (entropy / type-token ratio / Simpson), Jensen–Shannon
  * divergence of each slice's token distribution against its
  * complement, and the effective sample size of importance weights —
  * the "is this source's language different, and do my sampling
  * weights still carry information?" toolkit that sits next to
  * [[RankStats]]' value-distribution tests (reference scope is
  * relational ingestion — `reports_check.sql` counts statuses — so
  * this family is beyond-reference surface for the training-data
  * pipeline).
  *
  * Scale posture: every statistic reduces over a grouped-count frame
  * ((a, b) cells, (slice, token) pairs, per-group weight moments) with
  * map-side combine — one keyed shuffle each, no global sorts, no
  * corpus-sized windows; slice totals broadcast. Exactness: counts and
  * squared-weight sums are exact integers/decimals; each headline
  * double is ONE closed-form expression over them, mirrored term for
  * term in the SQL oracle (the [[RankStats]] convention). Entropies
  * fold as H = ln N − (Σ c·ln c)/N, so the only non-integer aggregate
  * is Σ c·ln c — a commutative double sum whose cross-engine ULP noise
  * sits ~10 orders below the round-6 output contract.
  *
  * Contract: categorical/slice columns must be non-NULL (raise), the
  * [[RankStats]] stance; degenerate denominators yield NULL, never
  * NaN (a NaN compares false against every alert threshold — a
  * silently suppressed signal).
  */
object InfoStats {

  /** c·ln c with c an exact count (c ≥ 1, so no 0·ln 0 guard needed on
    * observed cells).
    */
  private def cLnC(c: Column): Column =
    c.cast("double") * log(c.cast("double"))

  /** Mutual information between two categorical columns, one row:
    * n, the three Shannon entropies in nats (`h_a`, `h_b`, `h_ab`),
    * `mi` = H(a) + H(b) − H(a,b) ≥ 0, and `nmi` = mi/√(H(a)·H(b))
    * (NULL when either marginal is constant — zero entropy has no
    * normalized association). The chi-square question ("are source
    * and language independent?") answered in bits-worth instead of a
    * significance statistic — 0 = independent, and nmi = 1 = one
    * column determines the other.
    *
    * Each entropy folds from exact counts as ln N − (Σ c·ln c)/N; the
    * `+ 0.0` on `mi` normalizes an IEEE −0.0 (independent columns put
    * the closed form within one ULP of zero from either side) so both
    * engines hash identically. Cells are |a-values|·|b-values| —
    * categorical audits only, the [[RankStats.chi2Cells]] scope rule.
    */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val rows = df.select(
      Checked.label(col(aCol), "mutualInformation", s"value in $aCol").as("a"),
      Checked.label(col(bCol), "mutualInformation", s"value in $bCol").as("b"))
    val cells = rows.groupBy("a", "b").agg(count(lit(1)).as("c"))
    val sAb = cells.agg(sum(cLnC(col("c"))).as("s_ab"), sum("c").as("n"))
    val sA = cells.groupBy("a").agg(sum("c").as("_r"))
      .agg(sum(cLnC(col("_r"))).as("s_a"), count(lit(1)).as("_ka"))
    val sB = cells.groupBy("b").agg(sum("c").as("_c"))
      .agg(sum(cLnC(col("_c"))).as("s_b"), count(lit(1)).as("_kb"))
    val nd = col("n").cast("double")
    val hA = log(nd) - col("s_a") / nd
    val hB = log(nd) - col("s_b") / nd
    val hAb = log(nd) - col("s_ab") / nd
    val mi = hA + hB - hAb
    sAb.crossJoin(broadcast(sA)).crossJoin(broadcast(sB))
      .select(col("n"),
        round(hA, 6).as("h_a"), round(hB, 6).as("h_b"),
        round(hAb, 6).as("h_ab"),
        (round(mi, 6) + lit(0.0)).as("mi"),
        // the constant-marginal guard keys off the EXACT distinct
        // counts, not the computed entropies: ln n − (n·ln n)/n lands
        // one ULP on either side of zero depending on n, so hA·hB > 0
        // would flip between engines (and between row counts)
        when(col("_ka") > 1L && col("_kb") > 1L,
          round(mi / sqrt(hA * hB), 6) + lit(0.0)).as("nmi"))
  }

  /** Per-slice (slice, token, cnt) cells from whitespace tokens — the
    * shared frame behind [[tokenDiversityBySlice]], [[tokenJsdBySlice]]
    * and the [[graft.streaming.InfoStream]] maintained state. Cells are
    * a commutative monoid under per-(slice, token) addition
    * ([[tokenCellsMerge]]), so any batching folds bit-identical to
    * one-shot counting — the calibrationCells contract. Slices whose
    * documents hold zero tokens are ABSENT from the output (there is
    * no distribution to measure).
    */
  def tokenCells(df: DataFrame, sliceCol: String, textCol: String,
                 op: String = "tokenCells"): DataFrame =
    df.select(Checked.label(col(sliceCol), op, s"slice in $sliceCol")
      .as("slice"),
      TextAnalysis.tokens(col(textCol)).as("_ts"))
      .select(col("slice"), explode(col("_ts")).as("token"))
      .groupBy("slice", "token").agg(count(lit(1)).as("cnt"))

  /** Fold two cell frames by per-(slice, token) addition — the monoid
    * merge behind the streaming state.
    */
  def tokenCellsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("slice", "token")
      .agg(sum(col("cnt")).as("cnt"))

  /** Vocabulary-diversity profile per slice, one row each: total and
    * distinct token counts, type-token ratio, Shannon entropy of the
    * token distribution (nats), and the unbiased Simpson repeat index
    * Σ c(c−1) / (n(n−1)) — the probability two tokens drawn without
    * replacement coincide (NULL for a one-token slice). Low entropy /
    * high Simpson flags template spam and boilerplate sources; TTR
    * drift flags a source whose crawler started truncating. The
    * Simpson numerator is exact in decimal; entropy folds as
    * ln n − (Σ c·ln c)/n from exact counts.
    */
  def tokenDiversityBySlice(df: DataFrame, sliceCol: String,
                            textCol: String): DataFrame =
    tokenDiversityFromCells(
      tokenCells(df, sliceCol, textCol, "tokenDiversityBySlice"))

  /** [[tokenDiversityBySlice]]'s finisher over a persisted/maintained
    * (slice, token, cnt) cell frame — the streaming read path shares
    * one implementation with the batch op (the calibrationFromCells
    * convention).
    */
  def tokenDiversityFromCells(cells: DataFrame): DataFrame = {
    val nT = col("n_tokens").cast("double")
    cells.groupBy("slice")
      .agg(sum("cnt").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(cLnC(col("cnt"))).as("_slc"),
        // c(c−1) ≤ 10³⁶ in decimal(18,0)² — exact to 10¹⁸ tokens/type
        sum(col("cnt").cast("decimal(18,0)") *
          (col("cnt") - 1L).cast("decimal(18,0)")).cast("double")
          .as("_rep2"))
      .select(col("slice"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / nT, 6).as("ttr"),
        round(log(nT) - col("_slc") / nT, 6).as("entropy"),
        when(col("n_tokens") > 1L,
          round(col("_rep2") / (nT * (nT - 1.0)), 9)).as("simpson"))
  }

  /** Jensen–Shannon divergence of every slice's token distribution
    * against its complement, in ONE pass: per slice (n_s, n_rest =
    * token totals, jsd ∈ [0, ln 2] in nats; NULL when the frame holds
    * a single slice — no complement to compare). The "which source's
    * VOCABULARY walked away from the corpus?" audit — where
    * [[RankStats.ksPerSlice]] compares a numeric column, this compares
    * the token distributions themselves, and (unlike KL) is symmetric
    * and finite on disjoint vocabularies (jsd = ln 2).
    *
    * The fold never materializes |tokens|×|slices|: rows are the
    * observed (slice, token) pairs joined to the global token counts,
    * so for each slice the Σ over tokens it does NOT contain reduces
    * to the closed form ½·ln 2·(1 − seen-complement-mass) — a token
    * absent from the slice has p = 0, m = q/2, and contributes
    * ½·q·ln 2 regardless of which token it is.
    */
  def tokenJsdBySlice(df: DataFrame, sliceCol: String,
                      textCol: String): DataFrame =
    tokenJsdFromCells(tokenCells(df, sliceCol, textCol, "tokenJsdBySlice"))

  /** [[tokenJsdBySlice]]'s finisher over a persisted/maintained
    * (slice, token, cnt) cell frame — one implementation for the batch
    * op and the [[graft.streaming.InfoStream]] read.
    */
  def tokenJsdFromCells(cells: DataFrame): DataFrame = {
    val g = cells.groupBy("token").agg(sum("cnt").as("_gc"))
    val nS = cells.groupBy("slice").agg(sum("cnt").as("n_s"))
    val tot = g.agg(sum("_gc").as("_tot"))
    val p = col("cnt").cast("double") / col("n_s").cast("double")
    val q = when(col("n_rest") > 0L,
      col("_qc").cast("double") / col("n_rest").cast("double"))
      .otherwise(lit(0.0))
    cells.join(g, Seq("token"))
      .join(broadcast(nS), Seq("slice"))
      .crossJoin(broadcast(tot))
      .withColumn("n_rest", col("_tot") - col("n_s"))
      .withColumn("_qc", col("_gc") - col("cnt"))
      .withColumn("_p", p).withColumn("_q", q)
      // p > 0 on every observed row, so ln(2p/(p+q)) is finite; the
      // complement term only exists where the complement saw the token
      .withColumn("_f",
        col("_p") * log(lit(2.0) * col("_p") / (col("_p") + col("_q"))) +
          when(col("_qc") > 0L,
            col("_q") * log(lit(2.0) * col("_q") / (col("_p") + col("_q"))))
            .otherwise(lit(0.0)))
      .groupBy(col("slice"), col("n_s"), col("n_rest"))
      .agg(sum("_f").as("_sf"), sum("_qc").as("_qseen"))
      .select(col("slice"), col("n_s"), col("n_rest"),
        when(col("n_rest") > 0L,
          round((col("_sf") + log(lit(2.0)) *
            (lit(1.0) - col("_qseen").cast("double") /
              col("n_rest").cast("double"))) / 2.0, 6) + lit(0.0))
          .as("jsd"))
  }

  /** Cross-entropy of every slice against ONE reference slice's
    * add-α-smoothed unigram model, per slice: n_s, `n_oov` (slice
    * tokens the reference never saw), `ce` = −(1/n_s)·Σ s_t·ln p_ref(t)
    * with p_ref(t) = (r_t + α)/(n_r + α·V) (V = corpus vocabulary, so
    * unseen tokens get the α floor instead of −∞), `ppl` = e^ce,
    * `h_s` = the slice's own empirical entropy, and
    * `kl` = ce − h_s ≥ 0 (Gibbs) = KL(slice ‖ smoothed reference) —
    * the eval-direction drift number: "how surprised would a model
    * trained on the reference be by this source?", which the symmetric
    * [[tokenJsdBySlice]] cannot answer. α in milli-units (the integer
    * contract); the reference slice must exist (raise — a typo'd
    * reference would otherwise score every slice against the α floor
    * and report uniform garbage).
    *
    * Shapes: the (slice, token) frame left-joins the reference's
    * vocab-sized count frame on the TOKEN key; n_r/V/α fold into ONE
    * broadcast row. Smoothing constants are exact integers; the only
    * double aggregate is Σ s·ln p.
    */
  def crossEntropyBySlice(df: DataFrame, sliceCol: String, textCol: String,
                          refSlice: String,
                          alphaMilli: Long = 1000L): DataFrame = {
    require(alphaMilli > 0L,
      s"crossEntropyBySlice: alphaMilli must be positive: $alphaMilli")
    val st = tokenCells(df, sliceCol, textCol, "crossEntropyBySlice")
    val ref = st.filter(col("slice") === refSlice)
      .select(col("token"), col("cnt").as("_rc"))
    // V, n_r and the ref-exists flag as one broadcast row; a missing
    // reference raises loudly (the guard rides _nr, which p uses)
    val consts = st.groupBy()
      .agg(countDistinct("token").as("_v"),
        sum(when(col("slice") === refSlice, col("cnt")).otherwise(0L))
          .as("_nr0"))
      .select(col("_v"),
        when(col("_nr0") === 0L,
          raise_error(lit(s"crossEntropyBySlice: reference slice " +
            s"'$refSlice' has no tokens")))
          .otherwise(col("_nr0")).as("_nr"))
    val alpha = alphaMilli.toDouble / 1000.0
    val p = (coalesce(col("_rc"), lit(0L)).cast("double") + lit(alpha)) /
      (col("_nr").cast("double") + lit(alpha) * col("_v").cast("double"))
    val nS = col("n_s").cast("double")
    st.join(ref, Seq("token"), "left")
      .crossJoin(broadcast(consts))
      .groupBy(col("slice"))
      .agg(sum("cnt").as("n_s"),
        sum(when(col("_rc").isNull, col("cnt")).otherwise(0L)).as("n_oov"),
        sum(col("cnt").cast("double") * log(p)).as("_slp"),
        sum(cLnC(col("cnt"))).as("_slc"))
      .select(col("slice"), col("n_s"), col("n_oov"),
        round(-col("_slp") / nS, 6).as("ce"),
        round(exp(-col("_slp") / nS), 6).as("ppl"),
        round(log(nS) - col("_slc") / nS, 6).as("h_s"),
        (round(-col("_slp") / nS - (log(nS) - col("_slc") / nS), 6) +
          lit(0.0)).as("kl"))
  }

  /** Concentration profile of a categorical mixture (domains, sources,
    * languages), one row: k (distinct values), n, `max_share`,
    * `hhi` = Σ share² (the Herfindahl index — 1/k when uniform, 1 when
    * one value owns everything), `gini` ∈ [0, 1−1/k] from the exact
    * sorted-counts identity (2·Σ i·c_(i) − (k+1)·n)/(k·n), and
    * `theil` = ln k − H(shares) ≥ 0 — three standard answers to "is
    * this mixture dominated?", each with a different tail sensitivity,
    * before a training plan trusts its domain weights. All three fold
    * from exact integer counts; the Gini rank window runs over the
    * k-row AGGREGATE frame (categorical audits only — the
    * [[mutualInformation]] scope rule), ordered by (count, value) so
    * ties rank deterministically (equal counts make Σ i·c_(i)
    * order-invariant).
    */
  def concentrationProfile(df: DataFrame, catCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(Checked.label(col(catCol), "concentrationProfile",
        s"value in $catCol").as("_d"))
      .groupBy("_d").agg(count(lit(1)).as("_c"))
    val ranked = counts.withColumn("_i",
      row_number().over(Window.orderBy(col("_c"), col("_d"))))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    ranked.agg(
      count(lit(1)).as("k"), sum("_c").as("n"), max("_c").as("_mx"),
      // Σ c² and Σ i·c exact in decimal; i ≤ k ≤ 10¹⁸ never overflows
      sum(col("_c").cast("decimal(18,0)") * col("_c").cast("decimal(18,0)"))
        .cast("double").as("_sc2"),
      sum(col("_i").cast("decimal(18,0)") * col("_c").cast("decimal(18,0)"))
        .cast("double").as("_sic"),
      sum(cLnC(col("_c"))).as("_slc"))
      .select(col("k"), col("n"),
        round(col("_mx").cast("double") / nD, 6).as("max_share"),
        round(col("_sc2") / (nD * nD), 6).as("hhi"),
        (round((lit(2.0) * col("_sic") - (kD + 1.0) * nD) / (kD * nD), 6) +
          lit(0.0)).as("gini"),
        (round(log(kD) - (log(nD) - col("_slc") / nD), 6) + lit(0.0))
          .as("theil"))
  }

  /** Effective sample size of non-negative integer importance weights
    * per group, one row each: n, Σw and Σw² (exact in decimal, emitted
    * as double), `ess` = (Σw)²/Σw² — the Kish formula: how many
    * EQUALLY-weighted samples this weighted set is worth —
    * `ess_ratio` = ess/n, and `max_share` = max w/Σw (one document
    * owning the mixture is the failure max_share catches before
    * ess_ratio moves). The health check a DSIR/temperature-sampling
    * plan runs before trusting its weights: ess_ratio near 1 means
    * the weighting is doing nothing; near 0 means a handful of
    * documents dominate the gradient. NULL ess for an all-zero-weight
    * group (nothing is sampled); negative or NULL weights raise —
    * importance weights have neither.
    */
  def essWeights(df: DataFrame, groupCol: String,
                 weightCol: String): DataFrame = {
    val rows = df.select(
      Checked.label(col(groupCol), "essWeights", s"group in $groupCol")
        .as("_g"),
      when(col(weightCol).isNull || col(weightCol) < 0,
        raise_error(concat(lit(s"essWeights: NULL or negative weight in " +
          s"$weightCol: "),
          // concat(NULL) would NULL the whole message and raise_error
          // would fire blank — name the NULL instead
          coalesce(col(weightCol).cast("string"), lit("NULL")))))
        .otherwise(col(weightCol)).cast("long").as("_w"))
    rows.groupBy(col("_g").as("group"))
      .agg(count(lit(1)).as("n"),
        sum(col("_w").cast("decimal(20,0)")).cast("double").as("sum_w"),
        // w² ≤ 10³⁶ in decimal(18,0)² — exact for milli-unit weights
        // to 10¹⁸; Long would wrap silently past w ≈ 3×10⁹
        sum(col("_w").cast("decimal(18,0)") * col("_w").cast("decimal(18,0)"))
          .cast("double").as("sum_w2"),
        max("_w").as("max_w"))
      .select(col("group"), col("n"), col("sum_w"), col("sum_w2"),
        col("max_w"),
        when(col("sum_w2") > 0.0,
          round(col("sum_w") * col("sum_w") / col("sum_w2"), 6)).as("ess"),
        when(col("sum_w2") > 0.0,
          round(col("sum_w") * col("sum_w") / col("sum_w2") /
            col("n").cast("double"), 6)).as("ess_ratio"),
        when(col("sum_w") > 0.0,
          round(col("max_w").cast("double") / col("sum_w"), 6))
          .as("max_share"))
  }
}

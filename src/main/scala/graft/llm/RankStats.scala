package graft.llm

import graft.core.Checked
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Packing.{prefixScan, withBoundedBlocks}

/** Exact nonparametric distribution-comparison statistics at corpus
  * scale: tie-averaged ranks, the two-sample Mann–Whitney U and
  * Kolmogorov–Smirnov tests, tie-corrected Spearman correlation, and
  * chi-square contingency cells — the "did this slice's distribution
  * move?" toolkit a curation pipeline runs before trusting a new
  * source, filter, or scorer (reference scope is relational ingestion;
  * its monitoring queries — `reports_check.sql` — count statuses, so
  * distributional comparison is part of this engine's beyond-reference
  * surface, next to Evals/Profile.psiDrift).
  *
  * Scale posture: every statistic here reduces over the DISTINCT-VALUE
  * frame, never a per-row global sort. Ranks/ECDFs need a global
  * ordered prefix sum, which a naive `Window.orderBy` computes on ONE
  * task over the whole corpus; instead the per-value counts (one keyed
  * shuffle, map-side combined) run [[Packing.prefixScan]] over
  * span-scaled value blocks ([[Packing.withBoundedBlocks]]) — so a hot
  * value is ONE row and the plan shape survives 100 TB. Exactness: ranks are
  * kept in 2× integer units (a tie-averaged rank is always a multiple
  * of ½), ECDF deviations in n_a·n_b integer units, and the cubic tie
  * terms in decimal(38,0) — every headline double is derived from exact
  * integer aggregates in ONE closed-form expression a SQL oracle can
  * mirror term for term.
  *
  * Contract (the calibrationBins/curriculumStages stance): values must
  * be non-NULL and long-castable — a continuous score is quantized by
  * the CALLER (e.g. milli-units), which fixes the tie semantics
  * explicitly instead of trusting float equality; NULLs raise.
  */
object RankStats {

  /** Named-overflow long cast for a decimal rank-sum aggregate: rank
    * sums reach N(N+1) and silently wrap a non-ANSI Long past ~3×10⁹
    * rows, three orders of magnitude before the decimal tie terms
    * strain — accumulate in decimal(38,0) and fail loudly at the Long
    * boundary instead (the withBoundedBlocks span-guard stance).
    */
  private def checkedRankSum(sumDec: Column, op: String): Column =
    when(sumDec > lit(Long.MaxValue).cast("decimal(38,0)"),
      raise_error(concat(
        lit(s"$op: rank sum overflows Long ("), sumDec.cast("string"),
        lit(") — the 2x rank algebra is exact only below 2^63"))))
      .otherwise(sumDec).cast("long")

  /** Guarded decimal(12,0) tie count: every cubic tie term in this file
    * multiplies three decimal(12,0) copies of a tie-group size t (t³
    * stays inside the 38-digit precision cap), which is exact only for
    * t ≤ 10¹²−1 — past that the non-ANSI cast yields NULL and sum()
    * SKIPS the group silently (an undercounted tie term, not even an
    * error). One guarded home for all five call sites: fail loudly at
    * the boundary instead.
    */
  private def checkedTieCount(t: Column, op: String): Column =
    when(t > lit(999999999999L),
      raise_error(concat(
        lit(s"$op: tie-group size "), t.cast("string"),
        lit(" exceeds the exact cubic-tie domain (10^12-1) — " +
          "quantize coarser"))))
      .otherwise(t).cast("decimal(12,0)")

  /** Tie-averaged ranks in 2× integer units, one row per DISTINCT
    * value: (value, n, rank2) with rank2 = 2·(count below) + n + 1 —
    * every element of the value's tie group shares it, and
    * Σ n·rank2 = N·(N+1) (the rank-sum invariant SpearmanSpec pins).
    * Join back on the value column to rank a corpus; the frame itself
    * is distinct-values-sized.
    */
  def avgRanks2(df: DataFrame, valueCol: String,
                maxBlocks: Long = 1L << 20): DataFrame = {
    val vc = df
      .select(Checked.long(col(valueCol), "avgRanks2", s"value in $valueCol")
        .as("_v"))
      .groupBy("_v").agg(count(lit(1)).as("_n"))
    prefixScan(withBoundedBlocks(vc, "_v", maxBlocks), Nil,
      "_v", Seq("_n"))
      .select(col("_v").as("value"), col("_n").as("n"),
        (lit(2L) * col("_pre__n") + col("_n") + 1L).as("rank2"))
  }

  /** The two group labels + totals of a two-sample frame as ONE
    * broadcastable row (group_a = lexicographic min), raising loudly
    * unless `groupCol` holds exactly two non-NULL labels — a silent
    * third group would corrupt both U and D.
    */
  private[llm] def twoGroupHeader(rows: DataFrame): DataFrame =
    rows.groupBy("_g").agg(count(lit(1)).as("_cnt"))
      .agg(count(lit(1)).as("_ng"), min("_g").as("_ga"),
        max("_g").as("group_b"),
        min_by(col("_cnt"), col("_g")).as("n_a"),
        max_by(col("_cnt"), col("_g")).as("n_b"))
      // the guard must ride a column the caller KEEPS — a dropped
      // guard column is pruned by the optimizer and never evaluates
      .select(
        when(col("_ng") =!= 2L, raise_error(concat(
          lit("RankStats: expected exactly 2 groups, got "),
          col("_ng").cast("string")))).otherwise(col("_ga")).as("group_a"),
        col("group_b"), col("n_a"), col("n_b"))

  /** Per-distinct-value two-group cells with exclusive prefixes:
    * (_v, _na, _nb, _pre__na, _pre__nb) plus the header columns.
    */
  private def twoGroupPrefixes(df: DataFrame, valueCol: String,
                               groupCol: String, op: String,
                               maxBlocks: Long): DataFrame = {
    val rows = df.select(
      Checked.long(col(valueCol), op, s"value in $valueCol").as("_v"),
      Checked.label(col(groupCol), op, s"group in $groupCol").as("_g"))
    val hdr = twoGroupHeader(rows)
    val vc = rows.crossJoin(broadcast(hdr))
      .groupBy("_v")
      .agg(sum(when(col("_g") === col("group_a"), 1L).otherwise(0L))
        .as("_na"),
        sum(when(col("_g") === col("group_b"), 1L).otherwise(0L)).as("_nb"))
    prefixScan(withBoundedBlocks(vc, "_v", maxBlocks), Nil,
      "_v", Seq("_na", "_nb"))
      .crossJoin(broadcast(hdr))
  }

  /** Two-sample Mann–Whitney U (Wilcoxon rank-sum), tie-averaged, one
    * output row: U in 2× integer units (`u_a2` = 2·U_a — exact even
    * when ties make U half-integral), the 2× rank sum `r_a2`, the cubic
    * tie term Σ(t³−t), and the tie-corrected normal-approximation `z`
    * derived from those integers in one mirrored expression (NULL when
    * every value ties — σ = 0 has no z). Group a = lexicographic min
    * label. The test answers "is slice a's value distribution
    * stochastically larger?" without assuming normality — the right
    * tool for skewed corpus measures (lengths, scores).
    */
  def mannWhitney(df: DataFrame, valueCol: String, groupCol: String,
                  maxBlocks: Long = 1L << 20): DataFrame = {
    val pre = twoGroupPrefixes(df, valueCol, groupCol, "mannWhitney",
      maxBlocks)
    pre.groupBy("group_a", "group_b", "n_a", "n_b")
      .agg(
        checkedRankSum(sum(col("_na").cast("decimal(18,0)") *
          (lit(2L) * (col("_pre__na") + col("_pre__nb")) +
            col("_na") + col("_nb") + 1L).cast("decimal(19,0)")),
          "mannWhitney").as("r_a2"),
        // decimal(12,0) keeps the product precision at (38,0) without
        // hitting Spark's 38-digit multiplication cap; checkedTieCount
        // raises loudly at the t ≤ 10¹²−1 boundary
        sum(checkedTieCount(col("_na") + col("_nb"), "mannWhitney") *
          (col("_na") + col("_nb")).cast("decimal(12,0)") *
          (col("_na") + col("_nb")).cast("decimal(12,0)") -
          (col("_na") + col("_nb"))).cast("double").as("tie_term"))
      .withColumn("u_a2", col("r_a2") - col("n_a") * (col("n_a") + 1L))
      .withColumn("u_b2",
        lit(2L) * col("n_a") * col("n_b") - col("u_a2"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("r_a2"), col("u_a2"), col("u_b2"), col("tie_term"),
        round(mwZ(), 6).as("z"))
  }

  /** Tie-corrected z for [[mannWhitney]], mirrored term for term in the
    * SQL oracle: z = (U_a − μ)/σ with μ = n_a·n_b/2 and
    * σ² = n_a·n_b/12 · ((N+1) − T/(N(N−1))).
    */
  private def mwZ(): Column = {
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val n = na + nb
    val sig2 = na * nb / 12.0 *
      ((n + 1.0) - col("tie_term") / (n * (n - 1.0)))
    when(sig2 > 0.0,
      (col("u_a2").cast("double") / 2.0 - na * nb / 2.0) / sqrt(sig2))
  }

  /** Two-sample Kolmogorov–Smirnov statistic, exact: the max ECDF
    * deviation in n_a·n_b integer units (`d_num` — D = d_num/(n_a·n_b),
    * emitted rounded as `d`) and the smallest value attaining it
    * (`d_at`, deterministic tiebreak). ECDFs step at the combined
    * sample's distinct values, so evaluating the inclusive cumulative
    * counts there is exact, and the deviation algebra
    * |cum_a·n_b − cum_b·n_a| never leaves Long while n_a·n_b < 2⁶³
    * (n ≲ 6×10⁹ balanced — the ECDF-deviation domain shared with
    * [[ksPerSlice]]; [[wasserstein1]]'s is tighter — 10¹⁸−1, guarded
    * loudly — because its deviations are multiplied by value gaps in
    * decimal). KS reacts to ANY
    * distribution change (shape, not just location) — the stricter
    * sibling of [[mannWhitney]]'s shift test.
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             maxBlocks: Long = 1L << 20): DataFrame = {
    val devs = twoGroupPrefixes(df, valueCol, groupCol, "ksTest", maxBlocks)
      .withColumn("_dev",
        abs((col("_pre__na") + col("_na")) * col("n_b") -
          (col("_pre__nb") + col("_nb")) * col("n_a")))
    // single-pass deterministic argmax (max dev, then MIN value): ~v
    // reverses the value order without the -v overflow at Long.MinValue
    devs.groupBy("group_a", "group_b", "n_a", "n_b")
      .agg(max(struct(col("_dev").as("dev"),
        bitwise_not(col("_v")).as("nv"))).as("_m"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("_m.dev").as("d_num"), bitwise_not(col("_m.nv")).as("d_at"),
        round(col("_m.dev").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("d"))
  }

  /** Tie-corrected Spearman rank correlation of two long-valued
    * columns, one output row: n, Σd² in 4× integer units (`sum_d2_4` —
    * exact in decimal, emitted as double), the cubic tie terms `tx`/
    * `ty` = Σ(t³−t) per column, and `rho` by the tie-corrected
    * shortcut rho = ((n³−n) − 6Σd² − (Tx+Ty)/2) /
    * √((n³−n−Tx)(n³−n−Ty)) — algebraically Pearson on tie-averaged
    * ranks, NULL when either column is constant (zero rank variance
    * has no correlation). The monotone-association probe: "does
    * quality rise with length?" without assuming linearity.
    *
    * Both rank frames come from [[avgRanks2]] (distinct-value-sized)
    * and join back on the value — no per-row global sort. Exactness
    * bound: the double algebra is exact while n³ < 2⁵³ (n ≲ 2×10⁶);
    * past that rho loses ULPs but stays deterministic (same IEEE ops,
    * same order, both engines).
    */
  def spearman(df: DataFrame, xCol: String, yCol: String,
               maxBlocks: Long = 1L << 20): DataFrame = {
    val rows = df.select(
      Checked.long(col(xCol), "spearman", s"value in $xCol").as("_x"),
      Checked.long(col(yCol), "spearman", s"value in $yCol").as("_y"))
    // per-ROW tie share: a value with t rows contributes t²−1 on each
    // of them, so the row sum is Σ t·(t²−1) = Σ(t³−t) — exact integer
    // algebra, no division. decimal(12,0) factors keep the product
    // inside Spark's 38-digit precision cap (loud at the boundary).
    def tieShare(n: Column): Column =
      checkedTieCount(n, "spearman") * n.cast("decimal(12,0)") - 1
    val rx = avgRanks2(rows, "_x", maxBlocks)
      .select(col("value").as("_x"), col("rank2").as("_rx"),
        tieShare(col("n")).as("_txs"))
    val ry = avgRanks2(rows, "_y", maxBlocks)
      .select(col("value").as("_y"), col("rank2").as("_ry"),
        tieShare(col("n")).as("_tys"))
    val joined = rows.join(rx, Seq("_x")).join(ry, Seq("_y"))
    joined.agg(
      count(lit(1)).as("n"),
      sum((col("_rx") - col("_ry")).cast("decimal(18,0)") *
        (col("_rx") - col("_ry")).cast("decimal(18,0)"))
        .cast("double").as("sum_d2_4"),
      sum(col("_txs")).cast("double").as("tx"),
      sum(col("_tys")).cast("double").as("ty"))
      .select(col("n"), col("sum_d2_4"), col("tx"), col("ty"),
        round(spearmanRho(), 6).as("rho"))
  }

  /** The tie-corrected rho expression over [[spearman]]'s aggregate
    * row, mirrored term for term in the SQL oracle. Σd² = sum_d2_4/4,
    * so 6Σd² = 1.5·sum_d2_4.
    */
  private def spearmanRho(): Column = {
    val nd = col("n").cast("double")
    val cubic = nd * nd * nd - nd
    val den = (cubic - col("tx")) * (cubic - col("ty"))
    when(den > 0.0,
      (cubic - lit(1.5) * col("sum_d2_4") - (col("tx") + col("ty")) / 2.0) /
        sqrt(den))
  }

  /** Tie-corrected Kendall tau-b without the O(n²) pair join: the
    * corpus reduces to the distinct (x, y) CELL frame (one keyed
    * aggregate — the caller's quantization bounds it by the grid, never
    * the corpus), and concordant pairs are counted by 2D dominance over
    * cells in two grid-bounded terms:
    *
    *  - **cross-block**: the x axis is cut into ≤ maxBlocks span
    *    blocks (dense-ranked so absent spans cost nothing); each cell
    *    emits one probe per EARLIER present block, and one window per
    *    block partition — ordered (y, tag) with probes sorting before
    *    same-y masses, so "strictly below" needs no self-join — reads
    *    off the mass of that block under the cell's y. Cost
    *    O(cells · blocks).
    *  - **within-block**: an equi-join on the block id with the
    *    (x' < x, y' < y) residual — Σ blockCells², never cells².
    *
    * Total work ≈ cells·B + cells²/B, minimized near B = √cells and
    * independent of corpus size; discordant pairs come free from the
    * exact tie algebra (2(C+D) = n(n−1) − T1₂ − T2₂ + T3₂). Every
    * count is exact decimal folded to guarded longs (the
    * checkedRankSum stance); `tau_b` is the ONE closed-form double.
    * Output: n, n_pairs, concordant, discordant, t1, t2, t3 (pairs
    * tied in x / in y / in both), tau_b, somers_d (each NULL when its
    * normalizing margin is all ties).
    */
  def kendallTau(df: DataFrame, xCol: String, yCol: String,
                 maxBlocks: Long = 1024L): DataFrame = {
    val op = "kendallTau"
    val rows = df.select(
      Checked.long(col(xCol), op, s"value in $xCol").as("_x"),
      Checked.long(col(yCol), op, s"value in $yCol").as("_y"))
    val cells = rows.groupBy("_x", "_y").agg(count(lit(1)).as("_n"))
    // dense-rank the PRESENT x blocks: withBoundedBlocks ids are
    // span-scaled (sparse when the grid is), and the probe expansion
    // below pays one row per earlier id — rank over the ≤ maxBlocks
    // block-summary frame so it pays per present block only
    val blocked = withBoundedBlocks(cells, "_x", maxBlocks)
    val blkIds = blocked.select("_blk").distinct()
      .withColumn("_bid",
        row_number().over(Window.orderBy("_blk")).cast("long") - 1L)
    val cb = blocked.join(broadcast(blkIds), Seq("_blk")).drop("_blk")

    val dec = "decimal(18,0)"
    // within-block dominance: block-local pairs only
    val lhs = cb.select(col("_bid"), col("_x").as("_xl"),
      col("_y").as("_yl"), col("_n").as("_nl"))
    val rhs = cb.select(col("_bid"), col("_x").as("_xr"),
      col("_y").as("_yr"), col("_n").as("_nr"))
    val within = lhs.join(rhs, Seq("_bid"))
      .filter(col("_xl") < col("_xr") && col("_yl") < col("_yr"))
      .agg(coalesce(sum(col("_nl").cast(dec) * col("_nr").cast(dec)),
        lit(0).cast("decimal(38,0)")).as("_cw"))

    // cross-block dominance: per-cell probes into every earlier
    // block's y-prefix; a probe (tag 0) sorts before same-y mass rows
    // (tag 1), so the running sum at the probe is the STRICT below-y
    // mass of that block
    val mass = cb.select(col("_bid"), col("_y"), col("_n").as("_w"),
      lit(1L).as("_tag"), lit(null).cast("long").as("_qn"))
    val probes = cb.filter(col("_bid") > 0L)
      .select(explode(expr("sequence(0, _bid - 1)")).as("_bid"),
        col("_y"), lit(0L).as("_w"), lit(0L).as("_tag"),
        col("_n").as("_qn"))
    val wBlk = Window.partitionBy("_bid").orderBy("_y", "_tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cross = mass.unionByName(probes)
      .withColumn("_below", sum(col("_w")).over(wBlk))
      .filter(col("_tag") === 0L)
      .agg(coalesce(sum(col("_qn").cast(dec) * col("_below").cast(dec)),
        lit(0).cast("decimal(38,0)")).as("_cc"))

    // exact tie algebra in 2x (pair-doubled) units: cx(cx−1) etc.
    def pairs2(c: Column): Column =
      checkedTieCount(c, op) * (c.cast("decimal(12,0)") - 1)
    val margins = cells.groupBy("_x").agg(sum("_n").as("_cx"))
      .agg(coalesce(sum(pairs2(col("_cx"))), lit(0).cast("decimal(38,0)"))
        .as("_t12"))
      .crossJoin(broadcast(cells.groupBy("_y").agg(sum("_n").as("_cy"))
        .agg(coalesce(sum(pairs2(col("_cy"))),
          lit(0).cast("decimal(38,0)")).as("_t22"))))
      .crossJoin(broadcast(cells.agg(
        coalesce(sum("_n"), lit(0L)).as("_nt"),
        coalesce(sum(pairs2(col("_n"))), lit(0).cast("decimal(38,0)"))
          .as("_t32"))))

    val agg = within.crossJoin(broadcast(cross))
      .crossJoin(broadcast(margins))
    val n02 = col("_nt").cast("decimal(38,0)") * (col("_nt") - 1)
    val cPlusD2 = n02 - col("_t12") - col("_t22") + col("_t32")
    // every output count must fit a LONG anyway (the oracle compare is
    // BIGINT), so fold the exact decimals through the loud guard FIRST
    // and halve with long `div` — decimal division would smuggle scale
    // in; 2(C+D) = n(n−1) − T1₂ − T2₂ + T3₂ is even by construction
    def toLong(c: Column, what: String): Column =
      checkedRankSum(c.cast("decimal(38,0)"), s"$op $what")
    val longs = agg.select(
      col("_nt").as("n"),
      toLong(n02, "n_pairs2").as("_np2"),
      toLong(col("_cw") + col("_cc"), "concordant").as("concordant"),
      toLong(cPlusD2, "concordant+discordant (2x)").as("_cpd2"),
      toLong(col("_t12"), "t1 (2x)").as("_t12l"),
      toLong(col("_t22"), "t2 (2x)").as("_t22l"),
      toLong(col("_t32"), "t3 (2x)").as("_t32l"))
    longs.select(
      col("n"),
      expr("_np2 div 2").as("n_pairs"),
      col("concordant"),
      expr("_cpd2 div 2 - concordant").as("discordant"),
      expr("_t12l div 2").as("t1"),
      expr("_t22l div 2").as("t2"),
      expr("_t32l div 2").as("t3"))
      .withColumn("tau_b",
        when((col("n_pairs") - col("t1")).cast("double") *
          (col("n_pairs") - col("t2")).cast("double") > 0.0,
          (col("concordant") - col("discordant")).cast("double") /
            sqrt((col("n_pairs") - col("t1")).cast("double") *
              (col("n_pairs") - col("t2")).cast("double"))))
      // Somers' D_y|x — the asymmetric companion (normalizes by pairs
      // untied in x only; with a binary y it is credit-scoring's Gini)
      .withColumn("somers_d",
        when(col("n_pairs") - col("t1") > 0L,
          (col("concordant") - col("discordant")).cast("double") /
            (col("n_pairs") - col("t1")).cast("double")))
  }

  /** Mann–Whitney U of EVERY slice against its complement, in ONE
    * corpus pass: global tie-averaged ranks are computed once over the
    * combined distribution (per-value counts + the two-level prefix),
    * then each slice's rank sum folds from its (slice, value) counts —
    * k slices cost one value shuffle plus one slice aggregation, not k
    * scans. The "which source's length/score distribution shifted?"
    * audit. Per slice: n_s, n_rest, the 2× rank sum and U (`r_s2`,
    * `u_s2`; u_rest2 = 2·n_s·n_rest − u_s2 by symmetry), and the
    * tie-corrected z against the complement (NULL when σ = 0). The
    * cubic tie term is a property of the COMBINED distribution, shared
    * by every slice's variance.
    */
  def mannWhitneyPerSlice(df: DataFrame, valueCol: String,
                          sliceCol: String,
                          maxBlocks: Long = 1L << 20): DataFrame = {
    val rows = df.select(
      Checked.long(col(valueCol), "mannWhitneyPerSlice",
        s"value in $valueCol").as("_v"),
      Checked.label(col(sliceCol), "mannWhitneyPerSlice",
        s"slice in $sliceCol").as("_s"))
    val vc = rows.groupBy("_v").agg(count(lit(1)).as("_n"))
    val ranked = prefixScan(withBoundedBlocks(vc, "_v", maxBlocks), Nil,
      "_v", Seq("_n"))
      .select(col("_v"),
        (lit(2L) * col("_pre__n") + col("_n") + 1L).as("_rank2"))
    val globals = vc.agg(sum("_n").as("_tot"),
      sum(checkedTieCount(col("_n"), "mannWhitneyPerSlice") *
        col("_n").cast("decimal(12,0)") *
        col("_n").cast("decimal(12,0)") - col("_n"))
        .cast("double").as("tie_term"))
    rows.groupBy("_s", "_v").agg(count(lit(1)).as("_nsv"))
      .join(ranked, Seq("_v"))
      .groupBy("_s")
      .agg(sum("_nsv").as("n_s"),
        checkedRankSum(sum(col("_nsv").cast("decimal(18,0)") *
          col("_rank2").cast("decimal(19,0)")), "mannWhitneyPerSlice")
          .as("r_s2"))
      .crossJoin(broadcast(globals))
      .withColumn("n_rest", col("_tot") - col("n_s"))
      .withColumn("u_s2", col("r_s2") - col("n_s") * (col("n_s") + 1L))
      .select(col("_s").as("slice"), col("n_s"), col("n_rest"),
        col("r_s2"), col("u_s2"), col("tie_term"),
        round(sliceZ(), 6).as("z"))
  }

  /** z of one slice vs its complement from [[mannWhitneyPerSlice]]'s
    * columns — same closed form as [[mwZ]] with (n_s, n_rest).
    */
  private def sliceZ(): Column = {
    val na = col("n_s").cast("double")
    val nb = col("n_rest").cast("double")
    val n = na + nb
    val sig2 = na * nb / 12.0 *
      ((n + 1.0) - col("tie_term") / (n * (n - 1.0)))
    when(sig2 > 0.0,
      (col("u_s2").cast("double") / 2.0 - na * nb / 2.0) / sqrt(sig2))
  }

  /** Two-sided normal p from a z-score: p = erfc(|z|/√2) via the
    * Abramowitz–Stegun 7.1.26 polynomial (|ε| ≤ 1.5×10⁻⁷), computed as
    * poly·e^(−x²) directly — the 1 − erf form would cancel near z = 0.
    * Both engines run the SAME Horner chain (the oracle mirrors it
    * term for term); exp() itself remains engine libm (1-ulp class),
    * which is why [[bhFdr]] quantizes p before any integer/Boolean
    * decision rides on it.
    */
  private def normTwoSidedP(z: Column): Column = {
    val x = abs(z) / lit(math.sqrt(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
      t * (lit(1.421413741) + t * (lit(-1.453152027) +
        t * lit(1.061405429)))))
    poly * exp(-(x * x))
  }

  /** Benjamini–Hochberg step-up control at FDR α = alphaPermille/1000
    * over per-slice z-scores (e.g. [[mannWhitneyPerSlice]]'s): the
    * multiple-testing gate that keeps a 1000-slice drift audit from
    * crying wolf ~α·1000 times on pure noise. Slices with a NULL z
    * (σ = 0 — no test statistic exists) are EXCLUDED from the family;
    * the tested slices rank by two-sided p ascending (slice-name
    * tie-break), k* = max{i : p₍ᵢ₎ ≤ α·i/m}, and every rank ≤ k* flags
    * significant — including any non-qualifying p's BELOW k* (the
    * step-up's defining quirk). Output: slice, z, p, rank, m,
    * significant. The ranking window rides the SLICE frame — bounded
    * by slice cardinality, never the corpus (the conformal-frame
    * stance).
    */
  def bhFdr(df: DataFrame, sliceCol: String, zCol: String,
            alphaPermille: Int = 50): DataFrame = {
    require(alphaPermille > 0 && alphaPermille < 1000,
      s"alphaPermille must be in (0, 1000), got $alphaPermille")
    // p is quantized to 12 decimals BEFORE ranking: the Horner chain is
    // mirrored, but exp() is engine libm (JVM vs C, each within 1 ulp,
    // neither correctly rounded) — and rank/significant are INTEGER and
    // BOOLEAN outputs, so a 1-ulp p difference at a threshold or
    // between two near-equal slices would flip them with nothing to
    // absorb it. At 12 decimals the ~1e-16 drift vanishes and true
    // near-ties resolve on the deterministic slice-name tie-break.
    val tested = df.filter(col(zCol).isNotNull)
      .select(col(sliceCol).cast("string").as("slice"),
        col(zCol).cast("double").as("z"))
      .withColumn("p", round(normTwoSidedP(col("z")), 12))
    val m1 = tested.agg(count(lit(1)).as("m"))
    val w = Window.orderBy("p", "slice")
    val ranked = tested.crossJoin(broadcast(m1))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("_q",
        col("p") * col("m").cast("double") <=
          lit(alphaPermille / 1000.0) * col("rank").cast("double"))
    val kstar = ranked.agg(max(when(col("_q"), col("rank"))).as("_kstar"))
    ranked.crossJoin(broadcast(kstar))
      .select(col("slice"), col("z"), col("p"), col("rank"), col("m"),
        (col("rank") <= coalesce(col("_kstar"), lit(0L)))
          .as("significant"))
  }

  /** CUPED variance reduction for an A/B experiment: adjust each
    * unit's post-period metric y by its pre-period covariate x —
    * y′ = y − θ(x − x̄), θ = cov(x, y)/var(x) pooled over all units —
    * the standard trick that shrinks metric variance by exactly ρ²
    * (the squared pre/post correlation) without biasing the treatment
    * contrast, because θ and x̄ are experiment-wide constants. One
    * keyed aggregate per arm plus one broadcast pooled-moment row; θ,
    * the adjusted means and ρ² are closed-form doubles over exact
    * quantized integer moments (the CALLER quantizes x and y — the
    * RankStats long contract — so Sxy/Sxx/Syy stay exact decimal).
    * Output: one row per arm (arm, n, sum_x, sum_y exact; mean_y,
    * mean_adj, theta, rho2 doubles — theta/rho2 repeat the pooled
    * value on every row). θ is NULL when var(x) = 0 (constant
    * covariate: nothing to adjust with; mean_adj = mean_y).
    */
  def cupedAdjust(df: DataFrame, xCol: String, yCol: String,
                  armCol: String): DataFrame = {
    val op = "cupedAdjust"
    val dec = "decimal(38,0)"
    val rows = df.select(
      Checked.long(col(xCol), op, s"value in $xCol").as("_x"),
      Checked.long(col(yCol), op, s"value in $yCol").as("_y"),
      Checked.label(col(armCol), op, s"arm in $armCol").as("_arm"))
    val pooled = rows.agg(
      count(lit(1)).as("_n"),
      sum("_x").as("_sx"), sum("_y").as("_sy"),
      sum(col("_x").cast(dec) * col("_x").cast(dec)).as("_sxx"),
      sum(col("_x").cast(dec) * col("_y").cast(dec)).as("_sxy"),
      sum(col("_y").cast(dec) * col("_y").cast(dec)).as("_syy"))
    val vx = (col("_n").cast(dec) * col("_sxx") -
      col("_sx").cast(dec) * col("_sx").cast(dec)).cast("double")
    val vy = (col("_n").cast(dec) * col("_syy") -
      col("_sy").cast(dec) * col("_sy").cast(dec)).cast("double")
    val cxy = (col("_n").cast(dec) * col("_sxy") -
      col("_sx").cast(dec) * col("_sy").cast(dec)).cast("double")
    rows.groupBy("_arm")
      .agg(count(lit(1)).as("n"),
        sum("_x").as("sum_x"), sum("_y").as("sum_y"))
      .crossJoin(broadcast(pooled))
      .select(col("_arm").as("arm"), col("n"), col("sum_x"), col("sum_y"),
        (col("sum_y").cast("double") / col("n").cast("double"))
          .as("mean_y"),
        when(vx > 0.0, cxy / vx).as("theta"),
        when(vx > 0.0 && vy > 0.0, cxy / vx * (cxy / vy)).as("rho2"),
        col("_sx"), col("_n"))
      .withColumn("mean_adj",
        col("mean_y") - coalesce(col("theta"), lit(0.0)) *
          (col("sum_x").cast("double") / col("n").cast("double") -
            col("_sx").cast("double") / col("_n").cast("double")))
      .drop("_n", "_sx")
  }

  /** 1 for a treated row (`armCol` equals `treatLabel`), 0 for
    * control; a NULL arm raises.
    */
  private def treatedFlag(armCol: String, treatLabel: String,
                          op: String): Column =
    when(col(armCol).isNull,
      raise_error(lit(s"$op: NULL arm in $armCol")))
      .otherwise((col(armCol) === treatLabel).cast("long"))

  /** Per distinct ascending key `v`, the cumulative treated/control
    * counts and conversions through it: (_v, n_t, n_c, y_t, y_c), exact
    * integers through the two-level [[Packing.prefixScan]]. y must be
    * 0 or 1.
    */
  private def armOutcomePrefixes(df: DataFrame, v: Column, armCol: String,
                                 treatLabel: String, yCol: String,
                                 op: String, maxBlocks: Long): DataFrame = {
    val rows = df.select(v.as("_v"),
      treatedFlag(armCol, treatLabel, op).as("_t"),
      when(col(yCol).isNull || (col(yCol) =!= 0 && col(yCol) =!= 1),
        raise_error(concat(lit(s"$op: outcome must be 0 or 1, got "),
          coalesce(col(yCol).cast("string"), lit("NULL")))))
        .otherwise(col(yCol)).cast("long").as("_y"))
    val vc = rows.groupBy("_v")
      .agg(sum("_t").as("_nt"), sum(lit(1L) - col("_t")).as("_nc"),
        sum(col("_t") * col("_y")).as("_yt"),
        sum((lit(1L) - col("_t")) * col("_y")).as("_yc"))
    prefixScan(withBoundedBlocks(vc, "_v", maxBlocks), Nil,
      "_v", Seq("_nt", "_nc", "_yt", "_yc"))
      .select(col("_v"),
        (col("_pre__nt") + col("_nt")).as("n_t"),
        (col("_pre__nc") + col("_nc")).as("n_c"),
        (col("_pre__yt") + col("_yt")).as("y_t"),
        (col("_pre__yc") + col("_yc")).as("y_c"))
  }

  /** Uplift (Qini) curve over a targeting score: walk the population
    * from best-scored down and ask "how many EXTRA conversions has
    * treatment bought so far?" — the model-quality view for uplift /
    * targeting models that plain AUC can't give (it scores outcomes,
    * not incremental effect). One row per distinct score with
    * cumulative-from-the-top treated/control counts and conversions
    * (exact integers through the two-level [[Packing.prefixScan]] on
    * the NEGATED score — descending order for free), the cumulative
    * per-head `uplift` = y_t/n_t − y_c/n_c, and `qini` = y_t −
    * y_c·n_t/n_c (incremental conversions at treated scale). Score is
    * caller-quantized (the long contract) so the curve frame is
    * grid-bounded; y must be 0/1; arm must match treatLabel for
    * treated rows (anything else is control; NULL raises).
    */
  def upliftCurve(df: DataFrame, scoreCol: String, armCol: String,
                  treatLabel: String, yCol: String,
                  maxBlocks: Long = 1L << 20): DataFrame = {
    val op = "upliftCurve"
    armOutcomePrefixes(df,
      -Checked.long(col(scoreCol), op, s"value in $scoreCol"),
      armCol, treatLabel, yCol, op, maxBlocks)
      .select((-col("_v")).as("score"), col("n_t"), col("n_c"), col("y_t"),
        col("y_c"))
      .withColumn("uplift",
        when(col("n_t") > 0L && col("n_c") > 0L,
          col("y_t").cast("double") / col("n_t").cast("double") -
            col("y_c").cast("double") / col("n_c").cast("double")))
      .withColumn("qini",
        when(col("n_c") > 0L,
          col("y_t").cast("double") -
            col("y_c").cast("double") * col("n_t").cast("double") /
              col("n_c").cast("double")))
  }

  /** Difference-in-differences: the pre/post × treated/control
    * contrast — "did treatment change the metric MORE than the world
    * changed on its own?" DiD = Δ̄_t − Δ̄_c over per-unit deltas
    * d = post − pre (exact longs; the caller quantizes), with the
    * Welch standard error from per-arm delta variances and z = DiD/se
    * (NULL when a variance side degenerates). One conditional grand
    * aggregate pivots both arms; an EMPTY arm raises loudly — there is
    * no contrast to report. Every output is a closed-form double over
    * exact decimal moments. Output: one row (n_t, n_c, mean_diff_t,
    * mean_diff_c, did, se, z).
    */
  def diffInDiff(df: DataFrame, preCol: String, postCol: String,
                 armCol: String, treatLabel: String): DataFrame = {
    val op = "diffInDiff"
    val dec = "decimal(38,0)"
    val rows = df.select(
      (Checked.long(col(postCol), op, s"value in $postCol") -
        Checked.long(col(preCol), op, s"value in $preCol")).as("_d"),
      treatedFlag(armCol, treatLabel, op).as("_t"))
    // ONE conditional aggregate pivots both arms (the stratifiedAte
    // shape — the filtered-sides crossJoin cost two corpus scans); an
    // EMPTY arm has no contrast and raises loudly (the twoGroupHeader
    // stance) instead of vanishing to zero rows
    def sideSum(t: Int, c: Column): Column =
      sum(when(col("_t") === t.toLong, c).otherwise(lit(null)))
    val agg = rows.agg(
      coalesce(sum(col("_t")), lit(0L)).as("_nt0"),
      coalesce(sum(lit(1L) - col("_t")), lit(0L)).as("_nc0"),
      coalesce(sideSum(1, col("_d")), lit(0L)).as("_sd_t"),
      coalesce(sideSum(0, col("_d")), lit(0L)).as("_sd_c"),
      coalesce(sideSum(1, col("_d").cast(dec) * col("_d").cast(dec)),
        lit(0).cast(dec)).as("_sdd_t"),
      coalesce(sideSum(0, col("_d").cast(dec) * col("_d").cast(dec)),
        lit(0).cast(dec)).as("_sdd_c"))
      .select(
        when(col("_nt0") === 0L,
          raise_error(lit(s"$op: no rows in the treated arm")))
          .otherwise(col("_nt0")).as("n_t"),
        when(col("_nc0") === 0L,
          raise_error(lit(s"$op: no rows in the control arm")))
          .otherwise(col("_nc0")).as("n_c"),
        col("_sd_t"), col("_sd_c"), col("_sdd_t"), col("_sdd_c"))
    def meanD(n: Column, sd: Column): Column =
      sd.cast("double") / n.cast("double")
    // sample variance of the deltas: (n·Σd² − (Σd)²) / (n·(n−1))
    def varD(n: Column, sd: Column, sdd: Column): Column =
      (n.cast(dec) * sdd - sd.cast(dec) * sd.cast(dec)).cast("double") /
        (n.cast("double") * (n.cast("double") - 1.0))
    agg
      .select(
        col("n_t"), col("n_c"),
        meanD(col("n_t"), col("_sd_t")).as("mean_diff_t"),
        meanD(col("n_c"), col("_sd_c")).as("mean_diff_c"),
        (meanD(col("n_t"), col("_sd_t")) -
          meanD(col("n_c"), col("_sd_c"))).as("did"),
        when(col("n_t") > 1L && col("n_c") > 1L,
          sqrt(varD(col("n_t"), col("_sd_t"), col("_sdd_t")) /
            col("n_t").cast("double") +
            varD(col("n_c"), col("_sd_c"), col("_sdd_c")) /
              col("n_c").cast("double"))).as("se"))
      .withColumn("z",
        when(col("se") > 0.0, col("did") / col("se")))
  }

  /** Stratified (standardized) average treatment effect: when arms are
    * imbalanced on a confounder, the naive ȳ_t − ȳ_c mixes the
    * treatment effect with the imbalance; stratifying on the
    * confounder buckets and re-weighting per-stratum contrasts by the
    * stratum's population share removes it (exact standardization).
    * Strata missing either arm (positivity violations) are DROPPED
    * and counted in `n_dropped` — a silent average over them would be
    * extrapolation. Output: one row (n_used, n_strata, n_dropped,
    * ate_naive over the USED strata, ate_strat, se = √Σ w_s²(v_ts/n_ts
    * + v_cs/n_cs), z; se/z NULL when any used stratum-arm has < 2
    * units). All moments exact (caller-quantized y — the long
    * contract); the weighting is the one closed-form double layer.
    */
  def stratifiedAte(df: DataFrame, stratumCol: String, armCol: String,
                    treatLabel: String, yCol: String): DataFrame = {
    val op = "stratifiedAte"
    val dec = "decimal(38,0)"
    val rows = df.select(
      Checked.label(col(stratumCol), op, s"stratum in $stratumCol").as("_s"),
      treatedFlag(armCol, treatLabel, op).as("_t"),
      Checked.long(col(yCol), op, s"value in $yCol").as("_y"))
    val cells = rows.groupBy("_s", "_t")
      .agg(count(lit(1)).as("_n"), sum("_y").as("_sy"),
        sum(col("_y").cast(dec) * col("_y").cast(dec)).as("_syy"))
    val strata = cells.groupBy("_s")
      .agg(max(when(col("_t") === 1L, col("_n"))).as("n_ts"),
        max(when(col("_t") === 1L, col("_sy"))).as("sy_ts"),
        max(when(col("_t") === 1L, col("_syy"))).as("syy_ts"),
        max(when(col("_t") === 0L, col("_n"))).as("n_cs"),
        max(when(col("_t") === 0L, col("_sy"))).as("sy_cs"),
        max(when(col("_t") === 0L, col("_syy"))).as("syy_cs"))
      .withColumn("_ok", col("n_ts").isNotNull && col("n_cs").isNotNull)
    def meanOf(sy: Column, n: Column): Column =
      sy.cast("double") / n.cast("double")
    def varOf(n: Column, sy: Column, syy: Column): Column =
      (n.cast(dec) * syy - sy.cast(dec) * sy.cast(dec)).cast("double") /
        (n.cast("double") * (n.cast("double") - 1.0))
    val used = strata.filter(col("_ok"))
      .withColumn("_ns", col("n_ts") + col("n_cs"))
    val tot = used.agg(coalesce(sum("_ns"), lit(0L)).as("_nTot"))
    val dropped = strata.filter(!col("_ok"))
      .agg(count(lit(1)).as("n_dropped"))
    val w = col("_ns").cast("double") / col("_nTot").cast("double")
    val contrast = meanOf(col("sy_ts"), col("n_ts")) -
      meanOf(col("sy_cs"), col("n_cs"))
    val varTerm = varOf(col("n_ts"), col("sy_ts"), col("syy_ts")) /
      col("n_ts").cast("double") +
      varOf(col("n_cs"), col("sy_cs"), col("syy_cs")) /
        col("n_cs").cast("double")
    used.crossJoin(broadcast(tot))
      .select(col("_ns"), col("n_ts"), col("n_cs"),
        col("sy_ts"), col("sy_cs"),
        (w * contrast).as("_wc"),
        when(col("n_ts") > 1L && col("n_cs") > 1L, w * w * varTerm)
          .as("_wv"))
      .agg(coalesce(sum("_ns"), lit(0L)).as("n_used"),
        count(lit(1)).as("n_strata"),
        coalesce(sum("sy_ts"), lit(0L)).as("_syt"),
        coalesce(sum("n_ts"), lit(0L)).as("_nt"),
        coalesce(sum("sy_cs"), lit(0L)).as("_syc"),
        coalesce(sum("n_cs"), lit(0L)).as("_nc"),
        sum("_wc").as("ate_strat"),
        sum("_wv").as("_varSum"),
        // sum() SKIPS NULL variance terms — a stratum with a 1-unit
        // arm would silently shrink the variance and inflate z; count
        // them so se goes NULL instead (the documented contract)
        sum(when(col("_wv").isNull, 1L).otherwise(0L)).as("_nullWv"))
      .crossJoin(broadcast(dropped))
      .select(col("n_used"), col("n_strata"), col("n_dropped"),
        when(col("_nt") > 0L && col("_nc") > 0L,
          meanOf(col("_syt"), col("_nt")) - meanOf(col("_syc"), col("_nc")))
          .as("ate_naive"),
        col("ate_strat"),
        when(col("_nullWv") === 0L && col("_varSum") > 0.0,
          sqrt(col("_varSum"))).as("se"))
      .withColumn("z",
        when(col("se") > 0.0, col("ate_strat") / col("se")))
  }

  /** Peeking-safe sequential experiment monitor: the running
    * two-proportion z per day against an O'Brien–Fleming-shaped
    * boundary b(f) = c/√f (f = information fraction = units so far /
    * total units, c = 2.7969 ≈ the two-sided α = 0.05 OBF constant) —
    * crossing early requires overwhelming evidence, so the analyst
    * can look every day without inflating false positives. Cumulative
    * exact integers per day via the two-level scan; z, boundary and
    * the decision margin are the closed-form double layer (`crossed`
    * compares the 6-decimal-rounded margin on BOTH engines — the
    * bhFdr Boolean-output lesson). Output per day: n_t, n_c, y_t,
    * y_c, z (NULL when a side is empty or pooled variance is 0),
    * boundary, margin, crossed.
    */
  def sequentialBoundary(df: DataFrame, dayCol: String, armCol: String,
                         treatLabel: String, yCol: String,
                         cObf: Double = 2.7969,
                         maxBlocks: Long = 1L << 20): DataFrame = {
    val op = "sequentialBoundary"
    // total units = the LAST day's cumulative count: one window over
    // the grid-bounded cumulative frame — a rows.agg(count) here would
    // re-scan the corpus (and re-run the raise_error checks) for one
    // number (r11 session-5 review finding)
    val cum = armOutcomePrefixes(df,
      Checked.long(col(dayCol), op, s"value in $dayCol"),
      armCol, treatLabel, yCol, op, maxBlocks)
      .withColumnRenamed("_v", "day")
      .withColumn("_nAll",
        max(col("n_t") + col("n_c")).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
    val (ntD, ncD) = (col("n_t").cast("double"), col("n_c").cast("double"))
    val pPool = (col("y_t") + col("y_c")).cast("double") / (ntD + ncD)
    val sig2 = pPool * (lit(1.0) - pPool) * (lit(1.0) / ntD + lit(1.0) / ncD)
    val f = (ntD + ncD) / col("_nAll").cast("double")
    cum
      .withColumn("z",
        when(col("n_t") > 0L && col("n_c") > 0L && sig2 > 0.0,
          (col("y_t").cast("double") / ntD -
            col("y_c").cast("double") / ncD) / sqrt(sig2)))
      .withColumn("boundary", lit(cObf) / sqrt(f))
      .withColumn("margin", round(abs(col("z")) - col("boundary"), 6))
      .withColumn("crossed", coalesce(col("margin") >= 0.0, lit(false)))
      .drop("_nAll")
  }

  /** Two-sample KS of EVERY slice against its complement in one pass,
    * exact: per slice, sup over the real line of the ECDF deviation in
    * n_s·n_rest integer units. The sup is attained either AT one of
    * the slice's own value steps (inclusive cumulative counts) or just
    * BEFORE one (the complement kept stepping in between — exclusive
    * counts), so evaluating both deviations at the slice's values is
    * sufficient: between two slice steps the slice ECDF is flat and
    * the deviation is monotone in the complement's cumulative count,
    * maximized at an endpoint. The frame stays |slice-value pairs|-
    * sized — never |values|·|slices|.
    */
  def ksPerSlice(df: DataFrame, valueCol: String, sliceCol: String,
                 maxBlocks: Long = 1L << 20): DataFrame = {
    val rows = df.select(
      Checked.long(col(valueCol), "ksPerSlice", s"value in $valueCol")
        .as("_v"),
      Checked.label(col(sliceCol), "ksPerSlice", s"slice in $sliceCol").as("_s"))
    // global per-value prefix (combined distribution)
    val vc = rows.groupBy("_v").agg(count(lit(1)).as("_n"))
    val g = prefixScan(withBoundedBlocks(vc, "_v", maxBlocks), Nil,
      "_v", Seq("_n"))
      .select(col("_v"), col("_n").as("_ng"), col("_pre__n").as("_pg"))
    val tot = vc.agg(sum("_n").as("_tot"))
    // per-slice per-value prefix: the same two-level scan, slice-keyed
    val sv = rows.groupBy("_s", "_v").agg(count(lit(1)).as("_nsv"))
    val pre = prefixScan(withBoundedBlocks(sv, "_v", maxBlocks),
      Seq("_s"), "_v", Seq("_nsv"))
    val nS = sv.groupBy("_s").agg(sum("_nsv").as("n_s"))
    pre.join(g, Seq("_v")).join(broadcast(nS), Seq("_s"))
      .crossJoin(broadcast(tot))
      .withColumn("n_rest", col("_tot") - col("n_s"))
      // AT the step (inclusive) and just BEFORE it (exclusive)
      .withColumn("_devIn", abs(
        (col("_pre__nsv") + col("_nsv")) * col("n_rest") -
          (col("_pg") + col("_ng") - col("_pre__nsv") - col("_nsv")) *
            col("n_s")))
      .withColumn("_devEx", abs(
        col("_pre__nsv") * col("n_rest") -
          (col("_pg") - col("_pre__nsv")) * col("n_s")))
      .groupBy(col("_s").as("slice"), col("n_s"), col("n_rest"))
      .agg(max(greatest(col("_devIn"), col("_devEx"))).as("d_num"))
      // a single-slice frame has n_rest = 0: d would be 0/0 = NaN —
      // emit NULL (the mannWhitneyPerSlice σ = 0 stance), which a
      // threshold comparison treats as "no verdict", never "no drift"
      .select(col("slice"), col("n_s"), col("n_rest"), col("d_num"),
        when(col("n_rest") > 0L,
          round(col("d_num").cast("double") /
            (col("n_s").cast("double") * col("n_rest").cast("double")), 6))
          .as("d"))
  }

  /** Two-sample Cramér–von Mises statistic, exact: with the combined
    * sample's ECDFs evaluated at every sample point,
    * T = n_a·n_b/(n_a+n_b)² · Σ over all N points (F_a − F_b)², which
    * in integer units is Σ over distinct values of
    * count(v)·dev(v)² / (n_a·n_b·(n_a+n_b)²) with
    * dev = cum_a·n_b − cum_b·n_a (`t_num` carries the decimal-exact
    * numerator as double; `t` the statistic). The L² member of the
    * family — KS is the sup, [[wasserstein1]] the L¹-over-x — and the
    * most sensitive of the three to broad mid-distribution shifts a
    * single extreme point doesn't dominate.
    *
    * Exact-integer domain: n_a·n_b ≤ 3·10¹² (≈2.5M rows balanced —
    * beyond which CvM's power saturates anyway); a larger product
    * raises a NAMED error rather than silently skipping overflowed
    * per-row decimals. Subsample or quantize coarser past it.
    */
  def cramerVonMises(df: DataFrame, valueCol: String, groupCol: String,
                     maxBlocks: Long = 1L << 20): DataFrame = {
    val pre = twoGroupPrefixes(df, valueCol, groupCol, "cramerVonMises",
      maxBlocks)
    // named domain ceiling (the checkedRankSum stance): dev²·count
    // needs ~3 extra orders past dev², so the exact-decimal algebra
    // holds only for n_a·n_b ≤ 3·10¹² — beyond that, per-row products
    // would overflow decimal(38,0) and a non-ANSI sum would SKIP them
    // silently (an undercounted t_num, not even a NULL). Fail loudly.
    val guarded = pre.withColumn("_na", when(
      col("n_a").cast("decimal(19,0)") * col("n_b") >
        lit(3000000000000L).cast("decimal(19,0)"),
      raise_error(lit("cramerVonMises: n_a*n_b exceeds the exact-integer " +
        "domain (3e12) — subsample or quantize coarser")))
      .otherwise(col("_na")))
    val dev = ((col("_pre__na") + col("_na")) * col("n_b") -
      (col("_pre__nb") + col("_nb")) * col("n_a")).cast("decimal(18,0)")
    // the per-value count rides checkedTieCount too: inside the 3e12
    // product guard an unbalanced split (n_a = 2.5e12, n_b = 1) can
    // still put > 10¹²−1 rows on one value — loud, not NULL-skipped
    guarded.groupBy("group_a", "group_b", "n_a", "n_b")
      .agg(sum(dev * dev *
        checkedTieCount(col("_na") + col("_nb"), "cramerVonMises"))
        .cast("double").as("t_num"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("t_num"),
        round(col("t_num") /
          (col("n_a").cast("double") * col("n_b").cast("double") *
            (col("n_a") + col("n_b")).cast("double") *
            (col("n_a") + col("n_b")).cast("double")), 6).as("t"))
  }

  /** Two-sample Wasserstein-1 (earth-mover) distance, exact: with both
    * ECDFs piecewise-constant, W₁ = ∫|F_a − F_b| dx folds as
    * Σ over consecutive distinct values of |cum_a·n_b − cum_b·n_a| ·
    * (next_v − v), in n_a·n_b integer units (`w1_num`, decimal-exact;
    * `w1` = w1_num/(n_a·n_b) as double). Where KS reports the worst
    * single point, W₁ reports the total mass×distance to move one
    * distribution onto the other — the magnitude of a drift, in value
    * units, which is what a "how bad is it?" alert needs.
    *
    * The segment walk needs each distinct value's successor: within a
    * block that's `lead(v)`; across the boundary the successor is the
    * NEXT block's minimum, stitched from the block-summary frame (a
    * lead over ≤ maxBlocks rows) — the two-level idiom extended to
    * lookahead, still no corpus-sized global window.
    */
  def wasserstein1(df: DataFrame, valueCol: String, groupCol: String,
                   maxBlocks: Long = 1L << 20): DataFrame =
    wassersteinByKey(df.withColumn("_wkey", lit("all")), "_wkey",
      valueCol, groupCol, maxBlocks).drop("key")

  /** [[wasserstein1]] computed independently per key, in one pass: k
    * keys cost one (key, value) shuffle with every window partitioned
    * by key — the engine behind sliced-Wasserstein embedding drift
    * (key = projection direction) and per-day/per-shard drift tables
    * (key = partition). Group labels are validated globally (exactly
    * two non-NULL labels) AND per key: a key missing one of the two
    * groups RAISES (its w1 would be 0/0 = NaN, silently suppressing
    * the drift alert). n_a/n_b are per key. Output one row per key —
    * (key, group_a, group_b, n_a, n_b, w1_num, w1) — including keys
    * with a single distinct value (a constant metric is w1 = 0 drift,
    * not an absent row).
    *
    * Scale posture: the key-keyed [[Packing.prefixScan]] with the
    * successor stitch, key-partitioned throughout. Exact-integer
    * domain: n_a·n_b ≤ 10¹⁸−1 per key (the ECDF deviation's
    * decimal(18,0) cast — a loud error past it, never a NULL-skipped
    * segment); the dev × gap product stays inside decimal(38).
    */
  def wassersteinByKey(df: DataFrame, keyCol: String, valueCol: String,
                       groupCol: String,
                       maxBlocks: Long = 1L << 20): DataFrame = {
    val rows = df.select(
      Checked.label(col(keyCol), "wassersteinByKey", s"key in $keyCol").as("_k"),
      Checked.long(col(valueCol), "wassersteinByKey",
        s"value in $valueCol").as("_v"),
      Checked.label(col(groupCol), "wassersteinByKey",
        s"group in $groupCol").as("_g"))
    val hdr = twoGroupHeader(rows).select("group_a", "group_b")
    val kv = rows.crossJoin(broadcast(hdr))
      .groupBy("_k", "_v")
      .agg(sum(when(col("_g") === col("group_a"), 1L).otherwise(0L))
        .as("_na"),
        sum(when(col("_g") === col("group_b"), 1L).otherwise(0L)).as("_nb"))
    // per-key totals; a key missing either group raises loudly (the
    // guard rides n_a, which every consumer keeps — never pruned)
    val kt = kv.groupBy("_k")
      .agg(sum("_na").as("_kna"), sum("_nb").as("n_b"))
      .select(col("_k"),
        when(col("_kna") === 0L || col("n_b") === 0L,
          raise_error(concat(lit("wassersteinByKey: key "), col("_k"),
            lit(" is missing one of the two groups"))))
          .otherwise(col("_kna")).as("n_a"),
        col("n_b"))
    val segs = prefixScan(withBoundedBlocks(kv, "_v", maxBlocks),
      Seq("_k"), "_v", Seq("_na", "_nb"), withSuccessor = true)
      .filter(col("_nextV").isNotNull) // each key's last value: no segment
    val sums = segs.join(kt, Seq("_k"))
      // dev ≤ n_a·n_b: the decimal(18,0) cast is exact only below
      // 10¹⁸, and a non-ANSI overflow would NULL-skip the segment
      // silently (an undercounted w1_num) — fail loudly at the
      // boundary (the cramerVonMises guard stance)
      .withColumn("_na", when(
        col("n_a").cast("decimal(19,0)") * col("n_b") >
          lit(999999999999999999L).cast("decimal(19,0)"),
        raise_error(lit("wassersteinByKey: n_a*n_b exceeds the exact " +
          "ECDF-deviation domain (10^18-1) — subsample or quantize " +
          "coarser")))
        .otherwise(col("_na")))
      .groupBy("_k")
      // gaps can approach the Long span (20 digits) — the product
      // ≤ 10³⁸ sits at the decimal(38) cap, exact inside the guard
      .agg(sum(
        abs((col("_pre__na") + col("_na")) * col("n_b") -
          (col("_pre__nb") + col("_nb")) * col("n_a")).cast("decimal(18,0)") *
          (col("_nextV") - col("_v")).cast("decimal(20,0)"))
        .cast("double").as("w1_num"))
    // left join: a key with one distinct value has no segments — it
    // still gets a row (w1 = 0), where an inner-agg frame would drop
    // it and a .head() caller would crash on a constant metric
    kt.join(sums, Seq("_k"), "left").crossJoin(broadcast(hdr))
      .select(col("_k").as("key"), col("group_a"), col("group_b"),
        col("n_a"), col("n_b"),
        coalesce(col("w1_num"), lit(0.0)).as("w1_num"),
        round(coalesce(col("w1_num"), lit(0.0)) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("w1"))
  }

  /** Exact global quantiles WITHOUT a global sort: for each requested
    * q (in milli-units — the integer-contract house style), the
    * smallest value whose inclusive cumulative count reaches
    * ⌈q·n/1000⌉ (type-1 / lower empirical quantile; q = 0 pins the
    * minimum). One row per q: (q_milli, target_rank, value). The
    * per-value prefix is the two-level scan; the final step is a
    * qs-sized broadcast against the distinct-value frame and a
    * min-aggregate per q — exact medians/deciles at any corpus size,
    * where approx_percentile trades error for memory and a sort-based
    * exact quantile single-tasks the corpus.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, qMillis: Seq[Long],
                     maxBlocks: Long = 1L << 20): DataFrame = {
    require(qMillis.nonEmpty, "exactQuantiles: empty quantile list")
    require(qMillis.forall(q => q >= 0L && q <= 1000L),
      s"exactQuantiles: q outside [0, 1000] milli: $qMillis")
    val vc = df
      .select(Checked.long(col(valueCol), "exactQuantiles",
        s"value in $valueCol").as("_v"))
      .groupBy("_v").agg(count(lit(1)).as("_n"))
    pickQuantiles(vc, vc.agg(sum("_n").as("_tot")), qMillis, maxBlocks)
  }

  /** The type-1 lower pick of [[exactQuantiles]] and
    * [[weightedQuantiles]] over a distinct-value mass frame (_v, _n)
    * and its one-row total `_tot`: per q, the smallest value whose
    * inclusive cumulative mass reaches ⌈q·_tot/1000⌉.
    */
  private def pickQuantiles(vc: DataFrame, tot: DataFrame,
                            qMillis: Seq[Long],
                            maxBlocks: Long): DataFrame = {
    val spark = vc.sparkSession
    import spark.implicits._
    val pre = prefixScan(withBoundedBlocks(vc, "_v", maxBlocks), Nil,
      "_v", Seq("_n"))
      .withColumn("_cum", col("_pre__n") + col("_n"))
    val qs = qMillis.distinct.sorted.toDF("q_milli")
      .crossJoin(broadcast(tot))
      // ceil(q·n/1000) without doubles; q = 0 → rank 1 (the minimum)
      .withColumn("target_rank",
        greatest(expr("(q_milli * _tot + 999) div 1000"), lit(1L)))
    pre.join(broadcast(qs), col("_cum") >= col("target_rank"))
      .groupBy("q_milli", "target_rank")
      .agg(min("_v").as("value"))
      .orderBy("q_milli")
  }

  /** Exact WEIGHTED quantiles without a global sort: the
    * [[exactQuantiles]] type-1 lower contract over the multiset where
    * each row counts `weightCol` times (token counts, byte sizes,
    * milli importance weights) — computed from per-value WEIGHT SUMS,
    * never by expanding rows. q = 500 over (value = doc length,
    * weight = doc tokens) answers "the length below which half the
    * TOKENS live" — the packing/budget question a row-count quantile
    * gets wrong. Zero-weight rows carry no mass; NULL or negative
    * weights raise. Ranks are in weight units; total weight is
    * accumulated in decimal and guarded at 2⁶³/1000 (the q·W product
    * must stay in Long) with a NAMED error, never a wrapped sum.
    */
  def weightedQuantiles(df: DataFrame, valueCol: String, weightCol: String,
                        qMillis: Seq[Long],
                        maxBlocks: Long = 1L << 20): DataFrame = {
    require(qMillis.nonEmpty, "weightedQuantiles: empty quantile list")
    require(qMillis.forall(q => q >= 0L && q <= 1000L),
      s"weightedQuantiles: q outside [0, 1000] milli: $qMillis")
    val rows = df.select(
      Checked.long(col(valueCol), "weightedQuantiles",
        s"value in $valueCol").as("_v"),
      when(col(weightCol).isNull || col(weightCol) < 0,
        raise_error(concat(
          lit(s"weightedQuantiles: NULL or negative weight in " +
            s"$weightCol: "),
          coalesce(col(weightCol).cast("string"), lit("NULL")))))
        .otherwise(col(weightCol)).cast("long").as("_w"))
    // decimal accumulation: a Long sum would WRAP silently past 2⁶³
    // and the downstream guard would then pass on garbage
    val vc = rows.groupBy("_v")
      .agg(sum(col("_w").cast("decimal(20,0)")).as("_nd"))
      .filter(col("_nd") > 0).select(col("_v"),
        col("_nd").cast("long").as("_n"))
    val tot = rows.agg(sum(col("_w").cast("decimal(20,0)")).as("_td"))
      .select(when(col("_td") > lit(Long.MaxValue / 1000L)
        .cast("decimal(20,0)"),
        raise_error(lit("weightedQuantiles: total weight exceeds " +
          "2^63/1000 — the q*W rank product would overflow Long; " +
          "rescale the weights")))
        .otherwise(col("_td")).cast("long").as("_tot"))
    pickQuantiles(vc, tot, qMillis, maxBlocks)
  }

  /** Exact per-group quantiles, same contract as [[exactQuantiles]]
    * (type-1 lower, q in milli-units, q = 0 pins the group minimum),
    * one row per (group, q): the "median and p90 length per source"
    * table, exact at any scale. Per-(group, value) counts take one
    * keyed shuffle; the per-group prefix is the group-keyed
    * [[Packing.prefixScan]] (a hot group spreads over its value blocks);
    * targets join back on the GROUP key (equi join +
    * a cumulative-count filter), so no nested-loop anywhere.
    */
  def groupedQuantiles(df: DataFrame, valueCol: String, groupCol: String,
                       qMillis: Seq[Long],
                       maxBlocks: Long = 1L << 20): DataFrame = {
    require(qMillis.nonEmpty, "groupedQuantiles: empty quantile list")
    require(qMillis.forall(q => q >= 0L && q <= 1000L),
      s"groupedQuantiles: q outside [0, 1000] milli: $qMillis")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(
      Checked.long(col(valueCol), "groupedQuantiles",
        s"value in $valueCol").as("_v"),
      Checked.label(col(groupCol), "groupedQuantiles",
        s"group in $groupCol").as("_g"))
    val gv = rows.groupBy("_g", "_v").agg(count(lit(1)).as("_n"))
    val cum = prefixScan(withBoundedBlocks(gv, "_v", maxBlocks),
      Seq("_g"), "_v", Seq("_n"), innerJoin = true)
      .withColumn("_cum", col("_pre__n") + col("_n"))
    val gTot = gv.groupBy("_g").agg(sum("_n").as("_tot"))
    val qs = qMillis.distinct.sorted.toDF("q_milli")
    val targets = gTot.crossJoin(broadcast(qs))
      .withColumn("target_rank",
        greatest(expr("(q_milli * _tot + 999) div 1000"), lit(1L)))
      .select(col("_g"), col("q_milli"), col("target_rank"))
    cum.join(targets, Seq("_g"))
      .filter(col("_cum") >= col("target_rank"))
      .groupBy(col("_g").as("group"), col("q_milli"), col("target_rank"))
      .agg(min("_v").as("value"))
      .orderBy("group", "q_milli")
  }

  /** Split-conformal calibration quantile per group (Vovk et al.;
    * Angelopoulos & Bates 2023 §2): the ⌈(n+1)(1000−α)/1000⌉-th
    * smallest calibration score — the threshold below which a fresh
    * exchangeable score falls with probability ≥ 1−α/1000, FINITE-
    * sample, distribution-free. The conformal anomaly gate: score
    * tomorrow's rows against today's qhat and the false-alarm rate is
    * bounded by construction. When the target rank exceeds n (tiny
    * calibration sets), no finite threshold carries the guarantee and
    * `qhat` is NULL — the interval is the whole space; a consumer must
    * treat NULL as "everything conforms", never as zero.
    *
    * Scale posture: per-group order statistic through the
    * group-keyed [[Packing.prefixScan]] over the DISTINCT-value frame —
    * a `row_number` window would sort a hot group on one task.
    * Integer index rule (p·(n+1) + 999) div 1000, the percentileCI
    * stance: no float ceil near an integer boundary.
    */
  def conformalQuantile(cal: DataFrame, valueCol: String, groupCol: String,
                        alphaPermille: Int = 50,
                        maxBlocks: Long = 1L << 20): DataFrame = {
    require(alphaPermille > 0 && alphaPermille < 1000,
      s"alphaPermille must be in (0, 1000), got $alphaPermille")
    val rows = cal.select(
      Checked.long(col(valueCol), "conformalQuantile",
        s"value in $valueCol").as("_v"),
      Checked.label(col(groupCol), "conformalQuantile",
        s"group in $groupCol").as("_g"))
    val gv = rows.groupBy("_g", "_v").agg(count(lit(1)).as("_n"))
    conformalQuantileFromCells(gv, alphaPermille, maxBlocks)
  }

  /** [[conformalQuantile]] over a pre-counted (_g, _v, _n) cell frame —
    * the face a MAINTAINED calibration state serves (cells are a
    * commutative monoid, so a streaming fold's state is bit-identical
    * to one-shot counting; see streaming.ConformalStream).
    */
  def conformalQuantileFromCells(gv: DataFrame, alphaPermille: Int = 50,
                                 maxBlocks: Long = 1L << 20): DataFrame = {
    require(alphaPermille > 0 && alphaPermille < 1000,
      s"alphaPermille must be in (0, 1000), got $alphaPermille")
    val cum = prefixScan(withBoundedBlocks(gv, "_v", maxBlocks),
      Seq("_g"), "_v", Seq("_n"))
      .withColumn("_cum", col("_pre__n") + col("_n"))
    val targets = gv.groupBy("_g").agg(sum("_n").as("n_cal"))
      .withColumn("target_rank",
        expr(s"(${1000 - alphaPermille} * (n_cal + 1) + 999) div 1000"))
    val sel = cum.join(targets.select(col("_g"), col("target_rank")), Seq("_g"))
      .filter(col("_cum") >= col("target_rank"))
      .groupBy("_g").agg(min("_v").as("qhat"))
    targets.join(sel, Seq("_g"), "left")
      .select(col("_g").as("grp"), col("n_cal"), col("target_rank"),
        col("qhat"))
  }

  /** Per-group ECDF rank normalization — score HARMONIZATION: when
    * corpora arrive scored by heterogeneous scorers (different models,
    * different scales), mixing on raw scores biases selection toward
    * whichever scorer runs hot; mapping each score to its within-group
    * ECDF permille ⌊1000·rank≤/n⌋ puts every group on the same [0,1000]
    * rank scale (quantile matching, the curation-mixing counterpart of
    * [[Sampling.domainMixture]]). Returns the DISTINCT (grp, value)
    * mapping frame — values-sized, join it back to rows on the pair
    * key; emitting per-row output here would shuffle the corpus twice.
    *
    * Scale: the group-keyed [[Packing.prefixScan]], never a per-group
    * sort; all integers until the caller divides.
    */
  def ecdfNormalize(df: DataFrame, valueCol: String, groupCol: String,
                    maxBlocks: Long = 1L << 20): DataFrame = {
    val rows = df.select(
      Checked.long(col(valueCol), "ecdfNormalize",
        s"value in $valueCol").as("_v"),
      Checked.label(col(groupCol), "ecdfNormalize",
        s"group in $groupCol").as("_g"))
    val gv = rows.groupBy("_g", "_v").agg(count(lit(1)).as("_n"))
    val cum = prefixScan(withBoundedBlocks(gv, "_v", maxBlocks),
      Seq("_g"), "_v", Seq("_n"))
      .withColumn("_cum", col("_pre__n") + col("_n"))
    val gTot = gv.groupBy("_g").agg(sum("_n").as("_tot"))
    cum.join(gTot, Seq("_g"))
      .select(col("_g").as("grp"), col("_v").as("value"),
        col("_cum").as("n_le"), col("_tot").as("n_tot"),
        expr("_cum * 1000 div _tot").as("ecdf_permille"))
  }

  /** Empirical coverage of [[conformalQuantile]] thresholds on a held-
    * out slice: per group, the fraction of test scores at or below
    * qhat (a NULL qhat covers everything by the whole-space rule).
    * Groups absent from the calibration frame are dropped (no
    * threshold to audit — surface them upstream if that's an error).
    * The sanity loop: coverage ≈ 1−α says the exchangeability
    * assumption holds between the two slices.
    */
  def conformalCoverage(test: DataFrame, qhats: DataFrame,
                        valueCol: String, groupCol: String): DataFrame = {
    val t = test.select(
      Checked.long(col(valueCol), "conformalCoverage",
        s"value in $valueCol").as("_v"),
      Checked.label(col(groupCol), "conformalCoverage",
        s"group in $groupCol").as("grp"))
    t.join(broadcast(qhats), Seq("grp"))
      .groupBy(col("grp"), col("n_cal"), col("target_rank"), col("qhat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("qhat").isNull || col("_v") <= col("qhat"), 1L)
          .otherwise(0L)).as("n_covered"))
      .withColumn("coverage",
        round(col("n_covered").cast("double") / col("n_test").cast("double"),
          6))
  }

  /** Hill estimator of the power-law tail exponent (Hill 1975):
    * α = 1 + n / Σ ln(xᵢ/xmin) over the tail x ≥ xmin — the heavy-
    * tail shape diagnostic for document lengths / token frequencies
    * (a pretraining corpus whose length tail flattens after a filter
    * change lost its long documents; α moving says so in one number).
    * Reduces over the DISTINCT-value frame (Σ c·ln(v/xmin) — the
    * entropy-oracle convention), one keyed shuffle. Degeneracy keys on
    * the exact integer max(v): a tail sitting entirely AT xmin has
    * Σ ln = 0 and no defined exponent → alpha NULL, never an Inf.
    */
  def hillAlpha(df: DataFrame, valueCol: String, xmin: Long): DataFrame = {
    require(xmin >= 1L, s"xmin must be positive, got $xmin")
    val vc = df
      .select(Checked.long(col(valueCol), "hillAlpha",
        s"value in $valueCol").as("_v"))
      .filter(col("_v") >= xmin)
      .groupBy("_v").agg(count(lit(1)).as("_c"))
    vc.agg(
        sum(col("_c")).as("n_tail"),
        max(col("_v")).as("_vmax"),
        sum(col("_c").cast("double") *
          log(col("_v").cast("double") / lit(xmin.toDouble))).as("_lnsum"))
      .select(col("n_tail"), lit(xmin).as("xmin"),
        when(col("_vmax") > xmin,
          round(lit(1.0d) + col("n_tail").cast("double") / col("_lnsum"), 6))
          .as("alpha"))
  }

  /** Paired t-test over integer metric pairs (a, b): one row with the
    * exact difference sums (Σd as long, Σd² exact in decimal → double)
    * and the t statistic from the closed form
    * t = d̄ / √(s²/n), s² = (Σd² − (Σd)²/n)/(n−1) — mirrored term for
    * term in the SQL oracle; NULL when n < 2 or s² = 0 (identical
    * pairs have no t). The parametric sibling of
    * [[wilcoxonSignedRank]]: same question ("did the metric move
    * between two scorers/checkpoints on the same items?"), normality
    * assumed instead of ranks.
    */
  def pairedT(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d = Checked.long(col(aCol), "pairedT", s"value in $aCol") -
      Checked.long(col(bCol), "pairedT", s"value in $bCol")
    val agg = df.select(d.as("_d")).agg(
      count(lit(1)).as("n"), sum("_d").as("sum_d"),
      sum(col("_d").cast("decimal(18,0)") * col("_d").cast("decimal(18,0)"))
        .cast("double").as("sum_d2"))
    val nd = col("n").cast("double")
    val s2 = (col("sum_d2") - col("sum_d").cast("double") *
      col("sum_d").cast("double") / nd) / (nd - 1.0)
    agg.select(col("n"), col("sum_d"), col("sum_d2"),
      round(when(col("n") >= 2L && s2 > 0.0,
        col("sum_d").cast("double") / nd / sqrt(s2 / nd)), 6).as("t"))
  }

  /** Wilcoxon signed-rank test over integer metric pairs: zero
    * differences drop (the standard reduction), |d| is rank-averaged in
    * 2× units through [[avgRanks2]], and W⁺/W⁻ fold as conditional
    * sums — exact integers (`w_plus2` + `w_minus2` =
    * n_eff·(n_eff+1)). z from the tie-corrected normal approximation
    * z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48), NULL when
    * every difference is zero or σ = 0. The nonparametric "did scores
    * move on the same items?" test — robust to the heavy-tailed metric
    * deltas a mean-based t smooths over.
    */
  def wilcoxonSignedRank(df: DataFrame, aCol: String, bCol: String,
                         maxBlocks: Long = 1L << 20): DataFrame = {
    val d = Checked.long(col(aCol), "wilcoxonSignedRank", s"value in $aCol") -
      Checked.long(col(bCol), "wilcoxonSignedRank", s"value in $bCol")
    val nz = df.select(d.as("_d")).filter(col("_d") =!= 0L)
      .select(col("_d"), abs(col("_d")).as("_ad"))
    // per-ROW tie share (the spearman idiom): each of a tie group's t
    // rows carries t²−1, so the row sum is t·(t²−1) = Σ(t³−t) exactly
    val ranked = avgRanks2(nz, "_ad", maxBlocks)
      .select(col("value").as("_ad"), col("rank2"),
        (checkedTieCount(col("n"), "wilcoxonSignedRank") *
          col("n").cast("decimal(12,0)") - 1).as("_tts"))
    val agg = nz.join(ranked, Seq("_ad"))
      .agg(count(lit(1)).as("n_eff"),
        checkedRankSum(sum(when(col("_d") > 0L, col("rank2")).otherwise(0L)
          .cast("decimal(19,0)")), "wilcoxonSignedRank").as("w_plus2"),
        checkedRankSum(sum(when(col("_d") < 0L, col("rank2")).otherwise(0L)
          .cast("decimal(19,0)")), "wilcoxonSignedRank").as("w_minus2"),
        sum(col("_tts")).cast("double").as("tie_term"))
    val nd = col("n_eff").cast("double")
    val sig2 = nd * (nd + 1.0) * (lit(2.0) * nd + 1.0) / 24.0 -
      col("tie_term") / 48.0
    agg.select(col("n_eff"), col("w_plus2"), col("w_minus2"),
      col("tie_term"),
      round(when(col("n_eff") > 0L && sig2 > 0.0,
        (col("w_plus2").cast("double") / 2.0 -
          nd * (nd + 1.0) / 4.0) / sqrt(sig2)), 6).as("z"))
  }

  /** Chi-square contingency cells for two categorical columns: the FULL
    * observed-margin grid (a zero-count cell still contributes its
    * expectation), one row per (a, b) with the observed count, margins,
    * `expected` = r·c/N, and the cell's χ² contribution
    * (O−E)²/E = (O·N − r·c)²/(N·r·c) computed in decimal(38,0) then
    * divided once as doubles — Σ contrib is the statistic, left to the
    * consumer (a cross-cell double sum is order-dependent; the cells
    * are exact). Answers "are source and language independent?" — the
    * slice-balance audit behind a mixture plan.
    *
    * The grid is |a-values|·|b-values| rows (a broadcast cross join of
    * the two margin aggregates) — categorical audits only; a
    * high-cardinality key belongs in [[mannWhitney]]/[[ksTest]] space.
    *
    * Exact-integer domain: N ≤ 10⁹−1 rows — |dev| = |O·N − r·c| ≤ N²
    * must fit decimal(18,0) (and the Long products must not wrap);
    * past it the guard raises a NAMED error instead of wrapping O·N
    * negative and squaring the garbage. Sample down past a billion
    * rows — a χ² verdict saturates long before that.
    */
  def chi2Cells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val rows = df.select(
      Checked.label(col(aCol), "chi2Cells", s"in $aCol").as("a"),
      Checked.label(col(bCol), "chi2Cells", s"in $bCol").as("b"))
    val ra = rows.groupBy("a").agg(count(lit(1)).as("r_tot"))
    val cb = rows.groupBy("b").agg(count(lit(1)).as("c_tot"))
    val nf = rows.agg(count(lit(1)).as("_n0"))
      .select(when(col("_n0") > lit(999999999L),
        raise_error(lit("chi2Cells: N exceeds the exact-integer domain " +
          "(10^9-1) — O*N would wrap Long and dev^2 would overflow " +
          "decimal(18,0); sample the frame down")))
        .otherwise(col("_n0")).as("_n"))
    val cells = rows.groupBy("a", "b").agg(count(lit(1)).as("o"))
    // inside the guard: |dev| ≤ N² < 10¹⁸ fits decimal(18,0) exactly,
    // the Long products stay below 2⁶³, and dev² stays inside the
    // 38-digit precision cap
    val dev = (col("o") * col("_n") - col("r_tot") * col("c_tot"))
      .cast("decimal(18,0)")
    ra.crossJoin(broadcast(cb))
      .join(cells, Seq("a", "b"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(nf))
      .select(col("a"), col("b"), col("o"), col("r_tot"), col("c_tot"),
        round(col("r_tot").cast("double") * col("c_tot").cast("double") /
          col("_n").cast("double"), 6).as("expected"),
        round((dev * dev).cast("double") /
          (col("_n").cast("decimal(12,0)") *
            col("r_tot").cast("decimal(12,0)") *
            col("c_tot").cast("decimal(12,0)"))
            .cast("double"), 9).as("contrib"))
  }
}

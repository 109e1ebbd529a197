package graft.llm

import graft.core.Checked
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, token/char counting, quality scoring, language ID,
  * document fingerprinting. All pure column algebra (codegen'd builtins,
  * no UDFs) — each scales as a single map-side pass over the corpus, no
  * shuffle except the final aggregations callers add.
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased, empties dropped. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  /** Word k-shingles as ' '-joined strings. Guarded so documents shorter
    * than k yield an empty array (sequence() would otherwise produce a
    * descending range).
    *
    * PERF: pass a MATERIALIZED token array column (via
    * `withColumn("_toks", tokens(text))`), not `tokens(text)` inline —
    * higher-order functions are interpreted, so an expression embedded
    * in the transform lambda re-evaluates once PER ELEMENT: inlining the
    * tokenizer (itself a filter lambda) makes shingling O(tokens²)
    * interpreted evals per document. Measured 5.5s → ~1s on the sf0.1
    * signature pass. [[shinglesOfText]] keeps the convenient-but-slow
    * one-shot form.
    */
  def shingles(ts: Column, k: Int = 3): Column =
    when(size(ts) >= k,
      transform(sequence(lit(1), size(ts) - (k - 1)),
        i => concat_ws(" ", slice(ts, i, lit(k)))))
      .otherwise(array())

  /** One-shot shingling straight from the text column — fine for small
    * frames/tests; see the perf note on [[shingles]].
    */
  def shinglesOfText(c: Column, k: Int = 3): Column = shingles(tokens(c), k)

  /** Exploded word k-shingles: one (keep..., "s") row per shingle,
    * keeping plain-explode semantics (docs with fewer than k tokens
    * yield no row). Implemented as `explode_outer` + a null post-filter
    * on the GENERATOR OUTPUT — a plain explode makes the optimizer
    * infer a `size(shingles(...)) > 0` pre-filter
    * (InferFiltersFromGenerate) whose pushdown substitutes the full
    * shingle tree, re-running the tokenizer per shingle element inside
    * the filter: O(tokens²) per document, the [[shingles]] trap
    * resurrected by the optimizer (see [[winnowFingerprints]] for the
    * measured pathological case). The post-filter stays above the
    * Generate because `s` is generator output, and a null `s` occurs
    * exactly on outer-padded rows — shingle strings themselves are
    * never null.
    */
  def explodeShingles(df: DataFrame, textCol: String, k: Int,
                      keep: Column*): DataFrame =
    df.withColumn("_toks", tokens(col(textCol)))
      .select(keep :+ explode_outer(shingles(col("_toks"), k)).as("s"): _*)
      .filter(col("s").isNotNull)

  /** Exploded tokens under the same outer-explode convention as
    * [[explodeShingles]] (there the inferred filter is quadratic; here
    * it merely re-runs the tokenizer once more per row — still a whole
    * duplicated corpus pass at scale). Docs with zero tokens yield no
    * row, as with a plain explode.
    */
  def explodeTokens(df: DataFrame, textCol: String, as: String,
                    keep: Column*): DataFrame =
    df.select(keep :+ explode_outer(tokens(col(textCol))).as(as): _*)
      .filter(col(as).isNotNull)

  /** Positional variant of [[explodeTokens]] — same outer-explode guard
    * against InferFiltersFromGenerate's duplicated-tokenizer pre-filter;
    * emits (posAs, as) with pos 0-based.
    */
  def explodeTokensPos(df: DataFrame, textCol: String, posAs: String,
                       as: String, keep: Column*): DataFrame =
    df.select(keep :+ posexplode_outer(tokens(col(textCol))).as(Seq(posAs, as)): _*)
      .filter(col(as).isNotNull)

  /** Whitespace token count. */
  def tokenCountWs(c: Column): Column = size(tokens(c))

  /** BPE-ish token count: alphanumeric runs plus isolated
    * punctuation/symbol characters, the usual pre-tokenizer shape.
    */
  def tokenCountBpe(c: Column): Column =
    regexp_count(lower(c), lit("[a-z0-9]+|[^a-z0-9\\s]"))

  def punctCount(c: Column): Column =
    regexp_count(lower(c), lit("[^a-z0-9\\s]"))

  def alnumCharCount(c: Column): Column =
    length(regexp_replace(lower(c), "[^a-z0-9]", ""))

  /** Integer quality score (higher = better): token mass, penalized by
    * punctuation density and rewarded for stopword presence (prose-ness).
    * Integer arithmetic end-to-end so engines agree exactly.
    */
  def qualityScore(c: Column, stopwordHits: Column): Column =
    tokenCountWs(c) + lit(2) * stopwordHits - lit(3) * punctCount(c)

  /** Tiny per-language stopword profiles for the n-gram/stopword-voting
    * language heuristic. Real deployments plug in full profiles; the
    * operator shape (explode → broadcast join → count → argmax) is what
    * scales.
    */
  val stopwordProfiles: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "fast", "en" -> "slow",
    "es" -> "data", "es" -> "row",
    "fr" -> "table", "fr" -> "join",
    "de" -> "window", "de" -> "batch",
    "zh" -> "spark", "zh" -> "stream")

  /** Language ID by stopword voting: explode tokens, broadcast-join the
    * profile table, count hits per (doc, lang), argmax with lexicographic
    * tiebreak; docs with zero hits → 'und'. One shuffle (the groupBy),
    * profile side broadcast.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sw = stopwordProfiles.toDF("sl", "sw")
    val toks = explodeTokens(df, textCol, "t", col(idCol))
    val hits = toks.join(broadcast(sw), col("t") === col("sw"))
      .groupBy(col(idCol), col("sl")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("c").desc, col("sl").asc)
    val winner = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col(idCol), col("sl"))
    df.select(col(idCol))
      .join(winner, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("sl"), lit("und")).as("pred_lang"))
  }

  /** Mixed-language detection: the top-2 language vote shares per doc.
    * Code-switched or concatenated-source documents poison monolingual
    * training sets, and [[langId]]'s argmax hides them — this face
    * exposes the winner's and runner-up's share of total stopword hits
    * (basis points by integer division — exact cross-engine) and flags
    * `is_mixed` when the runner-up holds at least `mixedBp`. Zero-hit
    * docs come out ('und', 0, null, 0, false). Same plan shape as
    * langId: one broadcast profile join + one groupBy; the windows run
    * over the per-(doc, lang) counts, ≤ |languages| rows per doc.
    */
  def langMix(df: DataFrame, idCol: String, textCol: String,
              mixedBp: Long = 3000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sw = stopwordProfiles.toDF("sl", "sw")
    val hits = explodeTokens(df, textCol, "t", col(idCol))
      .join(broadcast(sw), col("t") === col("sw"))
      .groupBy(col(idCol), col("sl")).agg(count(lit(1)).as("c"))
    val wd = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("c").desc, col("sl").asc)
    val ranked = hits
      .withColumn("_tot", sum("c").over(wd))
      .withColumn("rn", row_number().over(w))
      .withColumn("bp", expr("c * 10000 div _tot"))
    val top = ranked.filter(col("rn") === 1)
      .select(col(idCol), col("sl").as("pred_lang"),
        col("bp").as("pred_share_bp"))
    val second = ranked.filter(col("rn") === 2)
      .select(col(idCol), col("sl").as("second_lang"),
        col("bp").as("second_share_bp"))
    df.select(col(idCol))
      .join(top, Seq(idCol), "left")
      .join(second, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("pred_share_bp"), lit(0L)).as("pred_share_bp"),
        col("second_lang"),
        coalesce(col("second_share_bp"), lit(0L)).as("second_share_bp"))
      .withColumn("is_mixed", col("second_share_bp") >= lit(mixedBp))
  }

  /** Blocklist gate (the NSFW / unsafe-wordlist curation filter): per
    * doc, how many tokens hit the blocked-term list and what fraction
    * of the doc that is (basis points by integer division — exact),
    * flagged when the mass reaches `maxBp` OR any hit occurs with
    * `maxBp = 0`. Plan shape: one broadcast term join + one groupBy —
    * the langId shape; the blocklist is a broadcast table, so a
    * 100k-term production list costs the same plan.
    */
  def blocklistFlags(df: DataFrame, idCol: String, textCol: String,
                     terms: Seq[String], maxBp: Long): DataFrame = {
    require(terms.nonEmpty, "empty blocklist")
    val spark = df.sparkSession
    import spark.implicits._
    val bl = terms.distinct.toDF("_blocked")
    val toks = df.withColumn("_toks", tokens(col(textCol)))
      .select(col(idCol), explode_outer(col("_toks")).as("t"))
    val hits = toks
      .join(broadcast(bl), col("t") === col("_blocked"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("blocked_hits"))
    df.select(col(idCol),
        coalesce(size(tokens(col(textCol))), lit(0)).as("n_tokens"))
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("blocked_hits"))
      .withColumn("blocked_bp",
        when(col("n_tokens") > 0,
          expr("blocked_hits * 10000 div n_tokens")).otherwise(lit(0L)))
      .withColumn("is_blocked",
        if (maxBp <= 0) col("blocked_hits") > 0
        else col("blocked_bp") >= lit(maxBp))
      .select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
        col("blocked_hits"), col("blocked_bp"), col("is_blocked"))
  }

  /** Stopword hit count per document (for quality scoring). */
  def stopwordHits(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sw = stopwordProfiles.map(_._2).distinct.toDF("sw")
    explodeTokens(df, textCol, "t", col(idCol))
      .join(broadcast(sw), col("t") === col("sw"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("sw_hits"))
  }

  /** Corpus token document-frequency / IDF: one row per distinct token
    * with the number of documents containing it and the smoothed
    * inverse document frequency ln((N+1)/(df+1)). The per-doc token
    * DISTINCT and the per-token count are both partial/final hash
    * aggregates (map-side combine), so the shuffle carries one row per
    * distinct (doc, token) then one per token — never the raw token
    * stream. The corpus size joins in as a 1-row aggregate (broadcast
    * nested loop), not a driver-side count() action.
    */
  def docFrequency(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = df.agg(count(lit(1)).as("n_docs"))
    explodeTokens(df, textCol, "token", col(idCol))
      .distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df_docs"))
      .crossJoin(broadcast(n))
      .withColumn("idf", log((col("n_docs") + 1).cast("double") /
        (col("df_docs") + 1).cast("double")))
  }

  /** Rare-token profile — the CCNet/Gopher-family "rare word fraction"
    * quality signal with EXACT integer arithmetic end-to-end: per
    * document, the total token count, the count of tokens whose corpus
    * document-frequency is ≤ `maxDf` (the OOV/typo/noise proxy), and
    * that ratio in basis points via integer division — no doubles, so
    * the oracle compare is exact with no ULP/rounding hazard.
    *
    * Zero-token documents produce no row (nothing to measure), matching
    * [[repetitionStats]]. Two token explosions (one per aggregate
    * pyramid: per-doc counts and corpus df) — at scale, pre-aggregate
    * the (doc, token, count) frame once and feed both, the
    * [[graft.llm.Curation]] fusion.
    *
    * Shuffle shape: (doc, token, count) aggregation rows, a token-keyed
    * join against the df table (itself an aggregate — partial/final on
    * both sides), one final per-doc aggregate. Never raw text through a
    * shuffle.
    */
  def rareTokenProfile(df: DataFrame, idCol: String, textCol: String,
                       maxDf: Long = 2L): DataFrame = {
    val tc = explodeTokens(df, textCol, "t", col(idCol))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
    val docDf = tc.groupBy(col("t")).agg(count(lit(1)).as("_df"))
    tc.join(docDf, "t")
      .groupBy(col(idCol))
      .agg(sum("c").as("n_tokens"),
        sum(when(col("_df") <= maxDf, col("c")).otherwise(0L)).as("n_rare"))
      .withColumn("rare_bp", expr("n_rare * 10000 div n_tokens"))
  }

  /** Per-document repetition stats — the Gopher-family quality rules
    * that gate heavily templated/spammy text out of a training corpus:
    * total tokens, distinct tokens, the most-frequent token's count and
    * the most-frequent bigram's count. `is_repetitive` applies the
    * "top token holds >= 20% of the document" rule with exact integer
    * arithmetic (top*5 >= total). Zero-token documents produce no row
    * (nothing to measure); single-token docs get top_bigram_n = 0.
    * Two aggregation pyramids (token, bigram), each partial/final —
    * the (doc, gram) shuffle rows are the counts, not the grams.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toked = df.withColumn("_toks", tokens(col(textCol)))
    val tokCounts = toked
      .select(col(idCol), explode(col("_toks")).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max("c").as("top_token_n"))
    val bigramTop = explodeShingles(df, textCol, 2, col(idCol))
      .withColumnRenamed("s", "b")
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max("c").as("top_bigram_n"))
    tokCounts.join(bigramTop, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        col("top_token_n"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        (col("top_token_n") * 5 >= col("n_tokens")).as("is_repetitive"))
  }

  /** Per-document duplicated-n-gram fraction (the Dolma/RedPajama-style
    * memorization diagnostic): of each document's DISTINCT word
    * k-shingles, how many also appear in at least one OTHER document.
    * Output (id, n_shingles, n_dup_shingles) as exact integers — callers
    * apply their gate (e.g. drop when dup*10 >= total*3). Docs with
    * fewer than k tokens have no shingles and produce no row.
    *
    * Scale shape: one shingle explosion feeding two partial/final hash
    * aggregates — the corpus-wide shingle document-frequency (shuffle
    * carries one row per distinct shingle) joins back to the per-doc
    * shingle set on the shingle key. No window over the raw stream, no
    * driver action. The df side could be Bloom-pruned at 100 TB; exact
    * join kept here for oracle parity.
    */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val sh = explodeShingles(df, textCol, k, col(idCol))
      .distinct()
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("_nd"))
    sh.join(dfreq, Seq("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_nd") > 1, 1L).otherwise(0L)).as("n_dup_shingles"))
  }

  /** Per-group exact distribution profile of an integer column: count,
    * min/max, sum, and exact DISCRETE percentiles (the value at rank
    * ⌈q·n⌉ — `quantile_disc` semantics, all-integer output so engines
    * agree bit-for-bit; interpolating `percentile` returns doubles whose
    * ULPs differ across engines).
    *
    * Scale shape: percentiles come from a cumulative sum over the
    * per-group VALUE HISTOGRAM, not a window over raw rows — the shuffle
    * carries one row per (group, distinct value) after a partial/final
    * count aggregate, so a 100 TB corpus with bounded value cardinality
    * (lengths, scores) profiles in one narrow pass. The rank window
    * orders the histogram, not the corpus. For unbounded-cardinality
    * doubles use approx_percentile instead; this is the exact face.
    */
  def valueProfile(df: DataFrame, groupCol: String, valCol: String,
                   quantiles: Seq[Int] = Seq(50, 90)): DataFrame = {
    val hist = df.groupBy(col(groupCol), col(valCol))
      .agg(count(lit(1)).as("_c"))
    val byVal = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valCol))
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val cum = hist
      .withColumn("_cum", sum(col("_c")).over(byVal))
      .withColumn("_n", sum(col("_c")).over(whole))
    val qAggs = quantiles.map(q =>
      min(when(col("_cum") * 100 >= col("_n") * q, col(valCol)))
        .as(s"p$q"))
    val aggs = Seq(
      max(col("_n")).as("n_rows"),
      min(col(valCol)).as("min_v"),
      max(col(valCol)).as("max_v"),
      sum(col(valCol) * col("_c")).as("sum_v")) ++ qAggs
    cum.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group IQR-fence outlier flags — the Tukey rule (outside
    * [p25 − 1.5·IQR, p75 + 1.5·IQR]) over an integer value column,
    * with EXACT integer arithmetic: both sides scale by 2, so the
    * comparison is `2·v < 2·p25 − 3·IQR` / `2·v > 2·p75 + 3·IQR` and no
    * fractional fence ever materializes. Quartiles are the DISCRETE
    * percentiles from [[valueProfile]]'s histogram (one narrow row per
    * (group, distinct value) through the window, never the corpus).
    * The per-group bounds are a group-count-sized frame — broadcast to
    * the flagging join, so the corpus pass is map-side.
    */
  def outlierFlags(df: DataFrame, groupCol: String, idCol: String,
                   valCol: String): DataFrame = {
    val bounds = valueProfile(df, groupCol, valCol, Seq(25, 75))
      .select(col(groupCol), col("p25"), col("p75"))
    df.select(col(idCol), col(groupCol), col(valCol))
      .join(broadcast(bounds), groupCol)
      .withColumn("is_outlier",
        col(valCol) * 2 < col("p25") * 2 - (col("p75") - col("p25")) * 3 ||
          col(valCol) * 2 > col("p75") * 2 + (col("p75") - col("p25")) * 3)
      .select(col(idCol), col(groupCol), col(valCol), col("is_outlier"))
  }

  /** MAD robust outlier flags — the median-based complement to the
    * Tukey fence ([[outlierFlags]]): flag x iff
    * `0.6745·|x − median| > 3.5·MAD` (the standard modified z-score
    * cut), computed per group. MAD resists the very outliers it hunts,
    * where IQR fences drift when a tail is heavy.
    *
    * Determinism: medians are the exact type-1 (lower) quantile from
    * the integer histogram ([[valueProfile]]'s cm·100 ≥ n·50 rule —
    * no interpolation), and the threshold comparison is scaled to
    * integers (adev·6745 > mad·35000), so on integer-valued columns
    * every intermediate is exact and cross-engine bit-identical.
    * Degenerate MAD = 0 (over half the group at the median) flags any
    * deviation — the textbook caveat, left unsmoothed on purpose.
    * Cost: two histogram aggregates + two broadcast joins of one row
    * per group; the corpus is scanned twice, shuffled never (histogram
    * carries (group, value, count), not rows).
    */
  def madOutliers(df: DataFrame, groupCol: String, idCol: String,
                  valCol: String): DataFrame = {
    val med = valueProfile(df, groupCol, valCol, Seq(50))
      .select(col(groupCol), col("p50").as("med"))
    val withDev = df.select(col(idCol), col(groupCol), col(valCol))
      .join(broadcast(med), groupCol)
      .withColumn("_adev", abs(col(valCol) - col("med")))
    val mad = valueProfile(withDev, groupCol, "_adev", Seq(50))
      .select(col(groupCol), col("p50").as("mad"))
    withDev.join(broadcast(mad), groupCol)
      .withColumn("is_outlier", col("_adev") * 6745 > col("mad") * 35000)
      .select(col(idCol), col(groupCol), col(valCol), col("med"), col("mad"),
        col("is_outlier"))
  }

  /** Winsorization: clamp a numeric column to its own [pLo, pHi]
    * interpolated percentiles — outlier capping that keeps every row
    * (vs the drop semantics of the MAD/Tukey flags). The two clip
    * points are ONE global aggregate broadcast back over the corpus;
    * the clamp itself is a codegen'd projection, zero extra shuffle.
    * Output: input columns + `<valCol>_w`.
    */
  def winsorize(df: DataFrame, valCol: String, pLo: Int = 1,
                pHi: Int = 99): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 100, s"bad bounds: $pLo..$pHi")
    val bounds = df.agg(
      percentile(col(valCol), lit(pLo / 100.0)).as("_lo"),
      percentile(col(valCol), lit(pHi / 100.0)).as("_hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(s"${valCol}_w",
        least(greatest(col(valCol).cast("double"), col("_lo")), col("_hi")))
      .drop("_lo", "_hi")
  }

  /** Per-group standardization (z-score): (x − μ_g) / σ_g with the
    * group's own sample stddev — feature scaling before any
    * distance-based downstream (clustering, ANN on scalar features).
    * Groups reduce to (group, μ, σ) and broadcast back; degenerate
    * groups (σ = 0 or a single row) emit 0, not NaN/null — every row
    * of a constant group sits exactly at its mean.
    */
  def standardize(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val stats = df.groupBy(col(groupCol))
      .agg(avg(col(valCol)).as("_mu"), stddev_samp(col(valCol)).as("_sigma"))
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn(s"${valCol}_z",
        when(col("_sigma").isNull || col("_sigma") === 0.0, lit(0.0))
          .otherwise((col(valCol) - col("_mu")) / col("_sigma")))
      .drop("_mu", "_sigma")
  }

  /** Per-group min-max scaling to [0, 1]: (x − min_g)/(max_g − min_g) —
    * the bounded-range companion of [[standardize]] (z-scores preserve
    * outlier magnitude; min-max pins the range, which is what score
    * mixers and UI meters want). Same shape: one (group, lo, hi)
    * aggregate broadcast back, codegen'd projection, zero extra
    * shuffle. Degenerate groups (constant value) emit 0.
    */
  def minMaxScale(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val stats = df.groupBy(col(groupCol))
      .agg(min(col(valCol)).as("_lo"), max(col(valCol)).as("_hi"))
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn(s"${valCol}_mm",
        when(col("_hi") === col("_lo"), lit(0.0))
          .otherwise((col(valCol) - col("_lo")) / (col("_hi") - col("_lo"))))
      .drop("_lo", "_hi")
  }

  /** Benford first-significant-digit audit — the fabricated-data smell
    * test: naturally-arising multiplicative quantities put digit d
    * first with probability log₁₀(1 + 1/d) (~30.1% for 1), while
    * manufactured or uniformly-synthesized figures spread digits
    * evenly. Deviation from the expected basis points IS the signal
    * (the driver testdata's uniform prices fail it loudly — by
    * design). Exactness: the digit comes from integer-to-string of
    * ⌊value·100⌋ (locale-free, engine-identical — never from double
    * formatting), shares are integral basis points, and the expected
    * distribution ships as integer constants, so no libm log anywhere.
    * One aggregate + a 9-row broadcast. Output: digit, n, share_bp,
    * expected_bp.
    */
  def benfordProfile(df: DataFrame, valCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val expected = Seq((1L, 3010L), (2L, 1761L), (3L, 1249L), (4L, 969L),
      (5L, 792L), (6L, 669L), (7L, 580L), (8L, 512L), (9L, 458L))
      .toDF("digit", "expected_bp")
    // values below the cents resolution (0 < v < 0.01) have ⌊v·100⌋ = 0
    // — no leading digit — and MUST leave the denominator too, or every
    // digit's share reads under-represented (a false fabricated-data
    // signal on rate/fraction columns). The profile's domain is v ≥ 0.01.
    val counts = df.filter(floor(col(valCol) * 100) >= 1)
      .select(substring(floor(col(valCol) * 100).cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("_total"))
    expected.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("cnt"), lit(0L)).cast("long").as("n"),
        expr("coalesce(cnt, 0L) * 10000L div _total").as("share_bp"),
        col("expected_bp"))
  }

  /** Canonical text normalization for exact-match keys: lowercase,
    * collapse whitespace runs to single spaces, strip non-printable-
    * ASCII, trim. Applied BEFORE hashing/dedup so cosmetic variants
    * (tabs vs spaces, stray control bytes) collide. Pure column
    * algebra — codegen'd, zero shuffle. Whitespace collapses BEFORE
    * the printable filter so newlines become spaces instead of
    * vanishing (which would glue words together).
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "\\s+", " "), "[^ -~]", ""))

  /** Per-document TF-IDF keyword extraction: the `m` highest tf·idf
    * tokens per document (smoothed idf = ln((N+1)/(df+1)), the
    * [[docFrequency]] convention), ranked with a lexicographic token
    * tiebreak. Output is rank + token + integer tf — the double score
    * stays internal, so cross-engine agreement only needs the ORDER of
    * scores (robust: a last-ulp ln() difference can only flip a rank at
    * an astronomically near tie, and exact ties share (tf, df) so both
    * engines shift together; emitting the raw double would instead
    * hash-compare every ulp).
    *
    * One token explosion total: tf aggregates the exploded stream, the
    * document-frequency table derives from the tf rows (a distinct
    * (doc, token) row IS a document hit), and the corpus size joins in
    * as a broadcast 1-row aggregate. The top-m window shuffles the tf
    * table (one row per distinct (doc, token)), never the raw stream.
    */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
                    m: Int = 3): DataFrame = {
    val tf = explodeTokens(df, textCol, "token", col(idCol))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("_dfd"))
    val n = df.agg(count(lit(1)).as("_nd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("_score").desc, col("token").asc)
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("_score", col("tf") * log((col("_nd") + 1).cast("double") /
        (col("_dfd") + 1).cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= m)
      .select(col(idCol), col("rank"), col("token"), col("tf"))
  }

  /** BM25 relevance scores for a fixed query over the corpus — the
    * standard lexical ranking function (Lucene's variant:
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`, tf saturation k1,
    * length normalization b). Returns one row per document containing
    * at least one query token.
    *
    * Shape: the corpus contributes ONE fused (doc, token, count)
    * aggregate; everything query-sized — the per-token document
    * frequencies and the (N, avg length) scalars — broadcasts, so
    * scoring is a map-side join over the docs that mention a query
    * token (the equivalent of walking postings lists, never the whole
    * corpus per term). Queries are literals, not a table: this is the
    * "score corpus against a probe" shape used for retrieval eval and
    * contamination hunting, not a search engine loop.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           query: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25 needs at least one query token")
    val tc = explodeTokens(df, textCol, "token", col(idCol))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val lens = tc.groupBy(col(idCol)).agg(sum(col("tf")).as("_dl"))
    val stats = lens.agg(count(lit(1)).as("_n"),
      sum(col("_dl")).as("_toklen"))
    val qtc = tc.filter(col("token").isin(query: _*))
    val dfreq = qtc.groupBy(col("token")).agg(count(lit(1)).as("_df"))
    qtc.join(broadcast(dfreq), Seq("token"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_norm",
        lit(k1) * (lit(1 - b) +
          lit(b) * (col("_dl") * col("_n") / col("_toklen"))))
      .withColumn("_term",
        col("_idf") * col("tf") * (lit(k1) + 1) / (col("tf") + col("_norm")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"), sum(col("_term")).as("score"))
  }

  /** Unigram language-model quality score: the per-document mean log
    * probability of its tokens under the corpus's own unigram
    * distribution — the cheap stand-in for the KenLM-perplexity filter
    * in CCNet-style pipelines (a doc whose tokens are collectively
    * improbable in the corpus is noise/mojibake/another register).
    * `avg_lp = Σ c_t · ln(cnt_t / N) / Σ c_t` over the doc's distinct
    * tokens t (c_t in-doc count, cnt_t corpus count, N corpus total).
    *
    * Shape: one (doc, token, count) aggregate (the same fused shape as
    * Curation), a token-keyed equi join against the one-row-per-
    * distinct-token corpus table (broadcast when the vocab is small,
    * AQE-skew-split otherwise — the join input is doc×DISTINCT-token,
    * never raw occurrences), a broadcast single-row N, and a final
    * per-doc aggregate. No window, no collect. Callers compare avg_lp
    * across docs; absolute values shift with corpus size as any LM's
    * do. ln() is engine-libm; round before hash-comparing.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tc = explodeTokens(df, textCol, "token", col(idCol))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
    val corpus = tc.groupBy(col("token")).agg(sum(col("c")).as("cnt"))
    val n = corpus.agg(sum(col("cnt")).as("_n_total"))
    tc.join(corpus, Seq("token"))
      .crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        (sum(col("c") * log(col("cnt").cast("double") / col("_n_total"))) /
          sum(col("c"))).as("avg_lp"))
  }

  /** Interpolated bigram-LM quality score — the next step up from
    * [[unigramLogProb]] toward the KenLM-perplexity gate: each document
    * scores the mean ln of
    *
    *   p(r | l) = λ·c(l r)/c(l) + (1−λ)·c(r)/N
    *
    * over its word bigrams, with λ in basis points (exact integer
    * parameter; 8000 = 0.8). Interpolation with the unigram term keeps
    * corpus-unseen bigrams finite — the standard Jelinek-Mercer
    * smoothing — and low scores read "unlike this corpus's word order",
    * catching shuffled/garbled text that unigram stats can't.
    *
    * Plan: bigrams come from a map-side array zip (no lag window over
    * the corpus); per-doc bigram counts join the REDUCED corpus bigram
    * frame (bigram-keyed, postings shape) and the unigram frame for
    * both sides' counts; N broadcasts as a 1-row aggregate. Same
    * determinism contract as [[unigramLogProb]]: compare after
    * round(, 6). Docs with fewer than 2 tokens produce no row.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    lambdaBp: Long = 8000L): DataFrame = {
    require(lambdaBp >= 0 && lambdaBp <= 10000, s"lambdaBp out of range: $lambdaBp")
    val lam = lambdaBp.toDouble / 10000.0
    val pairs = df.withColumn("_toks", tokens(col(textCol)))
      .select(col(idCol),
        explode_outer(when(size(col("_toks")) >= 2,
          zip_with(slice(col("_toks"), lit(1), size(col("_toks")) - 1),
            slice(col("_toks"), lit(2), size(col("_toks")) - 1),
            (x, y) => struct(x.as("l"), y.as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("_p"))
      .filter(col("_p").isNotNull)
      .select(col(idCol), col("_p.l").as("l"), col("_p.r").as("r"))
    val dc = pairs.groupBy(col(idCol), col("l"), col("r"))
      .agg(count(lit(1)).as("c"))
    val bg = dc.groupBy(col("l"), col("r")).agg(sum(col("c")).as("cnt_lr"))
    val ug = explodeTokens(df, textCol, "w")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt_w"))
    val n = ug.agg(sum(col("cnt_w")).as("_n_total"))
    dc.join(bg, Seq("l", "r"))
      .join(ug.select(col("w").as("l"), col("cnt_w").as("cnt_l")), "l")
      .join(ug.select(col("w").as("r"), col("cnt_w").as("cnt_r")), "r")
      .crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_bigrams"),
        (sum(col("c") * log(
          lit(lam) * col("cnt_lr") / col("cnt_l") +
            lit(1.0 - lam) * col("cnt_r") / col("_n_total"))) /
          sum(col("c"))).as("avg_blp"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by the log importance ratio of two bag-of-tokens unigram
    * models — a TARGET model estimated from the `targetPred` slice (the
    * trusted high-quality subset) vs the RAW model from the whole
    * corpus:
    *
    *   avg_lw(d) = Σ_tok c_d(tok)·(ln p_t(tok) − ln p_r(tok)) / Σ c_d
    *
    * with add-one smoothing over the raw vocabulary for both models (so
    * target-unseen tokens penalize rather than blow up). High scores
    * read "target-like"; resampling keeps the top mass. Output:
    * (idCol, n_tokens, avg_lw).
    *
    * Plan: ONE token explosion feeds both models and the per-doc
    * aggregation; model statistics reduce to a vocabulary-keyed frame
    * (token, cr, ct) and three broadcast scalars — the corpus is never
    * shuffled twice, and the scoring join is token-keyed against the
    * reduced model frame, the same postings shape as [[bm25]].
    * Determinism: same contract as [[unigramLogProb]] — callers compare
    * cross-engine after round(, 6), which absorbs libm ln() and
    * double-sum-order last-ulp drift (documents are bounded; the
    * per-doc sum is over its distinct tokens only).
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column): DataFrame = {
    val tc = explodeTokens(df.withColumn("_tgt", targetPred), textCol,
        "token", col(idCol), col("_tgt"))
      .groupBy(col(idCol), col("_tgt"), col("token"))
      .agg(count(lit(1)).as("c"))
    val raw = tc.groupBy("token").agg(sum("c").as("cr"))
    val tgt = tc.filter(col("_tgt")).groupBy("token").agg(sum("c").as("ct"))
    val model = raw.join(tgt, Seq("token"), "left")
      .select(col("token"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val consts = model.agg(sum("cr").as("_nr"), sum("ct").as("_nt"),
      count(lit(1)).as("_v"))
    val lr = model.crossJoin(broadcast(consts))
      .select(col("token"),
        (log((col("ct") + 1).cast("double") / (col("_nt") + col("_v"))) -
          log((col("cr") + 1).cast("double") / (col("_nr") + col("_v"))))
          .as("lr"))
    tc.join(lr, Seq("token"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        (sum(col("c") * col("lr")) / sum(col("c"))).as("avg_lw"))
  }

  /** Corpus vocabulary heavy hitters: the `k` most frequent tokens with
    * total occurrences and document frequency, ties broken
    * lexicographically. Partial/final hash aggregate (map-side combine
    * collapses the token stream before the shuffle) followed by
    * TakeOrderedAndProject — no global sort materializes.
    */
  def topTokens(df: DataFrame, idCol: String, textCol: String,
                k: Int = 20): DataFrame =
    explodeTokens(df, textCol, "token", col(idCol))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("occurrences"),
        count_distinct(col(idCol)).as("df_docs"))
      .orderBy(col("occurrences").desc, col("token").asc)
      .limit(k)

  /** Frequency-ranked vocabulary: every corpus token mapped to a dense
    * 1-based id by (occurrences desc, token) — the id assignment step
    * of tokenizer training / embedding-table construction. Output:
    * (token, token_id, occurrences).
    *
    * Scale: the rank runs over the REDUCED vocabulary frame (one row
    * per distinct token after the map-side-combined count), not the
    * token stream. The global row_number still funnels that frame
    * through one sort task — fine to ~10⁷ vocab rows; a 100 TB corpus
    * with a larger open vocabulary should cap it first (`limit` after
    * the same ordering, as topTokens does) or range-partition the rank
    * (sortWithinPartitions + per-partition offsets).
    */
  def buildVocab(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("occurrences").desc, col("token").asc)
    explodeTokens(df, textCol, "token", col(idCol))
      .groupBy(col("token")).agg(count(lit(1)).as("occurrences"))
      .withColumn("token_id", row_number().over(w).cast("long"))
      .select(col("token"), col("token_id"), col("occurrences"))
  }

  /** Encode documents against a [[buildVocab]] table: long-form
    * (idCol, pos, token_id), one row per token occurrence in document
    * order (pos is 0-based). The token-keyed join against the
    * vocabulary is the postings shape; out-of-vocabulary tokens drop
    * (inner join) — encode against the corpus's own vocab for total
    * coverage, or pre-filter the vocab to model a closed tokenizer.
    */
  def encodeDocs(df: DataFrame, idCol: String, textCol: String,
                 vocab: DataFrame): DataFrame =
    explodeTokensPos(df, textCol, "pos", "token", col(idCol))
      .join(vocab.select(col("token"), col("token_id")), Seq("token"))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("token_id"))

  /** Document fingerprint: md5 of whitespace-normalized lowercase text,
    * truncated to 16 hex chars — the rolling-hash/winnowing family's
    * exact-normalized-content representative. Collision-safe enough at
    * 64 bits for dedup candidate keys.
    */
  def fingerprint(c: Column): Column =
    substring(md5(regexp_replace(trim(lower(c)), "\\s+", " ")), 1, 16)

  /** Winnowing fingerprints (the local-fingerprinting scheme behind
    * MOSS-style partial-overlap detection): hash every `k`-char-gram of
    * the whitespace-normalized lowercase text, slide a window of `w`
    * consecutive gram hashes, keep each window's MINIMUM, and dedup the
    * selected hashes per document. Guarantees any shared substring of
    * length ≥ k + w - 1 contributes at least one common fingerprint —
    * the property whole-document [[fingerprint]] lacks.
    *
    * Per-document summary output (`n_fps`, min/max fingerprint, and an
    * order-insensitive md5 checksum of the sorted fingerprint set) keeps
    * the result one row per doc; join two docs' fingerprint SETS for
    * overlap detection by exploding `_fps` before the summary instead.
    *
    * Scale shape: pure column algebra over materialized arrays — the
    * whole operator is ONE map-side projection, zero shuffles (a window
    * function over (doc, position) would shuffle the entire gram stream
    * by doc_id). Gram hashes are hex-truncated md5 (lexicographic min ≡
    * numeric min on uniform hex — the MinHash convention), so any engine
    * with md5 reproduces the fingerprints bit-for-bit. Per-row transient
    * memory is O(doc length) for the gram-hash array; documents beyond
    * ~1 MB should be winnowed chunk-wise (chunk boundaries overlapping
    * by k+w-2 chars preserve the guarantee).
    *
    * Docs whose normalized text is shorter than `k` have no grams and
    * produce no row. When a doc has fewer than `w` grams, the single
    * window covers all of them (slice clips at the array end), matching
    * the standard winnowing boundary convention.
    */
  def winnow(df: DataFrame, idCol: String, textCol: String,
             k: Int = 8, w: Int = 4): DataFrame =
    winnowSets(df, idCol, textCol, k, w)
      .select(col(idCol),
        size(col("_fps")).cast("long").as("n_fps"),
        array_min(col("_fps")).as("fp_min"),
        array_max(col("_fps")).as("fp_max"),
        md5(concat_ws(",", array_sort(col("_fps")))).as("fp_checksum"))

  /** Exploded winnowing fingerprints, one (id, fp) row per selected
    * distinct fingerprint — the join-ready face for overlap detection
    * (equi-join two corpora on `fp`, count shared prints per pair).
    *
    * `explode_outer`, deliberately: plain `explode` makes the optimizer
    * infer a `size(_fps) > 0` filter (InferFiltersFromGenerate) which
    * predicate pushdown then rewrites by SUBSTITUTING the whole nested
    * HOF tree — the gram-hash transform re-evaluates per window and the
    * regex normalization per gram inside the inferred filter, turning a
    * linear projection into O(windows × grams × regex) per document
    * (measured ~1 s/doc; the outer flavor is milliseconds). The rule
    * skips outer generates, and the semantics are identical here: the
    * `length >= k` pre-filter guarantees at least one gram, so `_fps`
    * is never empty and the outer explode emits no null rows.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame =
    winnowSets(df, idCol, textCol, k, w)
      .select(col(idCol), explode_outer(col("_fps")).as("fp"))

  /** MOSS-style partial-overlap pairs: documents sharing at least
    * `minShared` winnowing fingerprints, with the shared count — the
    * detector for copied PASSAGES that whole-document hashing and
    * shingle-Jaccard both dilute (a 200-char lift inside two otherwise
    * different documents still collides on its window minima).
    *
    * Scale: an equi self-join on the fingerprint key — Σ bucket², so
    * fingerprints appearing in more than `maxFpDf` documents are
    * excluded first (same guard class as
    * [[graft.llm.DedupOps.blockedPairs]]). Keep `maxFpDf` SMALL (MOSS
    * suppresses any fingerprint shared by more than a handful of
    * submissions): a print held by hundreds of documents is a
    * duplication-cluster or boilerplate signal — [[exactDedupKeep]] /
    * near-dup / [[graft.llm.Boilerplate]] territory, not passage
    * copying — and it is exactly the hot key that makes the self-join
    * quadratic (measured bench-to-bench at sf0.1: 48 s → 7 s dropping
    * the cap from 1000 to 64 on a duplication-heavy corpus). The
    * fingerprint table is computed once and released after the pairs
    * materialize.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4,
                         minShared: Long = 2L,
                         maxFpDf: Long = 64L): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w).cache()
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxFpDf)
      .select(col("fp"))
    val flt = fps.join(rare, Seq("fp"))
    val a = flt.select(col("fp"), col(idCol).as("id1"))
    val b = flt.select(col("fp"), col(idCol).as("id2"))
    val out = a.join(b, Seq("fp"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .cache()
    out.count() // materialize: all fps consumers have run
    fps.unpersist()
    out
  }

  /** (idCol, _fps) with `_fps` the distinct selected window minima.
    * All lambdas reference only materialized attribute columns (HOF
    * lambdas re-evaluate embedded expressions per element).
    */
  private def winnowSets(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame =
    df.withColumn("_nm", regexp_replace(trim(lower(col(textCol))), "\\s+", " "))
      .filter(length(col("_nm")) >= k)
      // gram hash i = first 8 md5 hex chars of chars [i, i+k)
      .withColumn("_hs",
        transform(sequence(lit(1), length(col("_nm")) - (k - 1)),
          i => substring(md5(col("_nm").substr(i, lit(k))), 1, 8)))
      .withColumn("_fps",
        array_distinct(transform(
          sequence(lit(1), greatest(lit(1), size(col("_hs")) - (w - 1))),
          j => array_min(slice(col("_hs"), j, lit(w))))))

  /** Split documents into training-context-sized chunks of
    * `chunkTokens` whitespace tokens with `overlap` tokens carried
    * between consecutive chunks — the tokenization-prep operator every
    * pretraining pipeline runs before packing. Output one row per
    * (doc, chunk): chunk_id (0-based), chunk text (space-rejoined),
    * and the chunk's token count (the last chunk may be short; a
    * trailing piece fully covered by the previous chunk's overlap is
    * not emitted). Docs with zero tokens produce no row.
    *
    * Pure map-side column algebra: tokenize once, slice per chunk via
    * a transform over the chunk-start sequence, posexplode — zero
    * shuffles, so it composes with any downstream packing/aggregation
    * without its own exchange. Stride = chunkTokens − overlap.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int = 64, overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    df.withColumn("_toks", tokens(col(textCol)))
      .filter(size(col("_toks")) > 0)
      // chunk starts: 1, 1+stride, ... while start <= max(1, n - overlap)
      // (a start inside the final overlap would duplicate covered tokens)
      .withColumn("_nchunks",
        greatest(lit(1L),
          ceil((size(col("_toks")) - lit(overlap)).cast("double") / stride)
            .cast("long")))
      .withColumn("_chunks",
        transform(sequence(lit(0L), col("_nchunks") - 1),
          i => concat_ws(" ",
            slice(col("_toks"), (i * stride + 1).cast("int"), lit(chunkTokens)))))
      .select(col(idCol),
        posexplode(col("_chunks")).as(Seq("chunk_id", "chunk_text")))
      .withColumn("chunk_id", col("chunk_id").cast("long"))
      .withColumn("n_chunk_tokens", size(tokens(col("chunk_text"))).cast("long"))
  }

  /** Token-budget packing: assign documents to fixed-budget bins (the
    * sequence-packing step before writing training shards), first-fit
    * in (shard, docId) order — bin = ⌊cumulative-tokens-before / budget⌋.
    * Deterministic, engine-portable integer arithmetic; a document
    * larger than the budget gets its own bin(s) boundary (chunk first
    * with [[chunkDocs]] if strict fit matters). Output one row per doc:
    * shard, doc id, token count, bin id.
    *
    * Scale shape: packing is inherently sequential WITHIN a shard (each
    * bin depends on everything before it), so the operator shuffles
    * once on the shard key and runs one cumulative-sum window per
    * shard — shards are the parallelism unit, exactly how multi-writer
    * shard jobs pack in practice. The window input is one row per doc
    * (counts, not tokens).
    */
  def packByBudget(df: DataFrame, shardCol: String, idCol: String,
                   textCol: String, budgetTokens: Long = 256L): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col(shardCol)).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(shardCol), col(idCol),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("_cum_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin", expr(s"_cum_before div ${budgetTokens}L"))
      .select(col(shardCol), col(idCol), col("n_tokens"), col("bin"))
  }

  // ---- content-level PII scrubbing ----
  // The column-masking ops (Stages F6/F7) handle PII that lives in known
  // FIELDS; a training corpus also needs the free-TEXT scrub every
  // public pretraining pipeline applies (emails, phone numbers, long
  // numeric identifiers → placeholder tokens). Patterns avoid
  // engine-specific regex features (no backrefs/lookaround, [0-9] not
  // \d) so Java regex (Spark) and RE2 (DuckDB oracle) match
  // identically; the replace chain is ordered email → id → phone: a
  // bare ≥9-digit run would also satisfy the phone shape, so the id
  // pass claims separator-less runs first and the phone pass then only
  // sees digit groups with separators.

  /** Email addresses (user@host.tld). */
  val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-like: optional +, then ≥8 chars of digits/separators ending
    * in a digit.
    */
  val PhoneRx = "\\+?[0-9][0-9() .-]{6,}[0-9]"

  /** Bare long numeric identifiers (≥9 contiguous digits) — account
    * numbers, national ids. Runs before the phone pass (see above).
    */
  val IdRx = "[0-9]{9,}"

  /** Redact free-text PII: emails → `<EMAIL>`, bare long digit runs →
    * `<ID>`, phone-like runs → `<PHONE>`. Pure codegen'd column algebra
    * (three chained regexp_replace), one corpus pass, no UDF.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRx, "<EMAIL>"),
        IdRx, "<ID>"),
      PhoneRx, "<PHONE>")

  /** Conjunctive (AND) term search as posting-list intersection done
    * by COUNTING, not joining: explode to distinct (doc, term)
    * postings, keep rows whose term is in the query set, and a doc
    * matches iff its surviving posting count equals |terms| — one
    * groupBy, no |terms|-way self-join, no per-term scan. The filter
    * reaches the explode (only query-term postings survive the
    * map side), so the shuffle carries ≤ |terms| rows per doc. This is
    * how a conjunctive filter over an inverted index runs at corpus
    * scale; BM25 ranks what this selects.
    */
  def searchAll(docs: DataFrame, idCol: String, textCol: String,
                terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchAll needs at least one term")
    require(terms.distinct.size == terms.size, s"duplicate terms: $terms")
    explodeTokens(docs, textCol, "_t", col(idCol))
      .filter(col("_t").isin(terms: _*)).distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("_nt"))
      .filter(col("_nt") === terms.size)
      .select(col(idCol))
  }

  /** Exact-phrase search over positional postings: a doc matches iff
    * some position p has term_i at p+i for every i — each term's
    * postings are filtered MAP-SIDE (the shuffle carries only
    * query-term positions, like [[searchAll]]), rebased to the
    * phrase-start anchor p0 = pos − i, and intersected by (doc, p0)
    * equi joins. |terms|−1 joins over per-term-filtered frames — never
    * a positions×positions blowup; repeated-word phrases ("data data")
    * work because each occurrence keeps its own anchor. Output:
    * distinct matching `idCol`.
    */
  def searchPhrase(docs: DataFrame, idCol: String, textCol: String,
                   terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "a phrase needs at least two terms")
    val toks = explodeTokensPos(docs, textCol, "_pos", "_t", col(idCol))
    val anchors = terms.zipWithIndex.map { case (t, i) =>
      toks.filter(col("_t") === t)
        .select(col(idCol), (col("_pos") - i).as("_p0"))
    }
    anchors.reduce((a, b) => a.join(b, Seq(idCol, "_p0")))
      .select(col(idCol)).distinct()
  }

  /** Tokenizer-fertility profile per group (language/source): how many
    * BPE-ish tokens a tokenizer spends per whitespace word and per
    * character — the multilingual-mixture cost signal (a language with
    * 3× fertility costs 3× the context budget for the same text).
    * Integer totals summed as BIGINTs; the two ratios are single
    * closed-form divisions, round(6), NULL on empty denominators.
    * One groupBy shuffle to |groups| keys, map-side combined.
    */
  def tokenizerFertility(df: DataFrame, groupCol: String,
                         textCol: String): DataFrame = {
    val t = col(textCol)
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(t)).cast("long").as("total_chars"),
        sum(tokenCountWs(t)).cast("long").as("total_ws_tokens"),
        sum(tokenCountBpe(t)).cast("long").as("total_bpe_tokens"))
    g.select(col(groupCol), col("n_docs"), col("total_chars"),
      col("total_ws_tokens"), col("total_bpe_tokens"),
      when(col("total_ws_tokens") === 0L, lit(null).cast("double"))
        .otherwise(round(col("total_bpe_tokens").cast("double") /
          col("total_ws_tokens"), 6)).as("fertility"),
      when(col("total_bpe_tokens") === 0L, lit(null).cast("double"))
        .otherwise(round(col("total_chars").cast("double") /
          col("total_bpe_tokens"), 6)).as("chars_per_token"))
  }

  /** Per-document n-gram novelty against everything ingested BEFORE it
    * (id order): the share of a doc's distinct k-shingles whose global
    * first occurrence (min doc id) is the doc itself. The curation
    * curve this feeds ("how much genuinely new text does each slice
    * add?") drops toward 0 as a crawl saturates — the data-value
    * signal for dedup-aware acquisition. Docs with no shingles (< k
    * tokens) report 0 shingles and novelty 0.
    *
    * Shape: distinct (doc, shingle) explode → min(doc) per shingle
    * (the winners frame, partial-agg friendly) → count vs novel count
    * per doc — two content-keyed shuffles + one id-keyed fold, the
    * exact-dedup plan family; nothing corpus².
    */
  def shingleNovelty(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3): DataFrame = {
    val pairs = explodeShingles(df.select(col(idCol), col(textCol)),
        textCol, k, col(idCol))
      .distinct()
    val first = pairs.groupBy(col("s"))
      .agg(min(col(idCol)).as("_first"))
    val per = pairs.join(first, Seq("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col(idCol) === col("_first"), 1L).otherwise(0L))
          .as("n_novel"))
    df.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .na.fill(0L, Seq("n_shingles", "n_novel"))
      .select(col(idCol), col("n_shingles"), col("n_novel"),
        when(col("n_shingles") === 0L, lit(0.0))
          .otherwise(round(col("n_novel").cast("double") /
            col("n_shingles"), 6)).as("novelty"))
  }

  /** Out-of-vocabulary profile: per document, how many tokens
    * (multiplicity kept) fall outside the corpus' own top-`vocabSize`
    * token vocabulary — the coverage gate run before committing to a
    * tokenizer/vocab (high OOV mass = the vocab wastes capacity or the
    * slice is out-of-domain). Vocabulary = top tokens by total corpus
    * count, ties to the lexicographically smaller token, taken with
    * orderBy+limit — Spark plans that as TakeOrderedAndProject
    * (per-partition top-K merged on the driver), never a global sort,
    * so the selection scales to a billion-token vocabulary frame. The
    * K-row vocab then broadcast-joins back; zero-token docs report
    * (0, 0, 0.0).
    */
  def oovProfile(df: DataFrame, idCol: String, textCol: String,
                 vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    val tc = explodeTokens(df.select(col(idCol), col(textCol)), textCol,
        "t", col(idCol))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
    val vocab = tc.groupBy("t").agg(sum("c").as("_tot"))
      .orderBy(col("_tot").desc, col("t").asc)
      .limit(vocabSize)
      .select(col("t"), lit(true).as("_in_vocab"))
    val per = tc.join(broadcast(vocab), Seq("t"), "left")
      .groupBy(col(idCol))
      .agg(sum("c").as("n_tokens"),
        sum(when(col("_in_vocab").isNull, col("c")).otherwise(0L))
          .as("n_oov"))
    df.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .na.fill(0L, Seq("n_tokens", "n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(round(col("n_oov").cast("double") / col("n_tokens"), 6))
          .as("oov_rate"))
  }

  /** The default double-encode signatures [[encodingAnomalies]] scans
    * for: 'Ã' + the common second byte (UTF-8 accented Latin re-read as
    * Latin-1/cp1252), plus BOTH decodings of the corrupted right-quote
    * byte run E2 80 99: as Latin-1 ('â' + the two C1 controls U+0080
    * U+0099) and as cp1252 ('â€™'). Every signature is a MULTI-char
    * sequence, so a legitimate accented char alone (château) never
    * matches. Real deployments extend this list.
    */
  val mojibakeSignatures: Seq[String] =
    Seq("Ã©", "Ã¨", "Ã±", "â", "â€™")

  /** Encoding-anomaly profile per document — the mojibake/corruption
    * gate a web-scale text pipeline runs before training: counts of
    * U+FFFD replacement characters (a decoder already gave up),
    * double-encoded UTF-8 signatures (Ã©-style — UTF-8 bytes re-read
    * as Latin-1), and C0 control characters (binary junk in "text";
    * tab/newline/CR excluded). `clean` = all three zero.
    *
    * Fixed signatures are counted by length arithmetic
    * ((len − len(replace)) / len(sig)) — exact, codegen'd, and
    * portable to any SQL engine, no regex dialect in play; only the
    * control-character CLASS uses one regexp_count. Pure per-row
    * column algebra: no shuffle, no UDF, embarrassingly parallel.
    */
  def encodingAnomalies(df: DataFrame, idCol: String, textCol: String,
                        signatures: Seq[String] = mojibakeSignatures)
      : DataFrame = {
    require(signatures.nonEmpty && signatures.forall(_.nonEmpty),
      "signatures must be non-empty strings")
    val t = col(textCol)
    def countFixed(sig: String): Column =
      (length(t) - length(replace(t, lit(sig), lit("")))) / lit(sig.length)
    val nRepl = (length(t) - length(replace(t, lit("�"), lit("")))).cast("long")
    val nMoji = signatures.map(countFixed).reduce(_ + _).cast("long")
    val nCtrl = regexp_count(t,
      lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).cast("long")
    df.select(col(idCol), nRepl.as("n_replacement"), nMoji.as("n_mojibake"),
      nCtrl.as("n_control"),
      (nRepl + nMoji + nCtrl === 0L).as("clean"))
  }

  /** Compression-ratio quality signal: raw-DEFLATE each document (JDK
    * zlib, fixed level, no header so the ratio is pure content) and
    * report `ratio_milli` = 1000·deflated/original UTF-8 bytes (NULL
    * for empty/NULL text — no content, no signal). Text
    * that compresses far below the corpus norm is repetitive
    * boilerplate/spam; far above is high-entropy noise (binary-in-text,
    * encrypted blobs) — the cheap single-pass filter the shingle-based
    * [[repetitionStats]] complements with exact n-gram evidence.
    *
    * mapPartitions, not a Column: DEFLATE has no Catalyst expression
    * and no SQL-oracle equivalent (the [[graft.llm.Multimodal]] codec
    * stance), so verification is property-based (TextAnalysisSpec:
    * repetitive ≪ random, bounds, empty/null handling) rather than a
    * DuckDB replay. One Deflater per partition, reset per row — no
    * per-row native allocation. Determinism: fixed input + fixed level
    * is deterministic within a JVM/zlib build, which is the cluster
    * deployment unit; the spec pins properties, not byte counts.
    */
  def compressionRatio(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_bytes",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_deflate",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ratio_milli",
        org.apache.spark.sql.types.LongType)))
    // NULL ids raise loudly (the RankStats checkedLong stance — a
    // silently dropped row makes the quality report incomplete);
    // empty/NULL text has NO content signal, so ratio_milli is NULL
    // there rather than the 2000 the 2-byte empty-deflate would imply
    // (which would out-noise every real document)
    val rdd = df
      .select(Checked.long(col(idCol), "compressionRatio", s"id in $idCol"),
        col(textCol).cast("string"))
      .rdd
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, true)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        it.map { r =>
          val s = if (r.isNullAt(1)) "" else r.getString(1)
          val in = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          org.apache.spark.sql.Row(r.getLong(0), in.length.toLong, out,
            if (in.length == 0) null else out * 1000L / in.length.toLong)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** PPMI co-occurrence pairs — the word2vec/GloVe-style training-pair
    * mining stage: unordered token pairs within a `window`-token skip
    * gram of each document, with exact pair/marginal counts and the
    * pointwise mutual information
    * pmi = ln(4·T·c_ab / (c_a·c_b)) — p(a,b) = c_ab/T against slot
    * marginals p(a) = c_a/2T (each pair holds two slots, so the 4
    * appears squaring the 2T). One closed-form double from exact
    * counts, mirrored term for term by the oracle.
    *
    * Scale shape: pairs come straight off the token ARRAY via one
    * nested-transform projection (the secondMoments idiom — a token-
    * frame self-join on (doc, pos+k) would shuffle the corpus once per
    * window offset); then THREE corpus passes total — pair counts,
    * slot marginals, and the marginals' total (Σc = 2T). Spark does
    * not dedup common subplans, so the marginals reach BOTH pair
    * slots through one melted join (explode of the two slots + pivot
    * back), not two joins that would each re-tokenize the corpus —
    * r12 review finding; three passes is the floor without
    * materializing the pair matrix (a caller batching many stats over
    * it should persist it first). PlanAuditSpec pins the scan count.
    * `minCount` prunes the pair long tail BEFORE the marginal join;
    * marginals stay exact over the full stream.
    */
  def cooccurrencePmi(df: DataFrame, textCol: String, window: Int = 2,
                      minCount: Long = 5L): DataFrame = {
    require(window >= 1 && window <= 16, s"window must be in [1, 16]: $window")
    require(minCount >= 1L, s"minCount must be positive: $minCount")
    val prs = df.select(tokens(col(textCol)).as("_t"))
      .select(explode(expr(
        s"""flatten(transform(_t, (x, i) ->
           |  transform(slice(_t, i + 2, $window), y ->
           |    named_struct('a', x, 'b', y))))""".stripMargin)).as("pr"))
      .select(least(col("pr.a"), col("pr.b")).as("w1"),
        greatest(col("pr.a"), col("pr.b")).as("w2"))
    val cab = prs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val marg = prs
      .select(explode(array(col("w1"), col("w2"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = marg.agg(expr("sum(c) div 2").as("tp"))
    // melt the two pair slots into one marginal join, then pivot back:
    // joining marg twice (n_a, n_b) would re-evaluate its whole
    // corpus-tokenizing subplan per join
    val melted = cab
      .select(col("w1"), col("w2"), col("n_pair"),
        explode(array(
          struct(lit("a").as("side"), col("w1").as("tok")),
          struct(lit("b").as("side"), col("w2").as("tok")))).as("sl"))
      .select(col("w1"), col("w2"), col("n_pair"),
        col("sl.side").as("side"), col("sl.tok").as("tok"))
    melted
      .join(marg, Seq("tok"))
      .groupBy("w1", "w2", "n_pair")
      .agg(max(when(col("side") === "a", col("c"))).as("n_a"),
        max(when(col("side") === "b", col("c"))).as("n_b"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_a"), col("n_b"),
        round(log(
          (lit(4.0d) * col("tp").cast("double") * col("n_pair").cast("double")) /
            (col("n_a").cast("double") * col("n_b").cast("double"))), 6)
          .as("pmi"))
  }

  /** Zipf-law fit over the top-k token frequencies: OLS of ln(count)
    * on ln(rank) — natural text sits near slope −1, and a corpus whose
    * slope moved after a filter change lost its head (boilerplate
    * stripped) or its tail (dedup too aggressive). The corpus reduces
    * to token counts (one keyed aggregate), the top-k ride a
    * TakeOrderedAndProject (count desc, token asc tie-break), and the
    * regression folds over the k-row frame. Output: one row (k_used,
    * n_distinct, slope, intercept, r2); NULL fit below two points or
    * zero rank variance (k ≥ 2 distinct counts always vary in rank, so
    * only a near-empty corpus degenerates).
    */
  def zipfFit(df: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    require(k >= 2 && k <= 100000, s"k must be in [2, 100000], got $k")
    val tc = df
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val nDistinct = tc.agg(count(lit(1)).as("n_distinct"))
    val topk = tc.orderBy(col("cnt").desc, col("tok").asc).limit(k)
      .withColumn("rank",
        row_number().over(
          Window.orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
    val pts = topk.select(
      log(col("rank").cast("double")).as("_x"),
      log(col("cnt").cast("double")).as("_y"))
    val a = pts.agg(count(lit(1)).as("k_used"),
      sum("_x").as("_sx"), sum("_y").as("_sy"),
      sum(col("_x") * col("_y")).as("_sxy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_y") * col("_y")).as("_syy"))
    val nD = col("k_used").cast("double")
    val vx = nD * col("_sxx") - col("_sx") * col("_sx")
    val vy = nD * col("_syy") - col("_sy") * col("_sy")
    val cxy = nD * col("_sxy") - col("_sx") * col("_sy")
    a.crossJoin(broadcast(nDistinct))
      .select(col("k_used"), col("n_distinct"),
        when(col("k_used") >= 2L && vx > 0.0, cxy / vx).as("slope"),
        when(col("k_used") >= 2L && vx > 0.0,
          (col("_sy") - cxy / vx * col("_sx")) / nD).as("intercept"),
        when(col("k_used") >= 2L && vx > 0.0 && vy > 0.0,
          cxy / vx * (cxy / vy)).as("r2"))
  }

  /** Heaps'-law fit: vocabulary growth V(n) ≈ K·nᵝ over the corpus
    * read in doc-id order — the companion lexical law to [[zipfFit]]
    * (β ≈ 0.4–0.6 for natural text; a β that jumped after a pipeline
    * change means near-duplicate text was injected (slow growth) or
    * the tokenizer shattered (fast)). Scale shape: growth is sampled
    * at ≤ maxBlocks DOC-BLOCK boundaries, never per doc — per-block
    * token mass and NEW-vocabulary counts (each token charged to its
    * min doc id) aggregate in two token-stream passes sharing ONE
    * broadcast block grid computed from the full doc-id range (a
    * per-frame withBoundedBlocks would mis-align the two frames'
    * block widths), then the cumulative curve and the ln-ln OLS ride
    * the ≤ maxBlocks block frame. Output: one row (n_blocks,
    * n_tokens, n_vocab, beta, k, r2); NULL fit below two usable
    * blocks.
    */
  def heapsFit(df: DataFrame, idCol: String, textCol: String,
               maxBlocks: Long = 256L): DataFrame = {
    require(maxBlocks >= 2, s"maxBlocks must be >= 2, got $maxBlocks")
    // the checkedLong stance: a NULL doc id would silently form a NULL
    // block that sorts first in the cumulative window and skew the fit
    val base = df.select(
      Checked.long(col(idCol), "heapsFit", s"doc id in $idCol").as("_id"),
      col(textCol).as("_text"))
    val stats = base.agg(min(col("_id")).as("_lo"),
        max(col("_id")).as("_hi"))
      .select(col("_lo"),
        expr(s"(_hi - _lo + ${maxBlocks}L) div ${maxBlocks}L").as("_bw"))
    def blk(name: String): Column = expr(s"($name - _lo) div _bw")
    val toks = base.select(col("_id"),
      explode(tokens(col("_text"))).as("_tok"))
    val bt = toks.groupBy("_id").agg(count(lit(1)).as("_ntok"))
      .crossJoin(broadcast(stats))
      .groupBy(blk("_id").as("_blk")).agg(sum("_ntok").as("_nt"))
    val nv = toks.groupBy("_tok").agg(min("_id").as("_fd"))
      .crossJoin(broadcast(stats))
      .groupBy(blk("_fd").as("_blk")).agg(count(lit(1)).as("_nv"))
    val w = Window.orderBy("_blk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = bt.join(nv, Seq("_blk"), "left")
      .na.fill(0L, Seq("_nv"))
      .withColumn("_cn", sum("_nt").over(w))
      .withColumn("_cv", sum("_nv").over(w))
      .filter(col("_cn") > 0L && col("_cv") > 0L)
      .select(col("_cn"), col("_cv"),
        log(col("_cn").cast("double")).as("_x"),
        log(col("_cv").cast("double")).as("_y"))
    val a = pts.agg(count(lit(1)).as("n_blocks"),
      max("_cn").as("n_tokens"), max("_cv").as("n_vocab"),
      min("_cn").as("_minN"), min("_cv").as("_minV"),
      sum("_x").as("_sx"), sum("_y").as("_sy"),
      sum(col("_x") * col("_y")).as("_sxy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_y") * col("_y")).as("_syy"))
    val nD = col("n_blocks").cast("double")
    val vx = nD * col("_sxx") - col("_sx") * col("_sx")
    val vy = nD * col("_syy") - col("_sy") * col("_sy")
    val cxy = nD * col("_sxy") - col("_sx") * col("_sy")
    // degeneracy keyed on the EXACT integers (min = max), never the
    // derived float moments (the varianceShare r12 lesson): a
    // saturated vocabulary makes vy a ±1e-9-class rounding residue
    // whose SIGN differs between engines
    val xVaries = col("n_blocks") >= 2L && col("_minN") =!= col("n_tokens")
    val yVaries = col("_minV") =!= col("n_vocab")
    a.select(col("n_blocks"), col("n_tokens"), col("n_vocab"),
      when(xVaries, cxy / vx).as("beta"),
      when(xVaries, exp((col("_sy") - cxy / vx * col("_sx")) / nD))
        .as("k"),
      when(xVaries && yVaries, cxy / vx * (cxy / vy)).as("r2"))
  }

  /** Flesch reading ease + Flesch–Kincaid grade per document from
    * exact integer counts — the classic quality-filter signal a text
    * pipeline scores alongside [[qualityScore]]: words (whitespace
    * tokens), sentences (runs of terminal punctuation, floored at 1 so
    * an unterminated fragment still scores), and the standard
    * vowel-group syllable heuristic (runs of [aeiouy] per lowercased
    * token, floored at 1 — "rhythm" and bare numbers count one). Pure
    * projection, zero shuffles; the two formulas are the closed-form
    * double layer over three exact BIGINTs, mirrored term for term by
    * the oracle. Zero-word documents have no defined score (NULL).
    */
  def readability(df: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val out = df
      .withColumn("_toks", tokens(col(textCol)))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0)))
            .cast("long")).as("n_sentences"),
        aggregate(col("_toks"), lit(0L), (acc, t) =>
          acc + greatest(lit(1L),
            size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))
              .cast("long"))).as("n_syllables"))
    val (w, s, y) = (col("n_words").cast("double"),
      col("n_sentences").cast("double"), col("n_syllables").cast("double"))
    out
      .withColumn("flesch",
        when(col("n_words") > 0L,
          lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (y / w)))
      .withColumn("fk_grade",
        when(col("n_words") > 0L,
          lit(0.39) * (w / s) + lit(11.8) * (y / w) - lit(15.59)))
  }
}

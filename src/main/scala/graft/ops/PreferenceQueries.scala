package graft.ops

import graft.core.Tables
import graft.llm.{Conversations, Evals, Preference}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Preference-data (RLHF), eval-metric, and conversation-assembly
  * operators, each with its
  * DuckDB oracle. Candidate pools / match outcomes are synthesized
  * DETERMINISTICALLY from the driver's tables (documents → scored
  * candidates, events → pairwise matches), so both engines derive the
  * same inputs from the same parquet — no fixture files.
  *
  * Portability: integer scores/counts everywhere; the one iterative op
  * (Bradley–Terry) runs in integer micro fixed-point unrolled per
  * iteration in the oracle (the q_graph_pagerank convention); float
  * ratios are computed from integer aggregates in ONE closed-form
  * expression mirrored structurally on both sides, then round(6).
  */
object PreferenceQueries {

  private def tb(s: SparkSession, dir: String) = Tables(s, dir)

  /** Deterministic candidate pool: 4 candidates per prompt, score =
    * (doc_id·1000003) mod 997, response length = n_chars.
    */
  private def prefCands(s: SparkSession, dir: String): DataFrame =
    tb(s, dir).documents.select(
      expr("doc_id div 4").as("prompt_id"), col("doc_id").as("cand_id"),
      expr("(doc_id * 1000003) % 997").as("score"), col("n_chars").as("len"))

  private def prefPairs(s: SparkSession, dir: String): DataFrame =
    Preference.pairs(prefCands(s, dir), "prompt_id", "cand_id",
      "score", "len", minMargin = 100L)

  /** Oracle CTE mirror of [[prefCands]]+[[Preference.pairs]]: window
    * ranks encode the same tie rules the struct max/min encodes
    * (chosen: score DESC, cand ASC; rejected: score ASC, cand DESC).
    */
  private val prefPairsCte =
    """c AS (SELECT doc_id // 4 AS prompt_id, doc_id AS cand_id,
      |             (doc_id * 1000003) % 997 AS score, n_chars AS len
      |      FROM documents),
      |rk AS (SELECT *,
      |         row_number() OVER (PARTITION BY prompt_id ORDER BY score DESC, cand_id ASC) AS rc,
      |         row_number() OVER (PARTITION BY prompt_id ORDER BY score ASC, cand_id DESC) AS rr
      |       FROM c),
      |p AS (SELECT a.prompt_id, a.cand_id AS chosen_id, b.cand_id AS rejected_id,
      |             a.score - b.score AS margin, a.len AS chosen_len, b.len AS rejected_len
      |      FROM rk a JOIN rk b ON a.prompt_id = b.prompt_id AND a.rc = 1 AND b.rr = 1
      |      WHERE a.cand_id <> b.cand_id AND a.score - b.score >= 100)""".stripMargin

  /** Deterministic pairwise matches from events (shared by the BT and
    * win-rate-matrix queries): consecutive same-user events fight,
    * larger value wins, tie → the lexicographically smaller type.
    * Returns aggregated (w, l, n) outcomes.
    */
  private def matchOutcomes(s: SparkSession, dir: String): DataFrame = {
    val ev = tb(s, dir).eventsRaw
      .filter(col("value").isNotNull)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    ev.select(col("event_type"), col("value"),
        lag("event_type", 1).over(w).as("pt"),
        lag("value", 1).over(w).as("pv"))
      .filter(col("pt").isNotNull && col("pt") =!= col("event_type"))
      .select(
        when(col("value") > col("pv"), col("event_type"))
          .when(col("value") < col("pv"), col("pt"))
          .when(col("event_type") < col("pt"), col("event_type"))
          .otherwise(col("pt")).as("w"),
        when(col("value") > col("pv"), col("pt"))
          .when(col("value") < col("pv"), col("event_type"))
          .when(col("event_type") < col("pt"), col("pt"))
          .otherwise(col("event_type")).as("l"))
      .groupBy("w", "l").agg(count(lit(1)).as("n"))
  }

  /** The SQL mirror of [[matchOutcomes]] as CTEs ending in
    * `o(w, l, n)`.
    */
  private val matchOutcomesCte =
    """e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id, event_type, value
      |      FROM events WHERE value IS NOT NULL),
      |sq AS (SELECT event_type, value,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS pt,
      |         lag(value) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS pv
      |       FROM e),
      |m AS (SELECT CASE WHEN value > pv THEN event_type WHEN value < pv THEN pt
      |                  WHEN event_type < pt THEN event_type ELSE pt END AS w,
      |             CASE WHEN value > pv THEN pt WHEN value < pv THEN event_type
      |                  WHEN event_type < pt THEN pt ELSE event_type END AS l
      |      FROM sq WHERE pt IS NOT NULL AND pt <> event_type),
      |o AS (SELECT w, l, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY w, l)""".stripMargin

  /** One unrolled Bradley–Terry MM iteration (integer micro
    * fixed-point): d_k = per-item Σ n·10¹² // (s_i+s_j) over the
    * symmetrized games, s_k = W·10¹² // d (no-game items keep 1e6,
    * never-winners floor at 0). The ·10¹² products run in HUGEINT,
    * mirroring the engine's decimal(38,0) — a BIGINT multiply wraps in
    * Spark / errors here once a pair count passes ~9.2e6.
    */
  private def btIter(k: Int): String = {
    val prev = if (k == 1) "s0" else s"s${k - 1}"
    s"""d$k AS (SELECT g.id, sum((CAST(g.n AS HUGEINT) * 1000000000000) // (a.sm + b.sm)) AS dd
       |        FROM g JOIN $prev a ON a.id = g.id JOIN $prev b ON b.id = g.opp
       |        GROUP BY g.id),
       |s$k AS (SELECT i.id,
       |          CAST(CASE WHEN d.dd IS NULL OR d.dd = 0 THEN 1000000
       |               ELSE (CAST(coalesce(w.wn, 0) AS HUGEINT) * 1000000000000) // d.dd END AS BIGINT) AS sm
       |        FROM items i LEFT JOIN d$k d ON d.id = i.id
       |        LEFT JOIN wins w ON w.id = i.id)""".stripMargin
  }

  /** Per-bin reliability cells of `p(c, y)` — c in milli-confidence,
    * y the 0/1 label — and each bin's share of the ECE: the oracle tail
    * of calibrationBins and of its streaming fold.
    */
  private lazy val calibrationBinsTail: String =
    """g AS (SELECT least(c * 10 // 1000, 9) AS bin,
      |             CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(c) AS BIGINT) AS conf_sum_milli,
      |             CAST(sum(y) AS BIGINT) AS n_pos
      |      FROM p GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
      |SELECT CAST(bin AS BIGINT) AS bin, n, conf_sum_milli, n_pos,
      |  round(CAST(conf_sum_milli AS DOUBLE) / (n * 1000.0), 6) AS avg_conf,
      |  round(CAST(n_pos AS DOUBLE) / n, 6) AS accuracy,
      |  round(CAST(n AS DOUBLE) / total
      |        * abs(CAST(n_pos AS DOUBLE) / n
      |              - CAST(conf_sum_milli AS DOUBLE) / (n * 1000.0)), 6)
      |    AS ece_contrib
      |FROM g, t ORDER BY bin""".stripMargin

  /** The conversation oracles' sessionization: events `e` with their
    * micros and content length, the previous event's micros `l`, and
    * the 30-minute gap sessions `s(session_seq)`.
    */
  private lazy val conversationTurnsCtes: String =
    """e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
      |                  length(coalesce(props, '')) AS len FROM events),
      |l AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM e),
      |s AS (SELECT *, sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
      |      FROM l)""".stripMargin

  val all: Map[String, Q] = Map(

    // ---- chosen/rejected pair construction (Preference.pairs): one
    //      groupBy shuffle, struct max/min tie rules, margin gate ----
    "q_pref_pairs" -> Q(
      s"""WITH $prefPairsCte
         |SELECT prompt_id, chosen_id, rejected_id,
         |       CAST(margin AS BIGINT) AS margin, chosen_len, rejected_len
         |FROM p ORDER BY prompt_id""".stripMargin) { (s, dir) =>
      prefPairs(s, dir).orderBy("prompt_id")
    },

    // ---- annotator agreement (Preference.fleissKappa): 3 synthetic
    //      raters vote deterministically per pair; integer-exact item
    //      numerators so the kappa never depends on float sum order ----
    "q_pref_agreement" -> Q(
      s"""WITH $prefPairsCte,
         |v AS (SELECT prompt_id,
         |             CASE WHEN (chosen_id * (2*r+3) + rejected_id) % 5 < 3 THEN 1 ELSE 0 END AS vote
         |      FROM p CROSS JOIN (SELECT unnest([0, 1, 2]) AS r)),
         |g AS (SELECT prompt_id, CAST(sum(vote) AS BIGINT) AS n1,
         |             CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY prompt_id),
         |t AS (SELECT CAST(count(CASE WHEN nv = 3 THEN 1 END) AS BIGINT) AS n_items,
         |             CAST(count(CASE WHEN nv <> 3 THEN 1 END) AS BIGINT) AS n_invalid_items,
         |             CAST(sum(CASE WHEN nv = 3 THEN n1*n1 + (3-n1)*(3-n1) - 3 END) AS BIGINT) AS pn,
         |             CAST(sum(CASE WHEN nv = 3 THEN n1 END) AS BIGINT) AS s1 FROM g)
         |SELECT n_items, n_invalid_items,
         |  round(CAST(pn AS DOUBLE) / (n_items * 3 * 2), 6) AS p_bar,
         |  round((CAST(s1 AS DOUBLE)/(n_items*3)) * (CAST(s1 AS DOUBLE)/(n_items*3))
         |        + (1.0 - CAST(s1 AS DOUBLE)/(n_items*3)) * (1.0 - CAST(s1 AS DOUBLE)/(n_items*3)), 6) AS p_e,
         |  round((CAST(pn AS DOUBLE) / (n_items * 3 * 2)
         |         - ((CAST(s1 AS DOUBLE)/(n_items*3)) * (CAST(s1 AS DOUBLE)/(n_items*3))
         |            + (1.0 - CAST(s1 AS DOUBLE)/(n_items*3)) * (1.0 - CAST(s1 AS DOUBLE)/(n_items*3))))
         |        / (1.0 - ((CAST(s1 AS DOUBLE)/(n_items*3)) * (CAST(s1 AS DOUBLE)/(n_items*3))
         |            + (1.0 - CAST(s1 AS DOUBLE)/(n_items*3)) * (1.0 - CAST(s1 AS DOUBLE)/(n_items*3)))), 6) AS kappa
         |FROM t""".stripMargin) { (s, dir) =>
      val votes = prefPairs(s, dir)
        .select(col("prompt_id"), col("chosen_id"), col("rejected_id"),
          explode(array(lit(0), lit(1), lit(2))).as("r"))
        .select(col("prompt_id"),
          when(expr("(chosen_id * (2*r+3) + rejected_id) % 5") < 3, 1L)
            .otherwise(0L).as("vote"))
      Preference.fleissKappa(votes, "prompt_id", "vote", n = 3)
    },

    // ---- Krippendorff's alpha (Preference.krippendorffAlpha): the
    //      VARIABLE-panel agreement statistic fleissKappa's fixed-n
    //      contract excludes — panels of 2..4 raters per item
    //      (m = 2 + prompt_id % 3), per-item disagreement held in
    //      integer 2520ths so the sum never floats ----
    "q_pref_kripp_alpha" -> Q(
      s"""WITH $prefPairsCte,
         |v AS (SELECT prompt_id,
         |        unnest(range(0, 2 + prompt_id % 3)) AS r,
         |        chosen_id, rejected_id
         |      FROM p),
         |vv AS (SELECT prompt_id,
         |         CASE WHEN (chosen_id * (2*r+3) + rejected_id) % 5 < 3
         |              THEN 1 ELSE 0 END AS vote
         |       FROM v),
         |g AS (SELECT prompt_id, CAST(sum(vote) AS BIGINT) AS o,
         |             CAST(count(*) AS BIGINT) AS m FROM vv GROUP BY prompt_id),
         |t AS (SELECT
         |        CAST(count(CASE WHEN m >= 2 THEN 1 END) AS BIGINT) AS n_items,
         |        CAST(count(CASE WHEN m < 2 THEN 1 END) AS BIGINT) AS n_single_items,
         |        CAST(coalesce(sum(CASE WHEN m >= 2 THEN m END), 0) AS BIGINT) AS n_values,
         |        CAST(coalesce(sum(CASE WHEN m >= 2 THEN o END), 0) AS BIGINT) AS n_ones,
         |        CAST(sum(CASE WHEN m >= 2 THEN (2520 // (m-1)) * o * (m-o) END) AS BIGINT) AS dsum
         |      FROM g)
         |SELECT n_items, n_single_items, n_values, n_ones,
         |  CASE WHEN n_ones = 0 OR n_ones = n_values THEN NULL
         |       ELSE round(1.0 - CAST(n_values - 1 AS DOUBLE) * dsum
         |                  / (2520.0 * n_ones * (n_values - n_ones)), 6)
         |  END AS alpha
         |FROM t""".stripMargin) { (s, dir) =>
      val votes = prefPairs(s, dir)
        .select(col("prompt_id"), col("chosen_id"), col("rejected_id"),
          explode(sequence(lit(0L), lit(1L) + col("prompt_id") % 3)).as("r"))
        .select(col("prompt_id"),
          when(expr("(chosen_id * (2*r+3) + rejected_id) % 5") < 3, 1L)
            .otherwise(0L).as("vote"))
      Preference.krippendorffAlpha(votes, "prompt_id", "vote")
    },

    // ---- Bradley–Terry strengths (Preference.btStrengths): matches =
    //      consecutive same-user events, larger value wins (tie → the
    //      lexicographically smaller type); 3 MM iterations in integer
    //      micro fixed-point — bit-identical to the unrolled oracle ----
    "q_pref_bt_strength" -> Q(
      s"""WITH $matchOutcomesCte,
         |items AS (SELECT DISTINCT id FROM (SELECT w AS id FROM o UNION ALL SELECT l AS id FROM o)),
         |wins AS (SELECT w AS id, CAST(sum(n) AS BIGINT) AS wn FROM o GROUP BY w),
         |g AS (SELECT w AS id, l AS opp, n FROM o UNION ALL SELECT l AS id, w AS opp, n FROM o),
         |s0 AS (SELECT id, CAST(1000000 AS BIGINT) AS sm FROM items),
         |${btIter(1)},
         |${btIter(2)},
         |${btIter(3)}
         |SELECT s3.id AS item, s3.sm AS strength_micro,
         |       coalesce(w.wn, 0) AS wins
         |FROM s3 LEFT JOIN wins w ON w.id = s3.id ORDER BY item""".stripMargin) { (s, dir) =>
      Preference.btStrengths(matchOutcomes(s, dir), "w", "l", "n", iters = 3)
        .orderBy("item")
    },

    // ---- head-to-head win-rate matrix (Preference.winRateMatrix):
    //      each unordered item pair once, canonicalized (lo, hi) —
    //      the non-transitivity audit next to the fitted BT
    //      strengths; same match derivation as q_pref_bt_strength ----
    "q_pref_winrate_matrix" -> Q(
      s"""WITH $matchOutcomesCte
         |SELECT least(w, l) AS lo, greatest(w, l) AS hi,
         |  CAST(sum(CASE WHEN w <= l THEN n ELSE 0 END) AS BIGINT) AS wins_lo,
         |  CAST(sum(n) - sum(CASE WHEN w <= l THEN n ELSE 0 END) AS BIGINT) AS wins_hi,
         |  CAST(sum(n) AS BIGINT) AS n_games,
         |  round(CAST(sum(CASE WHEN w <= l THEN n ELSE 0 END) AS DOUBLE)
         |        / sum(n), 6) AS win_rate_lo
         |FROM o GROUP BY 1, 2 ORDER BY lo, hi""".stripMargin) { (s, dir) =>
      Preference.winRateMatrix(matchOutcomes(s, dir), "w", "l", "n")
        .orderBy("lo", "hi")
    },

    // ---- McNemar's paired test (Evals.mcnemar): two deterministic
    //      graders on the same events; only the discordant cells
    //      carry signal, continuity-corrected chi-square, NULL when
    //      no item discords ----
    "q_eval_mcnemar" -> Q(
      """WITH p AS (SELECT event_type,
        |             CASE WHEN (event_id * 7) % 10 < 6 THEN 1 ELSE 0 END AS a,
        |             CASE WHEN (event_id * 13) % 10 < 6 THEN 1 ELSE 0 END AS b
        |           FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |        CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10
        |      FROM p GROUP BY event_type)
        |SELECT event_type, n, n01, n10,
        |  CASE WHEN n01 + n10 = 0 THEN NULL
        |       ELSE round(greatest(abs(n01 - n10) - 1.0, 0.0)
        |                  * greatest(abs(n01 - n10) - 1.0, 0.0)
        |                  / (n01 + n10), 6) END AS mcnemar_chi2
        |FROM g ORDER BY event_type""".stripMargin) { (s, dir) =>
      val p = tb(s, dir).events.select(col("event_type"),
        when(expr("(event_id * 7) % 10") < 6, 1).otherwise(0).as("a"),
        when(expr("(event_id * 13) % 10") < 6, 1).otherwise(0).as("b"))
      Evals.mcnemar(p, "event_type", "a", "b").orderBy("event_type")
    },

    // ---- length-bias audit (Preference.lengthBias): longer-response
    //      win rate by length-gap bucket — the reward-hacking gate ----
    "q_pref_length_bias" -> Q(
      s"""WITH $prefPairsCte,
         |b AS (SELECT least(abs(chosen_len - rejected_len) // 50, 5) AS gap_bucket,
         |             CASE WHEN chosen_len > rejected_len THEN 1 ELSE 0 END AS lw
         |      FROM p WHERE chosen_len <> rejected_len)
         |SELECT gap_bucket, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(lw) AS BIGINT) AS longer_wins,
         |       round(CAST(sum(lw) AS DOUBLE) / count(*), 6) AS longer_win_rate
         |FROM b GROUP BY gap_bucket ORDER BY gap_bucket""".stripMargin) { (s, dir) =>
      Preference.lengthBias(prefPairs(s, dir), "chosen_len", "rejected_len",
          bucketWidth = 50L, maxBucket = 5L)
        .orderBy("gap_bucket")
    },

    // ---- ROUGE-2 with clipped counts (Evals.rougeN): even docs are
    //      references, their odd successors candidates; multiplicity
    //      kept (NOT the distinct-shingle Jaccard rule) ----
    "q_eval_rouge_bigram" -> Q(
      """WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
        |              FROM documents),
        |bg AS (SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS g
        |       FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks)),
        |cnt AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY doc_id, g),
        |tr AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY doc_id),
        |pr AS (SELECT a.doc_id // 2 AS pair_id, a.doc_id AS rid, b.doc_id AS cid
        |       FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |       WHERE a.doc_id % 2 = 0),
        |mt AS (SELECT p.pair_id, CAST(sum(least(rc.c, cc.c)) AS BIGINT) AS match_n
        |       FROM pr p JOIN cnt rc ON rc.doc_id = p.rid
        |       JOIN cnt cc ON cc.doc_id = p.cid AND cc.g = rc.g
        |       GROUP BY p.pair_id),
        |pre AS (SELECT p.pair_id,
        |          coalesce(m.match_n, 0) AS match_n,
        |          coalesce(ar.t, 0) AS ref_n, coalesce(br.t, 0) AS cand_n,
        |          CASE WHEN coalesce(br.t, 0) = 0 THEN 0.0
        |               ELSE CAST(coalesce(m.match_n, 0) AS DOUBLE) / br.t END AS pp,
        |          CASE WHEN coalesce(ar.t, 0) = 0 THEN 0.0
        |               ELSE CAST(coalesce(m.match_n, 0) AS DOUBLE) / ar.t END AS rr
        |        FROM pr p LEFT JOIN mt m ON m.pair_id = p.pair_id
        |        LEFT JOIN tr ar ON ar.doc_id = p.rid
        |        LEFT JOIN tr br ON br.doc_id = p.cid)
        |SELECT pair_id, match_n, ref_n, cand_n,
        |       round(pp, 6) AS rouge_p, round(rr, 6) AS rouge_r,
        |       round(CASE WHEN pp + rr = 0.0 THEN 0.0
        |                  ELSE 2.0 * pp * rr / (pp + rr) END, 6) AS rouge_f1
        |FROM pre ORDER BY pair_id""".stripMargin) { (s, dir) =>
      val d = tb(s, dir).documents.select(col("doc_id"), col("text"))
      val ref = d.filter(expr("doc_id % 2 = 0"))
        .select(expr("doc_id div 2").as("pair_id"), col("text").as("ref_text"))
      val cand = d.filter(expr("doc_id % 2 = 1"))
        .select(expr("doc_id div 2").as("pair_id"), col("text").as("cand_text"))
      Evals.rougeN(ref.join(cand, "pair_id"), "pair_id",
          "ref_text", "cand_text", n = 2)
        .withColumnRenamed("precision", "rouge_p")
        .withColumnRenamed("recall", "rouge_r")
        .withColumnRenamed("f1", "rouge_f1")
        .orderBy("pair_id")
    },

    // ---- conversation assembly (Conversations.assemble): gap
    //      sessions become conversations, events ordered turns; the
    //      rollup carries the alternation-violation count the
    //      instruction-data QA gate reads ----
    "q_conv_assemble" -> Q(
      s"""WITH $conversationTurnsCtes,
        |u AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq ORDER BY tus, event_id) AS turn_idx,
        |        lag(event_type) OVER (PARTITION BY user_id, session_seq ORDER BY tus, event_id) AS prev_type
        |      FROM s)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS conv_seq,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(CASE WHEN turn_idx % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_user_turns,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(sum(len) AS BIGINT) AS total_len,
        |  CAST(min(tus) AS BIGINT) AS start_us,
        |  CAST(max(tus) AS BIGINT) AS end_us,
        |  CAST(sum(CASE WHEN prev_type = event_type THEN 1 ELSE 0 END) AS BIGINT) AS repeat_violations
        |FROM u GROUP BY user_id, session_seq
        |ORDER BY user_id, conv_seq""".stripMargin) { (s, dir) =>
      val ev = tb(s, dir).events
        .withColumn("len", length(coalesce(col("props"), lit(""))))
      Conversations.assemble(ev, "user_id", "ts", "event_id",
          "event_type", "len")
        .orderBy("user_id", "conv_seq")
    },

    // ---- SFT loss-mask layout (Conversations.sftMaskLayout): per
    //      turn, offsets inside the conversation and whether its
    //      tokens train — completion-only loss with purchase/signup
    //      standing in as the completion types ----
    "q_conv_sft_mask" -> Q(
      s"""WITH $conversationTurnsCtes,
        |u AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq ORDER BY tus, event_id) AS turn_idx,
        |        coalesce(sum(len) OVER (PARTITION BY user_id, session_seq ORDER BY tus, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |      FROM s)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS conv_seq,
        |  CAST(turn_idx AS BIGINT) AS turn_idx, event_type AS turn_type,
        |  CAST(start_off AS BIGINT) AS start_off, CAST(len AS BIGINT) AS len,
        |  event_type IN ('purchase', 'signup') AS trainable
        |FROM u ORDER BY user_id, conv_seq, turn_idx""".stripMargin) { (s, dir) =>
      val ev = tb(s, dir).events
        .withColumn("len", length(coalesce(col("props"), lit(""))))
      Conversations.sftMaskLayout(ev, "user_id", "ts", "event_id",
          "event_type", "len", trainableTypes = Seq("purchase", "signup"))
        .orderBy("user_id", "conv_seq", "turn_idx")
    },

    // ---- context-budget packing (Conversations.contextPack): keep
    //      the longest recent-turn suffix under 500 chars — the chat
    //      template's truncation rule, one reused user-key shuffle ----
    "q_conv_context_pack" -> Q(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |                  length(coalesce(props, '')) AS len FROM events),
        |l AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM e),
        |s AS (SELECT *, sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
        |      FROM l),
        |u AS (SELECT *, sum(len) OVER (PARTITION BY user_id, session_seq
        |        ORDER BY tus DESC, event_id DESC ROWS UNBOUNDED PRECEDING) AS revcum
        |      FROM s)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS conv_seq,
        |  CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(sum(CASE WHEN revcum <= 500 THEN 1 ELSE 0 END) AS BIGINT) AS kept_turns,
        |  CAST(sum(CASE WHEN revcum <= 500 THEN len ELSE 0 END) AS BIGINT) AS kept_len,
        |  CAST(sum(len) AS BIGINT) AS total_len,
        |  CAST(count(*) - sum(CASE WHEN revcum <= 500 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_turns
        |FROM u GROUP BY user_id, session_seq
        |ORDER BY user_id, conv_seq""".stripMargin) { (s, dir) =>
      val ev = tb(s, dir).events
        .withColumn("len", length(coalesce(col("props"), lit(""))).cast("long"))
      Conversations.contextPack(ev, "user_id", "ts", "event_id",
          "len", budget = 500L)
        .orderBy("user_id", "conv_seq")
    },

    // ---- Wilson-interval pass rates (Evals.wilsonPassRate): per-type
    //      binary outcomes; interval closed-form from the two integer
    //      aggregates, mirrored term for term ----
    "q_eval_pass_wilson" -> Q(
      """WITH p AS (SELECT event_type,
        |                  CASE WHEN (event_id * 7) % 10 < 6 THEN 1 ELSE 0 END AS pass
        |           FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(pass) AS BIGINT) AS passes FROM p GROUP BY event_type),
        |d AS (SELECT event_type, n, passes, CAST(n AS DOUBLE) AS nd,
        |             CAST(passes AS DOUBLE) / CAST(n AS DOUBLE) AS pp FROM g)
        |SELECT event_type, n, passes,
        |  round(pp, 6) AS pass_rate,
        |  round((pp + 3.8416/(2.0*nd)) / (1.0 + 3.8416/nd)
        |        - (1.96 * sqrt(pp*(1.0-pp)/nd + 3.8416/(4.0*nd*nd))) / (1.0 + 3.8416/nd), 6) AS wilson_lo,
        |  round((pp + 3.8416/(2.0*nd)) / (1.0 + 3.8416/nd)
        |        + (1.96 * sqrt(pp*(1.0-pp)/nd + 3.8416/(4.0*nd*nd))) / (1.0 + 3.8416/nd), 6) AS wilson_hi
        |FROM d ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = tb(s, dir).events.select(col("event_type"),
        when(expr("(event_id * 7) % 10") < 6, 1L).otherwise(0L).as("pass"))
      Evals.wilsonPassRate(ev, "event_type", "pass").orderBy("event_type")
    },

    // ---- reliability diagram + ECE (Evals.calibrationBins): integer
    //      milli-confidences binned 10-wide; the synthetic label fires
    //      with probability ≈ conf (a roughly-calibrated classifier),
    //      so per-bin |acc − conf| gaps stay small but non-zero; the
    //      ece_contrib column sums to the headline ECE ----
    "q_eval_calibration" -> Q(
      s"""WITH p AS (SELECT (event_id * 37) % 1000 AS c,
        |             CASE WHEN (event_id * 911) % 1000 < (event_id * 37) % 1000
        |                  THEN 1 ELSE 0 END AS y
        |           FROM events),
        |$calibrationBinsTail""".stripMargin) { (s, dir) =>
      val scored = tb(s, dir).events.select(
        expr("(event_id * 37) % 1000").as("c"),
        when(expr("(event_id * 911) % 1000") < expr("(event_id * 37) % 1000"),
          1L).otherwise(0L).as("y"))
      Evals.calibrationBins(scored, "c", "y", nBins = 10).orderBy("bin")
    },

    // ---- the STREAMING face of calibration (EvalStream): the per-bin
    //      integer cells fold through a 3-way batch split with the
    //      ReplayGuard swap protocol and must STILL equal the one-shot
    //      `calibrationBinsTail` replay — the cells are a commutative
    //      monoid, so micro-batching introduces zero approximation.
    //      Micro-batch wiring is EvalStreamSpec's job. ----
    "q_stream_calibration" -> Q(
      s"""WITH p AS (SELECT event_id, (event_id * 37) % 1000 AS c,
        |             CASE WHEN (event_id * 911) % 1000 < (event_id * 37) % 1000
        |                  THEN 1 ELSE 0 END AS y
        |           FROM events),
        |$calibrationBinsTail""".stripMargin) { (s, dir) =>
      val tmp = Scratch.dir("graft_evalstream_")
      val statePath = s"${tmp.getPath}/calib"
      val scored = tb(s, dir).events.select(
        col("event_id"),
        expr("(event_id * 37) % 1000").as("c"),
        when(expr("(event_id * 911) % 1000") < expr("(event_id * 37) % 1000"),
          1L).otherwise(0L).as("y"))
      (0 to 2).foreach { i =>
        graft.streaming.EvalStream.applyBatch(
          scored.filter(col("event_id") % 3 === i), "c", "y", statePath)
      }
      graft.streaming.EvalStream.readBins(s, statePath).orderBy("bin")
    }
  )
}

package graft.ops

import graft.core.Tables
import graft.llm.{RankStats, Survival}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distribution-comparison statistics ([[graft.llm.RankStats]] + the
  * [[graft.streaming.DriftStream]] binned-KS face), each with its
  * DuckDB oracle. The engine computes ranks/ECDFs through the
  * two-level block scan (no per-row global sort); the oracle uses plain
  * window functions — different plans, identical exact-integer
  * results, which is the point: every statistic is integer algebra
  * until ONE closed-form double expression mirrored term for term
  * (the q_eval_calibration convention).
  *
  * Quantization happens in the query (floor to integer units) so both
  * engines agree on tie semantics — the RankStats long-value contract.
  */
object StatsQueries {

  private def tb(s: SparkSession, dir: String) = Tables(s, dir)

  /** The mirrored DuckDB prelude for the two-sample ops: per-distinct-
    * value group counts with exclusive prefix sums, over `src` rows
    * (g, v). Group a = lexicographic min label.
    */
  private def twoSampleCte(src: String): String =
    s"""r AS ($src),
       |h AS (SELECT min(g) AS group_a, max(g) AS group_b,
       |             CAST(arg_min(cnt, g) AS BIGINT) AS n_a,
       |             CAST(arg_max(cnt, g) AS BIGINT) AS n_b
       |      FROM (SELECT g, count(*) AS cnt FROM r GROUP BY g)),
       |vc AS (SELECT v,
       |         CAST(sum(CASE WHEN g = (SELECT group_a FROM h) THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |         CAST(sum(CASE WHEN g = (SELECT group_b FROM h) THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |       FROM r GROUP BY v),
       |p AS (SELECT v, na, nb,
       |        CAST(coalesce(sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pa,
       |        CAST(coalesce(sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pb
       |      FROM vc)""".stripMargin

  /** Per-slice token cells `st(s, t, c)` over `documents`, the slice
    * being column `slice` — the state InfoStats and InfoStream read.
    */
  private def tokenCellCtes(slice: String): String =
    s"""WITH tk AS (SELECT $slice AS s,
       |              unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |                                 x -> x <> '')) AS t
       |            FROM documents),
       |st AS (SELECT s, t, count(*) AS c FROM tk GROUP BY s, t)""".stripMargin

  /** Entropy / TTR / unbiased Simpson per `slice` (tokenDiversityBySlice
    * and its streaming read).
    */
  private def tokenDiversityOracle(slice: String): String =
    s"""${tokenCellCtes(slice)},
       |a AS (SELECT s, CAST(sum(c) AS BIGINT) AS n_tokens,
       |             CAST(count(*) AS BIGINT) AS n_types,
       |             sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS slc,
       |             CAST(sum(c * (c - 1)) AS DOUBLE) AS rep2
       |      FROM st GROUP BY s)
       |SELECT s AS slice, n_tokens, n_types,
       |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
       |  round(ln(CAST(n_tokens AS DOUBLE)) - slc / CAST(n_tokens AS DOUBLE), 6) + 0.0 AS entropy,
       |  CASE WHEN n_tokens > 1
       |       THEN round(rep2 / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0)), 9)
       |  END AS simpson
       |FROM a ORDER BY slice""".stripMargin

  /** Per-source token JSD against the rest of the corpus — the one-shot
    * oracle shared by q_stat_token_jsd and q_stream_token_jsd, whose
    * cell fold must replay it bit-identically.
    */
  private def tokenJsdOracle: String =
    s"""${tokenCellCtes("source")},
       |g AS (SELECT t, CAST(sum(c) AS BIGINT) AS gc FROM st GROUP BY t),
       |ns AS (SELECT s, CAST(sum(c) AS BIGINT) AS n_s FROM st GROUP BY s),
       |tot AS (SELECT CAST(sum(gc) AS BIGINT) AS tt FROM g),
       |f AS (SELECT st.s, ns.n_s, tot.tt - ns.n_s AS n_rest,
       |             g.gc - st.c AS qc,
       |             CAST(st.c AS DOUBLE) / CAST(ns.n_s AS DOUBLE) AS p,
       |             CASE WHEN tot.tt - ns.n_s > 0
       |                  THEN CAST(g.gc - st.c AS DOUBLE) / CAST(tot.tt - ns.n_s AS DOUBLE)
       |                  ELSE 0.0 END AS q
       |      FROM st JOIN g USING (t) JOIN ns USING (s) CROSS JOIN tot),
       |a AS (SELECT s, n_s, n_rest,
       |             sum(p * ln(2.0 * p / (p + q))
       |                 + CASE WHEN qc > 0 THEN q * ln(2.0 * q / (p + q))
       |                        ELSE 0.0 END) AS sf,
       |             CAST(sum(qc) AS BIGINT) AS qseen
       |      FROM f GROUP BY s, n_s, n_rest)
       |SELECT s AS slice, n_s, n_rest,
       |  CASE WHEN n_rest > 0
       |       THEN round((sf + ln(2.0) * (1.0 - CAST(qseen AS DOUBLE)
       |                                         / CAST(n_rest AS DOUBLE))) / 2.0, 6) + 0.0
       |  END AS jsd
       |FROM a ORDER BY slice""".stripMargin

  /** Per-user pre/post sums of ⌊value·1000⌋ around 2024-01-08 (`x`,
    * `y`) with the user-parity arm — the panel of the CUPED and
    * difference-in-differences faces.
    */
  private def prePostArms(s: SparkSession, dir: String): DataFrame =
    tb(s, dir).events.filter(col("value").isNotNull)
      .select(col("user_id"),
        floor(col("value") * lit(1000.0d)).cast("long").as("vm"),
        (col("ts") < lit("2024-01-08").cast("timestamp")).as("pre"))
      .groupBy("user_id")
      .agg(coalesce(sum(when(col("pre"), col("vm"))), lit(0L)).as("x"),
        coalesce(sum(when(!col("pre"), col("vm"))), lit(0L)).as("y"))
      .withColumn("arm",
        when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
          .otherwise("arm_b"))

  /** The documents' per-source token cells, folded by InfoStream in
    * three doc_id % 3 batches into a fresh scratch state; its path.
    */
  private def tokenCellState(s: SparkSession, dir: String,
                             prefix: String): String = {
    val statePath = s"${Scratch.dir(prefix).getPath}/token_cells"
    val docs = tb(s, dir).documents.select("doc_id", "source", "text")
    (0 to 2).foreach { i =>
      graft.streaming.InfoStream.applyBatch(
        docs.filter(col("doc_id") % 3 === i), "source", "text",
        statePath)
    }
    statePath
  }

  val all: Map[String, Q] = Map(

    // ---- Mann–Whitney U (RankStats.mannWhitney): are English docs
    //      longer than German? Rank-sum over n_chars, tie-averaged in
    //      2× integer units; z from the tie-corrected normal
    //      approximation, mirrored term for term ----
    "q_stat_mann_whitney" -> Q(
      s"""WITH ${twoSampleCte(
           "SELECT lang AS g, n_chars AS v FROM documents WHERE lang IN ('en', 'de')")},
        |a AS (SELECT CAST(sum(na * (2*(pa+pb) + na + nb + 1)) AS BIGINT) AS r_a2,
        |             CAST(sum((na+nb)*(na+nb)*(na+nb) - (na+nb)) AS DOUBLE) AS tie_term
        |      FROM p)
        |SELECT h.group_a, h.group_b, h.n_a, h.n_b, a.r_a2,
        |  CAST(a.r_a2 - h.n_a*(h.n_a+1) AS BIGINT) AS u_a2,
        |  CAST(2*h.n_a*h.n_b - (a.r_a2 - h.n_a*(h.n_a+1)) AS BIGINT) AS u_b2,
        |  a.tie_term,
        |  round(CASE WHEN CAST(h.n_a AS DOUBLE) * CAST(h.n_b AS DOUBLE) / 12.0
        |                  * ((CAST(h.n_a AS DOUBLE) + CAST(h.n_b AS DOUBLE) + 1.0)
        |                     - a.tie_term / ((CAST(h.n_a AS DOUBLE) + CAST(h.n_b AS DOUBLE))
        |                                     * (CAST(h.n_a AS DOUBLE) + CAST(h.n_b AS DOUBLE) - 1.0))) > 0.0
        |        THEN (CAST(a.r_a2 - h.n_a*(h.n_a+1) AS DOUBLE) / 2.0
        |              - CAST(h.n_a AS DOUBLE) * CAST(h.n_b AS DOUBLE) / 2.0)
        |             / sqrt(CAST(h.n_a AS DOUBLE) * CAST(h.n_b AS DOUBLE) / 12.0
        |                    * ((CAST(h.n_a AS DOUBLE) + CAST(h.n_b AS DOUBLE) + 1.0)
        |                       - a.tie_term / ((CAST(h.n_a AS DOUBLE) + CAST(h.n_b AS DOUBLE))
        |                                       * (CAST(h.n_a AS DOUBLE) + CAST(h.n_b AS DOUBLE) - 1.0))))
        |        ELSE NULL END, 6) AS z
        |FROM h, a""".stripMargin) { (s, dir) =>
      RankStats.mannWhitney(
        tb(s, dir).documents.filter(col("lang").isin("en", "de")),
        "n_chars", "lang")
    },

    // ---- two-sample KS (RankStats.ksTest): did purchase-event values
    //      drift from view-event values? Max ECDF deviation in
    //      n_a·n_b integer units; quantized to centi-units in the
    //      query so tie semantics are explicit ----
    "q_stat_ks_test" -> Q(
      s"""WITH ${twoSampleCte(
           "SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS v " +
             "FROM events WHERE event_type IN ('purchase', 'view')")},
        |dev AS (SELECT v, abs((pa+na) * (SELECT n_b FROM h)
        |                      - (pb+nb) * (SELECT n_a FROM h)) AS dv FROM p),
        |mx AS (SELECT CAST(max(dv) AS BIGINT) AS d_num FROM dev)
        |SELECT h.group_a, h.group_b, h.n_a, h.n_b, mx.d_num,
        |  CAST((SELECT min(v) FROM dev WHERE dv = (SELECT d_num FROM mx)) AS BIGINT) AS d_at,
        |  round(CAST(mx.d_num AS DOUBLE)
        |        / (CAST(h.n_a AS DOUBLE) * CAST(h.n_b AS DOUBLE)), 6) AS d
        |FROM h, mx""".stripMargin) { (s, dir) =>
      RankStats.ksTest(
        tb(s, dir).events
          .filter(col("event_type").isin("purchase", "view"))
          .select(col("event_type"), floor(col("value") * 100).as("v")),
        "v", "event_type")
    },

    // ---- tie-corrected Spearman (RankStats.spearman): does line-item
    //      price rise monotonically with quantity? Heavy ties in
    //      quantity exercise the correction terms; Σd² exact in 4×
    //      integer decimal on the engine, HUGEINT in the oracle — the
    //      same integer, so the same double ----
    "q_stat_spearman" -> Q(
      """WITH r AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
        |                  CAST(floor(l_extendedprice) AS BIGINT) AS y
        |           FROM lineitem),
        |rk AS (SELECT
        |    2*CAST(rank() OVER (ORDER BY x) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY x) AS BIGINT) - 1 AS rx,
        |    2*CAST(rank() OVER (ORDER BY y) AS BIGINT)
        |      + CAST(count(*) OVER (PARTITION BY y) AS BIGINT) - 1 AS ry
        |  FROM r),
        |txc AS (SELECT CAST(sum(c*c*c - c) AS DOUBLE) AS tx
        |        FROM (SELECT count(*) AS c FROM r GROUP BY x)),
        |tyc AS (SELECT CAST(sum(c*c*c - c) AS DOUBLE) AS ty
        |        FROM (SELECT count(*) AS c FROM r GROUP BY y)),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum((rx-ry)*(rx-ry)) AS DOUBLE) AS sum_d2_4 FROM rk)
        |SELECT s.n, s.sum_d2_4, txc.tx, tyc.ty,
        |  round(CASE WHEN (CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE) - CAST(s.n AS DOUBLE) - txc.tx)
        |                  * (CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE) - CAST(s.n AS DOUBLE) - tyc.ty) > 0.0
        |        THEN (CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE) - CAST(s.n AS DOUBLE)
        |              - 1.5 * s.sum_d2_4 - (txc.tx + tyc.ty) / 2.0)
        |             / sqrt((CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE) - CAST(s.n AS DOUBLE) - txc.tx)
        |                    * (CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE)*CAST(s.n AS DOUBLE) - CAST(s.n AS DOUBLE) - tyc.ty))
        |        ELSE NULL END, 6) AS rho
        |FROM s, txc, tyc""".stripMargin) { (s, dir) =>
      RankStats.spearman(
        tb(s, dir).lineitem.select(floor(col("l_quantity")).as("x"),
          floor(col("l_extendedprice")).as("y")),
        "x", "y")
    },

    // ---- chi-square contingency cells (RankStats.chi2Cells): are
    //      source and language independent? Full margin grid — a
    //      zero-observed cell still carries its expectation; exact
    //      integer deviation algebra, per-cell contributions (cross-
    //      cell double sums are order-dependent, so the statistic is
    //      the consumer's one fold) ----
    "q_stat_chi2_cells" -> Q(
      """WITH r AS (SELECT source AS a, lang AS b FROM documents),
        |ra AS (SELECT a, CAST(count(*) AS BIGINT) AS r_tot FROM r GROUP BY a),
        |cb AS (SELECT b, CAST(count(*) AS BIGINT) AS c_tot FROM r GROUP BY b),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM r GROUP BY a, b),
        |g AS (SELECT ra.a, cb.b, CAST(coalesce(cells.o, 0) AS BIGINT) AS o,
        |             ra.r_tot, cb.c_tot, nn.n
        |      FROM ra CROSS JOIN cb CROSS JOIN nn
        |      LEFT JOIN cells ON ra.a = cells.a AND cb.b = cells.b)
        |SELECT a, b, o, r_tot, c_tot,
        |  round(CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) / CAST(n AS DOUBLE), 6) AS expected,
        |  round(CAST((o*n - r_tot*c_tot) * (o*n - r_tot*c_tot) AS DOUBLE)
        |        / CAST(n * r_tot * c_tot AS DOUBLE), 9) AS contrib
        |FROM g ORDER BY a, b""".stripMargin) { (s, dir) =>
      RankStats.chi2Cells(tb(s, dir).documents, "source", "lang")
        .orderBy("a", "b")
    },

    // ---- per-slice Mann–Whitney (RankStats.mannWhitneyPerSlice):
    //      every language's length distribution vs the rest of the
    //      corpus, from ONE global rank pass — k slices, one value
    //      shuffle; the shared cubic tie term is a property of the
    //      combined distribution ----
    "q_stat_mw_slices" -> Q(
      """WITH r AS (SELECT lang AS s, n_chars AS v FROM documents),
        |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS nv FROM r GROUP BY v),
        |rk AS (SELECT v, nv,
        |         2*CAST(coalesce(sum(nv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |           + nv + 1 AS rank2 FROM vc),
        |g AS (SELECT CAST(sum(nv) AS BIGINT) AS tot,
        |             CAST(sum(nv*nv*nv - nv) AS DOUBLE) AS tie_term FROM vc),
        |sv AS (SELECT s, v, CAST(count(*) AS BIGINT) AS nsv FROM r GROUP BY s, v),
        |ps AS (SELECT s, CAST(sum(nsv) AS BIGINT) AS n_s,
        |              CAST(sum(nsv * rk.rank2) AS BIGINT) AS r_s2
        |       FROM sv JOIN rk ON sv.v = rk.v GROUP BY s),
        |f AS (SELECT ps.s, ps.n_s, CAST(g.tot - ps.n_s AS BIGINT) AS n_rest,
        |             ps.r_s2, CAST(ps.r_s2 - ps.n_s*(ps.n_s+1) AS BIGINT) AS u_s2,
        |             g.tie_term
        |      FROM ps, g)
        |SELECT s AS slice, n_s, n_rest, r_s2, u_s2, tie_term,
        |  round(CASE WHEN CAST(n_s AS DOUBLE) * CAST(n_rest AS DOUBLE) / 12.0
        |                  * ((CAST(n_s AS DOUBLE) + CAST(n_rest AS DOUBLE) + 1.0)
        |                     - tie_term / ((CAST(n_s AS DOUBLE) + CAST(n_rest AS DOUBLE))
        |                                   * (CAST(n_s AS DOUBLE) + CAST(n_rest AS DOUBLE) - 1.0))) > 0.0
        |        THEN (CAST(u_s2 AS DOUBLE) / 2.0
        |              - CAST(n_s AS DOUBLE) * CAST(n_rest AS DOUBLE) / 2.0)
        |             / sqrt(CAST(n_s AS DOUBLE) * CAST(n_rest AS DOUBLE) / 12.0
        |                    * ((CAST(n_s AS DOUBLE) + CAST(n_rest AS DOUBLE) + 1.0)
        |                       - tie_term / ((CAST(n_s AS DOUBLE) + CAST(n_rest AS DOUBLE))
        |                                     * (CAST(n_s AS DOUBLE) + CAST(n_rest AS DOUBLE) - 1.0))))
        |        ELSE NULL END, 6) AS z
        |FROM f ORDER BY slice""".stripMargin) { (s, dir) =>
      RankStats.mannWhitneyPerSlice(tb(s, dir).documents, "n_chars", "lang")
        .orderBy("slice")
    },

    // ---- per-slice KS (RankStats.ksPerSlice): which event type's
    //      value distribution sits furthest from the rest? Sup taken
    //      at AND just before each slice step (the complement keeps
    //      stepping in between) — exact, |slice-value|-sized ----
    "q_stat_ks_slices" -> Q(
      """WITH r AS (SELECT event_type AS s, CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS ng FROM r GROUP BY v),
        |gp AS (SELECT v, ng,
        |         CAST(coalesce(sum(ng) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pg
        |       FROM vc),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM r),
        |sv AS (SELECT s, v, CAST(count(*) AS BIGINT) AS nsv FROM r GROUP BY s, v),
        |sp AS (SELECT s, v, nsv,
        |         CAST(coalesce(sum(nsv) OVER (PARTITION BY s ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ps
        |       FROM sv),
        |ns AS (SELECT s, CAST(sum(nsv) AS BIGINT) AS n_s FROM sv GROUP BY s),
        |dv AS (SELECT sp.s, ns.n_s, CAST(t.tot - ns.n_s AS BIGINT) AS n_rest,
        |         greatest(
        |           abs((sp.ps + sp.nsv) * (t.tot - ns.n_s)
        |               - (gp.pg + gp.ng - sp.ps - sp.nsv) * ns.n_s),
        |           abs(sp.ps * (t.tot - ns.n_s) - (gp.pg - sp.ps) * ns.n_s)) AS dev
        |       FROM sp JOIN gp ON sp.v = gp.v JOIN ns ON sp.s = ns.s, t)
        |SELECT s AS slice, n_s, n_rest, CAST(max(dev) AS BIGINT) AS d_num,
        |  round(CAST(max(dev) AS DOUBLE)
        |        / (CAST(n_s AS DOUBLE) * CAST(n_rest AS DOUBLE)), 6) AS d
        |FROM dv GROUP BY s, n_s, n_rest ORDER BY slice""".stripMargin) { (s, dir) =>
      RankStats.ksPerSlice(
        tb(s, dir).events
          .select(col("event_type"), floor(col("value") * 100).as("v")),
        "v", "event_type")
        .orderBy("slice")
    },

    // ---- Cramér–von Mises (RankStats.cramerVonMises): the L² ECDF
    //      statistic over the same two samples — broad mid-shift
    //      sensitivity next to KS's single worst point ----
    "q_stat_cvm" -> Q(
      s"""WITH ${twoSampleCte(
           "SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS v " +
             "FROM events WHERE event_type IN ('purchase', 'view')")},
        |a AS (SELECT CAST(sum(
        |        ((pa+na) * (SELECT n_b FROM h) - (pb+nb) * (SELECT n_a FROM h))
        |        * ((pa+na) * (SELECT n_b FROM h) - (pb+nb) * (SELECT n_a FROM h))
        |        * (na+nb)) AS DOUBLE) AS t_num
        |      FROM p)
        |SELECT h.group_a, h.group_b, h.n_a, h.n_b, a.t_num,
        |  round(a.t_num / (CAST(h.n_a AS DOUBLE) * CAST(h.n_b AS DOUBLE)
        |                   * CAST(h.n_a + h.n_b AS DOUBLE)
        |                   * CAST(h.n_a + h.n_b AS DOUBLE)), 6) AS t
        |FROM h, a""".stripMargin) { (s, dir) =>
      RankStats.cramerVonMises(
        tb(s, dir).events
          .filter(col("event_type").isin("purchase", "view"))
          .select(col("event_type"), floor(col("value") * 100).as("v")),
        "v", "event_type")
    },

    // ---- Wasserstein-1 (RankStats.wasserstein1): HOW FAR did the
    //      purchase-value distribution sit from view values, in value
    //      units — Σ |ECDF dev| · segment width, decimal-exact; the
    //      magnitude complement to KS's worst-point ----
    "q_stat_wasserstein" -> Q(
      s"""WITH ${twoSampleCte(
           "SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS v " +
             "FROM events WHERE event_type IN ('purchase', 'view')")},
        |seg AS (SELECT v, pa+na AS ca, pb+nb AS cb,
        |               lead(v) OVER (ORDER BY v) AS nv FROM p),
        |a AS (SELECT CAST(sum(abs(ca * (SELECT n_b FROM h)
        |                           - cb * (SELECT n_a FROM h)) * (nv - v)) AS DOUBLE) AS w1_num
        |      FROM seg WHERE nv IS NOT NULL)
        |SELECT h.group_a, h.group_b, h.n_a, h.n_b, a.w1_num,
        |  round(a.w1_num / (CAST(h.n_a AS DOUBLE) * CAST(h.n_b AS DOUBLE)), 6) AS w1
        |FROM h, a""".stripMargin) { (s, dir) =>
      RankStats.wasserstein1(
        tb(s, dir).events
          .filter(col("event_type").isin("purchase", "view"))
          .select(col("event_type"), floor(col("value") * 100).as("v")),
        "v", "event_type")
    },

    // ---- exact global quantiles (RankStats.exactQuantiles): deciles/
    //      tails of line-item price with NO global sort and NO
    //      approximation — type-1 lower quantile, smallest value whose
    //      cumulative count reaches ceil(q·n/1000) ----
    "q_stat_exact_quantiles" -> Q(
      """WITH r AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v FROM lineitem),
        |vc AS (SELECT v, count(*) AS c FROM r GROUP BY v),
        |p AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM vc),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r),
        |q AS (SELECT CAST(unnest([0, 250, 500, 750, 900, 990, 1000]) AS BIGINT) AS q_milli),
        |tr AS (SELECT q_milli,
        |              CAST(greatest((q_milli * t.n + 999) // 1000, 1) AS BIGINT) AS target_rank
        |       FROM q, t)
        |SELECT tr.q_milli, tr.target_rank, CAST(min(p.v) AS BIGINT) AS value
        |FROM tr JOIN p ON p.cum >= tr.target_rank
        |GROUP BY tr.q_milli, tr.target_rank
        |ORDER BY tr.q_milli""".stripMargin) { (s, dir) =>
      RankStats.exactQuantiles(
        tb(s, dir).lineitem.select(floor(col("l_extendedprice")).as("v")),
        "v", Seq(0L, 250L, 500L, 750L, 900L, 990L, 1000L))
    },

    // ---- sliced-Wasserstein embedding drift (Ann.intProjections +
    //      RankStats.wassersteinByKey): distribution change in vector
    //      space surfaces in its 1-d hyperplane shadows (Cramér–Wold);
    //      components quantize to milli BEFORE the signed sum, so the
    //      projection is commutative integer addition — bit-stable
    //      across engines, unlike a float dot product ----
    "q_emb_sliced_w1" -> Q(
      """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |                  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |signs AS (SELECT d.j, s.i,
        |            CASE WHEN (strpos('0123456789abcdef',
        |                              substr(md5(CAST(d.j AS VARCHAR) || '_' || CAST(s.i AS VARCHAR)), 1, 1)) - 1) % 2 = 0
        |                 THEN 1 ELSE -1 END AS sign
        |          FROM generate_series(0, 3) AS d(j)
        |          CROSS JOIN generate_series(1, 64) AS s(i)),
        |proj AS (SELECT e.vec_id, signs.j,
        |                CAST(sum(CAST(floor(e.v * 1000) AS BIGINT) * signs.sign) AS BIGINT) AS pv
        |         FROM e JOIN signs ON e.i = signs.i GROUP BY e.vec_id, signs.j),
        |r AS (SELECT CAST(j AS VARCHAR) AS k, pv AS v,
        |             CASE WHEN vec_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g
        |      FROM proj),
        |kv AS (SELECT k, v,
        |         CAST(sum(CASE WHEN g = 'even' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(sum(CASE WHEN g = 'odd' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |       FROM r GROUP BY k, v),
        |kt AS (SELECT k, CAST(sum(na) AS BIGINT) AS n_a,
        |              CAST(sum(nb) AS BIGINT) AS n_b FROM kv GROUP BY k),
        |p AS (SELECT k, v, na, nb,
        |        CAST(coalesce(sum(na) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pa,
        |        CAST(coalesce(sum(nb) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pb,
        |        lead(v) OVER (PARTITION BY k ORDER BY v) AS nv
        |      FROM kv),
        |a AS (SELECT p.k, kt.n_a, kt.n_b,
        |        CAST(sum(abs((pa+na) * kt.n_b - (pb+nb) * kt.n_a) * (nv - v)) AS DOUBLE) AS w1_num
        |      FROM p JOIN kt ON p.k = kt.k WHERE nv IS NOT NULL
        |      GROUP BY p.k, kt.n_a, kt.n_b)
        |SELECT k AS key, 'even' AS group_a, 'odd' AS group_b, n_a, n_b, w1_num,
        |  round(w1_num / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS w1
        |FROM a ORDER BY key""".stripMargin) { (s, dir) =>
      val proj = graft.llm.Ann.intProjections(
        tb(s, dir).embeddings, "vec_id", "embedding", dim = 64, dirs = 4)
        .withColumn("grp",
          when(col("vec_id") % 2 === 0, "even").otherwise("odd"))
      RankStats.wassersteinByKey(proj, "j", "proj", "grp").orderBy("key")
    },

    // ---- per-group exact quantiles (RankStats.groupedQuantiles):
    //      min/median/p90/max document length per language, exact,
    //      through the slice-keyed two-level scan ----
    "q_stat_group_quantiles" -> Q(
      """WITH r AS (SELECT lang AS g, n_chars AS v FROM documents),
        |gv AS (SELECT g, v, count(*) AS c FROM r GROUP BY g, v),
        |p AS (SELECT g, v, CAST(sum(c) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM gv),
        |t AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY g),
        |q AS (SELECT CAST(unnest([0, 500, 900, 1000]) AS BIGINT) AS q_milli),
        |tr AS (SELECT t.g, q.q_milli,
        |              CAST(greatest((q.q_milli * t.n + 999) // 1000, 1) AS BIGINT) AS target_rank
        |       FROM t CROSS JOIN q)
        |SELECT tr.g AS "group", tr.q_milli, tr.target_rank,
        |       CAST(min(p.v) AS BIGINT) AS value
        |FROM tr JOIN p ON p.g = tr.g AND p.cum >= tr.target_rank
        |GROUP BY tr.g, tr.q_milli, tr.target_rank
        |ORDER BY "group", tr.q_milli""".stripMargin) { (s, dir) =>
      RankStats.groupedQuantiles(tb(s, dir).documents, "n_chars", "lang",
        Seq(0L, 500L, 900L, 1000L))
    },

    // ---- paired t-test (RankStats.pairedT): two deterministic scorers
    //      on the same events; exact Σd/Σd² integers, t from the
    //      mirrored closed form ----
    "q_eval_paired_t" -> Q(
      """WITH p AS (SELECT (event_id*37) % 1000 - (event_id*53) % 1000 AS d FROM events),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS sum_d,
        |             CAST(sum(d*d) AS DOUBLE) AS sum_d2 FROM p)
        |SELECT n, sum_d, sum_d2,
        |  round(CASE WHEN n >= 2
        |              AND (sum_d2 - CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE) / CAST(n AS DOUBLE))
        |                  / (CAST(n AS DOUBLE) - 1.0) > 0.0
        |        THEN CAST(sum_d AS DOUBLE) / CAST(n AS DOUBLE)
        |             / sqrt((sum_d2 - CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE) / CAST(n AS DOUBLE))
        |                    / (CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE))
        |        ELSE NULL END, 6) AS t
        |FROM a""".stripMargin) { (s, dir) =>
      RankStats.pairedT(
        tb(s, dir).events.select(
          expr("(event_id*37) % 1000").as("a"),
          expr("(event_id*53) % 1000").as("b")),
        "a", "b")
    },

    // ---- Wilcoxon signed-rank (RankStats.wilcoxonSignedRank): the
    //      nonparametric sibling on the same pairs — zero diffs drop,
    //      |d| rank-averaged in 2x units, W+/W− exact ----
    "q_eval_signed_rank" -> Q(
      """WITH p AS (SELECT (event_id*37) % 1000 - (event_id*53) % 1000 AS d FROM events),
        |nz AS (SELECT d, abs(d) AS ad FROM p WHERE d <> 0),
        |vc AS (SELECT ad, CAST(count(*) AS BIGINT) AS t FROM nz GROUP BY ad),
        |rk AS (SELECT ad, t,
        |         2*CAST(coalesce(sum(t) OVER (ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |           + t + 1 AS rank2 FROM vc),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_eff,
        |             CAST(sum(CASE WHEN nz.d > 0 THEN rk.rank2 ELSE 0 END) AS BIGINT) AS w_plus2,
        |             CAST(sum(CASE WHEN nz.d < 0 THEN rk.rank2 ELSE 0 END) AS BIGINT) AS w_minus2
        |      FROM nz JOIN rk ON nz.ad = rk.ad),
        |tt AS (SELECT CAST(sum(t*t*t - t) AS DOUBLE) AS tie_term FROM vc)
        |SELECT a.n_eff, a.w_plus2, a.w_minus2, tt.tie_term,
        |  round(CASE WHEN a.n_eff > 0
        |              AND CAST(a.n_eff AS DOUBLE) * (CAST(a.n_eff AS DOUBLE) + 1.0)
        |                  * (2.0 * CAST(a.n_eff AS DOUBLE) + 1.0) / 24.0
        |                  - tt.tie_term / 48.0 > 0.0
        |        THEN (CAST(a.w_plus2 AS DOUBLE) / 2.0
        |              - CAST(a.n_eff AS DOUBLE) * (CAST(a.n_eff AS DOUBLE) + 1.0) / 4.0)
        |             / sqrt(CAST(a.n_eff AS DOUBLE) * (CAST(a.n_eff AS DOUBLE) + 1.0)
        |                    * (2.0 * CAST(a.n_eff AS DOUBLE) + 1.0) / 24.0
        |                    - tt.tie_term / 48.0)
        |        ELSE NULL END, 6) AS z
        |FROM a, tt""".stripMargin) { (s, dir) =>
      RankStats.wilcoxonSignedRank(
        tb(s, dir).events.select(
          expr("(event_id*37) % 1000").as("a"),
          expr("(event_id*53) % 1000").as("b")),
        "a", "b")
    },

    // ---- the STREAMING face of drift-KS (DriftStream.ks): baseline
    //      frozen from even event ids, odd ids folded in 3 batches
    //      through the ReplayGuard protocol — bin-count addition is a
    //      commutative monoid, so the maintained grid equals the
    //      one-shot replay exactly. Micro-batch wiring is
    //      DriftStreamSpec's job. ----
    "q_stream_ks" -> Q(
      """WITH ev AS (SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        |b AS (SELECT v FROM ev WHERE event_id % 2 = 0),
        |c AS (SELECT v FROM ev WHERE event_id % 2 = 1),
        |geo AS (SELECT CAST(min(v) AS BIGINT) AS mn,
        |               CAST(greatest(1, (max(v) - min(v) + 10) // 10) AS BIGINT) AS w
        |        FROM b),
        |gb AS (SELECT least(greatest((v - geo.mn) // geo.w, 0), 9) AS bin,
        |              CAST(count(*) AS BIGINT) AS cb FROM b, geo GROUP BY 1),
        |gc AS (SELECT least(greatest((v - geo.mn) // geo.w, 0), 9) AS bin,
        |              CAST(count(*) AS BIGINT) AS cg FROM c, geo GROUP BY 1),
        |grid AS (SELECT g.i AS bin, CAST(coalesce(gb.cb, 0) AS BIGINT) AS cb,
        |                CAST(coalesce(gc.cg, 0) AS BIGINT) AS cg
        |         FROM generate_series(0, 9) AS g(i)
        |         LEFT JOIN gb ON g.i = gb.bin LEFT JOIN gc ON g.i = gc.bin),
        |t AS (SELECT CAST(sum(cb) AS BIGINT) AS nb, CAST(sum(cg) AS BIGINT) AS ng FROM grid),
        |p AS (SELECT bin,
        |        CAST(sum(cb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
        |        CAST(sum(cg) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
        |      FROM grid),
        |dev AS (SELECT bin, abs(ca * t.ng - cc * t.nb) AS dv FROM p, t),
        |mx AS (SELECT CAST(max(dv) AS BIGINT) AS d_num FROM dev)
        |SELECT t.nb AS n_baseline, t.ng AS n_current, mx.d_num,
        |  CAST((SELECT min(bin) FROM dev WHERE dv = (SELECT d_num FROM mx)) AS BIGINT) AS d_bin,
        |  round(CAST(mx.d_num AS DOUBLE) / (CAST(t.nb AS DOUBLE) * CAST(t.ng AS DOUBLE)), 6) AS d
        |FROM t, mx""".stripMargin) { (s, dir) =>
      val tmp = Scratch.dir("graft_driftks_")
      val basePath = s"${tmp.getPath}/baseline"
      val curPath = s"${tmp.getPath}/current"
      val ev = tb(s, dir).events
        .select(col("event_id"), floor(col("value") * 100).as("v"))
      graft.streaming.DriftStream.writeBaseline(
        ev.filter(col("event_id") % 2 === 0), "v", basePath)
      (0 to 2).foreach { i =>
        graft.streaming.DriftStream.applyBatch(
          ev.filter(col("event_id") % 2 === 1)
            .filter(col("event_id") % 3 === i),
          "v", basePath, curPath)
      }
      graft.streaming.DriftStream.ks(s, basePath, curPath)
    },

    // ---- weighted exact quantiles (RankStats.weightedQuantiles):
    //      the length below which half the TOKENS live — per-value
    //      weight sums through the two-level scan, ranks in weight
    //      units, never a row expansion ----
    "q_stat_weighted_quantiles" -> Q(
      """WITH r AS (SELECT n_chars AS v,
        |             CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |                                  x -> x <> '')) AS BIGINT) AS w
        |           FROM documents),
        |vc AS (SELECT v, CAST(sum(w) AS BIGINT) AS n FROM r GROUP BY v
        |       HAVING sum(w) > 0),
        |p AS (SELECT v, n,
        |        CAST(sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM vc),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM vc),
        |q AS (SELECT CAST(unnest([0, 250, 500, 900, 1000]) AS BIGINT) AS q_milli),
        |tr AS (SELECT q.q_milli,
        |              CAST(greatest((q.q_milli * t.tot + 999) // 1000, 1) AS BIGINT) AS target_rank
        |       FROM q, t)
        |SELECT tr.q_milli, tr.target_rank, CAST(min(p.v) AS BIGINT) AS value
        |FROM tr JOIN p ON p.cum >= tr.target_rank
        |GROUP BY tr.q_milli, tr.target_rank
        |ORDER BY tr.q_milli""".stripMargin) { (s, dir) =>
      RankStats.weightedQuantiles(
        tb(s, dir).documents.select(col("n_chars").as("v"),
          graft.llm.TextAnalysis.tokenCountWs(col("text")).as("w")),
        "v", "w", Seq(0L, 250L, 500L, 900L, 1000L))
    },

    // ---- streaming token diversity (InfoStream.readDiversity): the
    //      SAME maintained cell state as q_stream_token_jsd, read
    //      through the diversity finisher — one state, two monitors ----
    "q_stream_token_diversity" -> Q(
      tokenDiversityOracle("source")) { (s, dir) =>
      val statePath = tokenCellState(s, dir, "graft_infodiv_")
      graft.streaming.InfoStream.readDiversity(s, statePath)
        .orderBy("slice")
    },

    // ---- mutual information (InfoStats.mutualInformation): are
    //      source and language independent? The chi-square question in
    //      nats — every entropy folds from exact cell counts as
    //      ln N − (Σ c·ln c)/N, mirrored term for term; `+ 0.0`
    //      normalizes an IEEE −0.0 near independence ----
    "q_stat_mutual_info" -> Q(
      """WITH r AS (SELECT lang AS a, source AS b FROM documents),
        |cells AS (SELECT a, b, count(*) AS c FROM r GROUP BY a, b),
        |sab AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |               sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s_ab
        |        FROM cells),
        |sa AS (SELECT sum(CAST(r AS DOUBLE) * ln(CAST(r AS DOUBLE))) AS s_a,
        |              CAST(count(*) AS BIGINT) AS ka
        |       FROM (SELECT CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY a)),
        |sb AS (SELECT sum(CAST(cc AS DOUBLE) * ln(CAST(cc AS DOUBLE))) AS s_b,
        |              CAST(count(*) AS BIGINT) AS kb
        |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cc FROM cells GROUP BY b))
        |SELECT sab.n,
        |  round(ln(CAST(sab.n AS DOUBLE)) - sa.s_a / sab.n, 6) + 0.0 AS h_a,
        |  round(ln(CAST(sab.n AS DOUBLE)) - sb.s_b / sab.n, 6) + 0.0 AS h_b,
        |  round(ln(CAST(sab.n AS DOUBLE)) - sab.s_ab / sab.n, 6) + 0.0 AS h_ab,
        |  round((ln(CAST(sab.n AS DOUBLE)) - sa.s_a / sab.n)
        |      + (ln(CAST(sab.n AS DOUBLE)) - sb.s_b / sab.n)
        |      - (ln(CAST(sab.n AS DOUBLE)) - sab.s_ab / sab.n), 6) + 0.0 AS mi,
        |  CASE WHEN sa.ka > 1 AND sb.kb > 1
        |       THEN round(((ln(CAST(sab.n AS DOUBLE)) - sa.s_a / sab.n)
        |                 + (ln(CAST(sab.n AS DOUBLE)) - sb.s_b / sab.n)
        |                 - (ln(CAST(sab.n AS DOUBLE)) - sab.s_ab / sab.n))
        |                 / sqrt((ln(CAST(sab.n AS DOUBLE)) - sa.s_a / sab.n)
        |                      * (ln(CAST(sab.n AS DOUBLE)) - sb.s_b / sab.n)), 6) + 0.0
        |  END AS nmi
        |FROM sab, sa, sb""".stripMargin) { (s, dir) =>
      graft.llm.InfoStats.mutualInformation(
        tb(s, dir).documents, "lang", "source")
    },

    // ---- per-slice token diversity (InfoStats.tokenDiversityBySlice):
    //      entropy / TTR / unbiased Simpson per language — low entropy
    //      or high Simpson flags template spam; the Simpson numerator
    //      Σ c(c−1) is exact integer algebra on both sides ----
    "q_stat_token_diversity" -> Q(
      tokenDiversityOracle("lang")) { (s, dir) =>
      graft.llm.InfoStats.tokenDiversityBySlice(
        tb(s, dir).documents, "lang", "text").orderBy("slice")
    },

    // ---- per-slice token JSD (InfoStats.tokenJsdBySlice): which
    //      source's VOCABULARY walked away from the corpus? Symmetric,
    //      finite on disjoint vocabularies (ln 2); tokens a slice does
    //      not contain fold into the closed-form complement-mass term
    //      instead of a |tokens|×|slices| grid ----
    "q_stat_token_jsd" -> Q(
      tokenJsdOracle) { (s, dir) =>
      graft.llm.InfoStats.tokenJsdBySlice(
        tb(s, dir).documents, "source", "text").orderBy("slice")
    },

    // ---- streaming token JSD (InfoStream): the per-slice vocabulary
    //      state folds incrementally — (slice, token, cnt) cells are a
    //      commutative monoid, so a 3-way split replays bit-identical
    //      to q_stat_token_jsd and registers its `tokenJsdOracle`; the
    //      maintained state serves both the JSD and diversity reads ----
    "q_stream_token_jsd" -> Q(
      tokenJsdOracle) { (s, dir) =>
      val statePath = tokenCellState(s, dir, "graft_infostream_")
      graft.streaming.InfoStream.readJsd(s, statePath).orderBy("slice")
    },

    // ---- cross-entropy vs a reference slice (InfoStats.
    //      crossEntropyBySlice): how surprised would a model trained
    //      on English be by each language? Add-1-smoothed unigram LM on
    //      the ref slice, per-slice ce/ppl/kl = ce − h_s ≥ 0 (Gibbs),
    //      mirrored term for term ----
    "q_stat_cross_entropy" -> Q(
      """WITH tk AS (SELECT lang AS s,
        |              unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                                 x -> x <> '')) AS t
        |            FROM documents),
        |st AS (SELECT s, t, count(*) AS c FROM tk GROUP BY s, t),
        |ref AS (SELECT t, CAST(c AS BIGINT) AS rc FROM st WHERE s = 'en'),
        |k AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v,
        |             CAST((SELECT sum(c) FROM st WHERE s = 'en') AS BIGINT) AS nr
        |      FROM st),
        |a AS (SELECT st.s, CAST(sum(st.c) AS BIGINT) AS n_s,
        |             CAST(sum(CASE WHEN ref.rc IS NULL THEN st.c ELSE 0 END) AS BIGINT) AS n_oov,
        |             sum(CAST(st.c AS DOUBLE)
        |                 * ln((CAST(coalesce(ref.rc, 0) AS DOUBLE) + 1.0)
        |                      / (CAST(k.nr AS DOUBLE) + 1.0 * CAST(k.v AS DOUBLE)))) AS slp,
        |             sum(CAST(st.c AS DOUBLE) * ln(CAST(st.c AS DOUBLE))) AS slc
        |      FROM st LEFT JOIN ref ON st.t = ref.t CROSS JOIN k
        |      GROUP BY st.s)
        |SELECT s AS slice, n_s, n_oov,
        |  round(-slp / CAST(n_s AS DOUBLE), 6) AS ce,
        |  round(exp(-slp / CAST(n_s AS DOUBLE)), 6) AS ppl,
        |  round(ln(CAST(n_s AS DOUBLE)) - slc / CAST(n_s AS DOUBLE), 6) + 0.0 AS h_s,
        |  round(-slp / CAST(n_s AS DOUBLE)
        |        - (ln(CAST(n_s AS DOUBLE)) - slc / CAST(n_s AS DOUBLE)), 6) + 0.0 AS kl
        |FROM a ORDER BY slice""".stripMargin) { (s, dir) =>
      graft.llm.InfoStats.crossEntropyBySlice(
        tb(s, dir).documents, "lang", "text", "en").orderBy("slice")
    },

    // ---- mixture concentration (InfoStats.concentrationProfile):
    //      HHI / Gini / Theil of the language mixture — three tail
    //      sensitivities for "is this mixture dominated?", all from
    //      exact counts; the Gini rank window runs over the k-row
    //      aggregate frame only ----
    "q_stat_concentration" -> Q(
      """WITH c AS (SELECT lang AS d, count(*) AS c FROM documents GROUP BY lang),
        |r AS (SELECT d, c, row_number() OVER (ORDER BY c, d) AS i FROM c),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(c) AS BIGINT) AS n,
        |             CAST(max(c) AS BIGINT) AS mx,
        |             CAST(sum(c * c) AS DOUBLE) AS sc2,
        |             CAST(sum(i * c) AS DOUBLE) AS sic,
        |             sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS slc
        |      FROM r)
        |SELECT k, n,
        |  round(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS max_share,
        |  round(sc2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS hhi,
        |  round((2.0 * sic - (CAST(k AS DOUBLE) + 1.0) * CAST(n AS DOUBLE))
        |        / (CAST(k AS DOUBLE) * CAST(n AS DOUBLE)), 6) + 0.0 AS gini,
        |  round(ln(CAST(k AS DOUBLE))
        |        - (ln(CAST(n AS DOUBLE)) - slc / CAST(n AS DOUBLE)), 6) + 0.0 AS theil
        |FROM a""".stripMargin) { (s, dir) =>
      graft.llm.InfoStats.concentrationProfile(tb(s, dir).documents, "lang")
    },

    // ---- effective sample size (InfoStats.essWeights): how many
    //      equally-weighted samples a weighted group is worth (Kish) —
    //      the health check a DSIR/temperature plan runs before
    //      trusting its weights; Σw² exact in decimal on both sides ----
    "q_stat_ess" -> Q(
      """WITH r AS (SELECT lang AS g, n_chars AS w FROM documents),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(w) AS DOUBLE) AS sum_w,
        |             CAST(sum(w * w) AS DOUBLE) AS sum_w2,
        |             CAST(max(w) AS BIGINT) AS max_w
        |      FROM r GROUP BY g)
        |SELECT g AS "group", n, sum_w, sum_w2, max_w,
        |  CASE WHEN sum_w2 > 0 THEN round(sum_w * sum_w / sum_w2, 6) END AS ess,
        |  CASE WHEN sum_w2 > 0
        |       THEN round(sum_w * sum_w / sum_w2 / CAST(n AS DOUBLE), 6)
        |  END AS ess_ratio,
        |  CASE WHEN sum_w > 0 THEN round(CAST(max_w AS DOUBLE) / sum_w, 6) END AS max_share
        |FROM a ORDER BY "group"""".stripMargin) { (s, dir) =>
      graft.llm.InfoStats.essWeights(
        tb(s, dir).documents, "lang", "n_chars").orderBy("group")
    },

    // ---- split-conformal anomaly thresholds + coverage audit
    //      (RankStats.conformalQuantile/conformalCoverage): per event
    //      type, the ⌈(n+1)·950/1000⌉-th smallest calibration value is
    //      a distribution-free 95% upper bound for fresh values; the
    //      held-out half audits it. Hash-split halves, milli-quantized
    //      scores, integer rank rule — the oracle replays everything ----
    "q_stat_conformal" -> Q(
      conformalOracle) { (s, dir) =>
      val v = tb(s, dir).events.filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * lit(1000.0d)).cast("long").as("s_m"))
      val bkt = graft.llm.Sampling.hashBucket(col("event_id"))
      val qh = RankStats.conformalQuantile(
        v.filter(bkt < 32768L), "s_m", "event_type")
      RankStats.conformalCoverage(
          v.filter(bkt >= 32768L), qh, "s_m", "event_type")
        .orderBy("grp")
    },

    // ---- streaming conformal calibration (ConformalStream): the
    //      SAME per-type threshold + coverage, served from a cell
    //      state folded over three calibration micro-batches — cells
    //      are a monoid, so the state hash-matches the one-shot
    //      oracle (shared with q_stat_conformal) ----
    "q_stream_conformal" -> Q(conformalOracle) { (s, dir) =>
      val tmp = Scratch.dir("graft_confstream_")
      val statePath = s"${tmp.getPath}/conf_cells"
      val v = tb(s, dir).events.filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * lit(1000.0d)).cast("long").as("s_m"))
      val bkt = graft.llm.Sampling.hashBucket(col("event_id"))
      val cal = v.filter(bkt < 32768L)
      (0 to 2).foreach { i =>
        graft.streaming.ConformalStream.applyBatch(
          cal.filter(col("event_id") % 3 === i), "event_type", "s_m",
          statePath)
      }
      RankStats.conformalCoverage(
          v.filter(bkt >= 32768L),
          graft.streaming.ConformalStream.readQuantile(s, statePath),
          "s_m", "event_type")
        .orderBy("grp")
    },

    // ---- Hill tail-exponent (RankStats.hillAlpha): the power-law
    //      shape of the doc-length tail above 100 chars — a corpus
    //      whose alpha moves after a filter change lost (or gained)
    //      its long documents; Σ c·ln(v/xmin) over distinct values,
    //      degeneracy keyed on the exact max(v) ----
    "q_stat_hill_alpha" -> Q(
      """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents
        |           WHERE n_chars >= 100),
        |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY v),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_tail,
        |        CAST(max(v) AS BIGINT) AS vmax,
        |        sum(CAST(c AS DOUBLE)
        |            * ln(CAST(v AS DOUBLE) / CAST(100 AS DOUBLE))) AS lnsum
        |      FROM vc)
        |SELECT n_tail, CAST(100 AS BIGINT) AS xmin,
        |  CASE WHEN vmax > 100
        |       THEN round(CAST(1 AS DOUBLE) + CAST(n_tail AS DOUBLE) / lnsum, 6)
        |  END AS alpha
        |FROM a""".stripMargin) { (s, dir) =>
      RankStats.hillAlpha(tb(s, dir).documents, "n_chars", xmin = 100L)
    },

    // ---- per-source ECDF score harmonization (RankStats.
    //      ecdfNormalize): every source's scores mapped onto the same
    //      [0,1000] rank scale before cross-source mixing — the
    //      distinct (source, value) mapping joined back to docs ----
    "q_stat_ecdf_norm" -> Q(
      """WITH r AS (SELECT doc_id, source, n_chars FROM documents),
        |vc AS (SELECT source, n_chars AS v, count(*) AS c FROM r GROUP BY 1, 2),
        |p AS (SELECT source, v,
        |        CAST(sum(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
        |      FROM vc),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS tot FROM r GROUP BY source)
        |SELECT r.doc_id, r.source, CAST(r.n_chars AS BIGINT) AS n_chars,
        |  CAST((p.cum * 1000) // n.tot AS BIGINT) AS ecdf_permille
        |FROM r JOIN p ON p.source = r.source AND p.v = r.n_chars
        |JOIN n ON n.source = r.source
        |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
      val docs = tb(s, dir).documents.select("doc_id", "source", "n_chars")
      val m = RankStats.ecdfNormalize(docs, "n_chars", "source")
      docs
        .join(m.select(col("grp").as("source"), col("value").as("n_chars"),
          col("ecdf_permille")), Seq("source", "n_chars"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("ecdf_permille"))
        .orderBy("doc_id")
    },

    // ---- CUPED variance reduction (RankStats.cupedAdjust): adjust
    //      each user's post-week-1 value by their week-1 covariate —
    //      the standard A/B trick that shrinks metric variance by
    //      exactly ρ² without biasing the contrast; per-event milli
    //      quantization BEFORE the per-user sum keeps every moment an
    //      exact integer (a per-user double sum would float-drift) ----
    "q_eval_cuped" -> Q(
      """WITH e AS (SELECT user_id, CAST(floor(value * 1000.0) AS BIGINT) AS vm,
        |                  CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08' AS pre
        |           FROM events WHERE value IS NOT NULL),
        |u AS (SELECT user_id,
        |        CAST(coalesce(sum(CASE WHEN pre THEN vm END), 0) AS BIGINT) AS x,
        |        CAST(coalesce(sum(CASE WHEN NOT pre THEN vm END), 0) AS BIGINT) AS y,
        |        CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END AS arm
        |      FROM e GROUP BY user_id),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n0,
        |             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |             sum(CAST(x AS HUGEINT) * x) AS sxx,
        |             sum(CAST(x AS HUGEINT) * y) AS sxy,
        |             sum(CAST(y AS HUGEINT) * y) AS syy
        |      FROM u),
        |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(x) AS BIGINT) AS sum_x,
        |             CAST(sum(y) AS BIGINT) AS sum_y
        |      FROM u GROUP BY arm)
        |SELECT a.arm, a.n, a.sum_x, a.sum_y,
        |  round(CAST(a.sum_y AS DOUBLE) / CAST(a.n AS DOUBLE), 6) AS mean_y,
        |  round(CASE WHEN CAST(p.n0 * p.sxx - p.sx * p.sx AS DOUBLE) > 0.0
        |        THEN CAST(p.n0 * p.sxy - p.sx * p.sy AS DOUBLE)
        |             / CAST(p.n0 * p.sxx - p.sx * p.sx AS DOUBLE) END, 6) AS theta,
        |  round(CASE WHEN CAST(p.n0 * p.sxx - p.sx * p.sx AS DOUBLE) > 0.0
        |              AND CAST(p.n0 * p.syy - p.sy * p.sy AS DOUBLE) > 0.0
        |        THEN (CAST(p.n0 * p.sxy - p.sx * p.sy AS DOUBLE)
        |              / CAST(p.n0 * p.sxx - p.sx * p.sx AS DOUBLE))
        |             * (CAST(p.n0 * p.sxy - p.sx * p.sy AS DOUBLE)
        |                / CAST(p.n0 * p.syy - p.sy * p.sy AS DOUBLE)) END, 6) AS rho2,
        |  round(CAST(a.sum_y AS DOUBLE) / CAST(a.n AS DOUBLE)
        |        - coalesce(CASE WHEN CAST(p.n0 * p.sxx - p.sx * p.sx AS DOUBLE) > 0.0
        |                   THEN CAST(p.n0 * p.sxy - p.sx * p.sy AS DOUBLE)
        |                        / CAST(p.n0 * p.sxx - p.sx * p.sx AS DOUBLE) END, 0.0)
        |          * (CAST(a.sum_x AS DOUBLE) / CAST(a.n AS DOUBLE)
        |             - CAST(p.sx AS DOUBLE) / CAST(p.n0 AS DOUBLE)), 6) AS mean_adj
        |FROM a, p ORDER BY a.arm""".stripMargin) { (s, dir) =>
      val per = prePostArms(s, dir)
      RankStats.cupedAdjust(per, "x", "y", "arm")
        .select(col("arm"), col("n"), col("sum_x"), col("sum_y"),
          round(col("mean_y"), 6).as("mean_y"),
          round(col("theta"), 6).as("theta"),
          round(col("rho2"), 6).as("rho2"),
          round(col("mean_adj"), 6).as("mean_adj"))
        .orderBy("arm")
    },

    // ---- uplift / Qini curve (RankStats.upliftCurve): walking users
    //      from most-active down, how many EXTRA conversions has the
    //      treated arm bought so far? Cumulative-from-the-top exact
    //      integers via the two-level scan on the negated score ----
    "q_eval_uplift_curve" -> Q(
      """WITH act AS (SELECT user_id, CAST(count(*) // 5 AS BIGINT) AS s,
        |              CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        |             FROM events GROUP BY user_id),
        |u AS (SELECT s, y,
        |             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
        |      FROM act),
        |vc AS (SELECT s, CAST(sum(t) AS BIGINT) AS nt,
        |              CAST(sum(1 - t) AS BIGINT) AS nc,
        |              CAST(sum(t * y) AS BIGINT) AS yt,
        |              CAST(sum((1 - t) * y) AS BIGINT) AS yc
        |       FROM u GROUP BY s),
        |p AS (SELECT s,
        |        CAST(sum(nt) OVER w AS BIGINT) AS n_t,
        |        CAST(sum(nc) OVER w AS BIGINT) AS n_c,
        |        CAST(sum(yt) OVER w AS BIGINT) AS y_t,
        |        CAST(sum(yc) OVER w AS BIGINT) AS y_c
        |      FROM vc
        |      WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT s AS score, n_t, n_c, y_t, y_c,
        |  round(CASE WHEN n_t > 0 AND n_c > 0
        |        THEN CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE)
        |             - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE) END, 6) AS uplift,
        |  round(CASE WHEN n_c > 0
        |        THEN CAST(y_t AS DOUBLE)
        |             - CAST(y_c AS DOUBLE) * CAST(n_t AS DOUBLE) / CAST(n_c AS DOUBLE) END, 6) AS qini
        |FROM p ORDER BY score DESC""".stripMargin) { (s, dir) =>
      val users = tb(s, dir).events.groupBy("user_id")
        .agg(expr("count(*) div 5").as("s"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b"))
      RankStats.upliftCurve(users, "s", "arm", "arm_a", "y")
        .withColumn("uplift", round(col("uplift"), 6))
        .withColumn("qini", round(col("qini"), 6))
        .orderBy(col("score").desc)
    },

    // ---- difference-in-differences (RankStats.diffInDiff): did the
    //      treated arm's week-1 → rest-of-month value move MORE than
    //      control's? Per-user exact deltas (milli-quantized per
    //      event), Welch SE over per-arm delta variances ----
    "q_eval_did" -> Q(
      """WITH e AS (SELECT user_id, CAST(floor(value * 1000.0) AS BIGINT) AS vm,
        |                  CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08' AS pre
        |           FROM events WHERE value IS NOT NULL),
        |u AS (SELECT user_id,
        |        CAST(coalesce(sum(CASE WHEN pre THEN vm END), 0) AS BIGINT) AS x,
        |        CAST(coalesce(sum(CASE WHEN NOT pre THEN vm END), 0) AS BIGINT) AS y
        |      FROM e GROUP BY user_id),
        |d AS (SELECT y - x AS d,
        |             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
        |      FROM u),
        |a AS (SELECT t, CAST(count(*) AS BIGINT) AS n,
        |             sum(CAST(d AS HUGEINT)) AS sd,
        |             sum(CAST(d AS HUGEINT) * d) AS sdd
        |      FROM d GROUP BY t)
        |SELECT t1.n AS n_t, t0.n AS n_c,
        |  round(CAST(t1.sd AS DOUBLE) / CAST(t1.n AS DOUBLE), 6) AS mean_diff_t,
        |  round(CAST(t0.sd AS DOUBLE) / CAST(t0.n AS DOUBLE), 6) AS mean_diff_c,
        |  round(CAST(t1.sd AS DOUBLE) / CAST(t1.n AS DOUBLE)
        |        - CAST(t0.sd AS DOUBLE) / CAST(t0.n AS DOUBLE), 6) AS did,
        |  round(CASE WHEN t1.n > 1 AND t0.n > 1
        |        THEN sqrt(CAST(t1.n * t1.sdd - t1.sd * t1.sd AS DOUBLE)
        |                    / (CAST(t1.n AS DOUBLE) * (CAST(t1.n AS DOUBLE) - 1.0))
        |                    / CAST(t1.n AS DOUBLE)
        |                  + CAST(t0.n * t0.sdd - t0.sd * t0.sd AS DOUBLE)
        |                    / (CAST(t0.n AS DOUBLE) * (CAST(t0.n AS DOUBLE) - 1.0))
        |                    / CAST(t0.n AS DOUBLE)) END, 6) AS se,
        |  round(CASE WHEN t1.n > 1 AND t0.n > 1
        |              AND sqrt(CAST(t1.n * t1.sdd - t1.sd * t1.sd AS DOUBLE)
        |                         / (CAST(t1.n AS DOUBLE) * (CAST(t1.n AS DOUBLE) - 1.0))
        |                         / CAST(t1.n AS DOUBLE)
        |                       + CAST(t0.n * t0.sdd - t0.sd * t0.sd AS DOUBLE)
        |                         / (CAST(t0.n AS DOUBLE) * (CAST(t0.n AS DOUBLE) - 1.0))
        |                         / CAST(t0.n AS DOUBLE)) > 0.0
        |        THEN (CAST(t1.sd AS DOUBLE) / CAST(t1.n AS DOUBLE)
        |              - CAST(t0.sd AS DOUBLE) / CAST(t0.n AS DOUBLE))
        |             / sqrt(CAST(t1.n * t1.sdd - t1.sd * t1.sd AS DOUBLE)
        |                      / (CAST(t1.n AS DOUBLE) * (CAST(t1.n AS DOUBLE) - 1.0))
        |                      / CAST(t1.n AS DOUBLE)
        |                    + CAST(t0.n * t0.sdd - t0.sd * t0.sd AS DOUBLE)
        |                      / (CAST(t0.n AS DOUBLE) * (CAST(t0.n AS DOUBLE) - 1.0))
        |                      / CAST(t0.n AS DOUBLE)) END, 6) AS z
        |FROM (SELECT * FROM a WHERE t = 1) t1, (SELECT * FROM a WHERE t = 0) t0""".stripMargin) {
      (s, dir) =>
        val per = prePostArms(s, dir)
        RankStats.diffInDiff(per, "x", "y", "arm", "arm_a")
          .select(col("n_t"), col("n_c"),
            round(col("mean_diff_t"), 6).as("mean_diff_t"),
            round(col("mean_diff_c"), 6).as("mean_diff_c"),
            round(col("did"), 6).as("did"),
            round(col("se"), 6).as("se"),
            round(col("z"), 6).as("z"))
    },

    // ---- stratified ATE (RankStats.stratifiedAte): the conversion
    //      effect standardized over activity strata (count div 20) —
    //      imbalanced arms mix confounding into the naive contrast;
    //      per-stratum contrasts re-weight by population share,
    //      one-arm strata drop loudly into n_dropped ----
    "q_eval_stratified_ate" -> Q(
      """WITH u AS (SELECT user_id, CAST(count(*) // 20 AS BIGINT) AS s,
        |             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y,
        |             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
        |           FROM events GROUP BY user_id),
        |cells AS (SELECT s, t, CAST(count(*) AS BIGINT) AS n,
        |                 sum(CAST(y AS HUGEINT)) AS sy,
        |                 sum(CAST(y AS HUGEINT) * y) AS syy
        |          FROM u GROUP BY s, t),
        |st AS (SELECT s,
        |         max(CASE WHEN t = 1 THEN n END) AS n_ts,
        |         max(CASE WHEN t = 1 THEN sy END) AS sy_ts,
        |         max(CASE WHEN t = 1 THEN syy END) AS syy_ts,
        |         max(CASE WHEN t = 0 THEN n END) AS n_cs,
        |         max(CASE WHEN t = 0 THEN sy END) AS sy_cs,
        |         max(CASE WHEN t = 0 THEN syy END) AS syy_cs
        |       FROM cells GROUP BY s),
        |used AS (SELECT *, n_ts + n_cs AS ns FROM st
        |         WHERE n_ts IS NOT NULL AND n_cs IS NOT NULL),
        |tot AS (SELECT CAST(coalesce(sum(ns), 0) AS BIGINT) AS ntot FROM used),
        |drp AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped FROM st
        |        WHERE n_ts IS NULL OR n_cs IS NULL),
        |terms AS (SELECT used.ns, used.n_ts, used.n_cs, used.sy_ts, used.sy_cs,
        |            (CAST(used.ns AS DOUBLE) / CAST(tot.ntot AS DOUBLE))
        |              * (CAST(used.sy_ts AS DOUBLE) / CAST(used.n_ts AS DOUBLE)
        |                 - CAST(used.sy_cs AS DOUBLE) / CAST(used.n_cs AS DOUBLE)) AS wc,
        |            CASE WHEN used.n_ts > 1 AND used.n_cs > 1
        |              THEN (CAST(used.ns AS DOUBLE) / CAST(tot.ntot AS DOUBLE))
        |                   * (CAST(used.ns AS DOUBLE) / CAST(tot.ntot AS DOUBLE))
        |                   * (CAST(used.n_ts * used.syy_ts - used.sy_ts * used.sy_ts AS DOUBLE)
        |                        / (CAST(used.n_ts AS DOUBLE) * (CAST(used.n_ts AS DOUBLE) - 1.0))
        |                        / CAST(used.n_ts AS DOUBLE)
        |                      + CAST(used.n_cs * used.syy_cs - used.sy_cs * used.sy_cs AS DOUBLE)
        |                        / (CAST(used.n_cs AS DOUBLE) * (CAST(used.n_cs AS DOUBLE) - 1.0))
        |                        / CAST(used.n_cs AS DOUBLE)) END AS wv
        |          FROM used, tot)
        |SELECT CAST(coalesce(sum(ns), 0) AS BIGINT) AS n_used,
        |  CAST(count(*) AS BIGINT) AS n_strata,
        |  (SELECT n_dropped FROM drp) AS n_dropped,
        |  round(CASE WHEN sum(n_ts) > 0 AND sum(n_cs) > 0
        |        THEN CAST(sum(sy_ts) AS DOUBLE) / CAST(sum(n_ts) AS DOUBLE)
        |             - CAST(sum(sy_cs) AS DOUBLE) / CAST(sum(n_cs) AS DOUBLE) END, 6) AS ate_naive,
        |  round(sum(wc), 6) AS ate_strat,
        |  round(CASE WHEN sum(CASE WHEN wv IS NULL THEN 1 ELSE 0 END) = 0
        |              AND sum(wv) > 0.0 THEN sqrt(sum(wv)) END, 6) AS se,
        |  round(CASE WHEN sum(CASE WHEN wv IS NULL THEN 1 ELSE 0 END) = 0
        |              AND sum(wv) > 0.0 THEN sum(wc) / sqrt(sum(wv)) END, 6) AS z
        |FROM terms""".stripMargin) { (s, dir) =>
      val users = tb(s, dir).events.groupBy("user_id")
        .agg(expr("count(*) div 20").as("s"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b"))
      RankStats.stratifiedAte(users, "s", "arm", "arm_a", "y")
        .select(col("n_used"), col("n_strata"), col("n_dropped"),
          round(col("ate_naive"), 6).as("ate_naive"),
          round(col("ate_strat"), 6).as("ate_strat"),
          round(col("se"), 6).as("se"),
          round(col("z"), 6).as("z"))
    },

    // ---- peeking-safe sequential monitor (RankStats.
    //      sequentialBoundary): running two-proportion z per
    //      enrollment day vs the O'Brien–Fleming-shaped c/√f boundary
    //      — daily looks without alpha inflation; the crossed flag
    //      compares the 6-decimal margin on both engines ----
    "q_eval_sequential" -> Q(
      """WITH u AS (SELECT user_id,
        |             CAST(day(min(CAST(ts AS TIMESTAMP))) AS BIGINT) AS d,
        |             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y,
        |             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
        |           FROM events GROUP BY user_id),
        |vc AS (SELECT d, CAST(sum(t) AS BIGINT) AS nt,
        |              CAST(sum(1 - t) AS BIGINT) AS nc,
        |              CAST(sum(t * y) AS BIGINT) AS yt,
        |              CAST(sum((1 - t) * y) AS BIGINT) AS yc
        |       FROM u GROUP BY d),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nall FROM u),
        |p AS (SELECT d,
        |        CAST(sum(nt) OVER w AS BIGINT) AS n_t,
        |        CAST(sum(nc) OVER w AS BIGINT) AS n_c,
        |        CAST(sum(yt) OVER w AS BIGINT) AS y_t,
        |        CAST(sum(yc) OVER w AS BIGINT) AS y_c
        |      FROM vc
        |      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |q AS (SELECT p.d AS day, p.n_t, p.n_c, p.y_t, p.y_c,
        |        CASE WHEN p.n_t > 0 AND p.n_c > 0
        |              AND (CAST(p.y_t + p.y_c AS DOUBLE) / (CAST(p.n_t AS DOUBLE) + CAST(p.n_c AS DOUBLE)))
        |                  * (1.0 - CAST(p.y_t + p.y_c AS DOUBLE) / (CAST(p.n_t AS DOUBLE) + CAST(p.n_c AS DOUBLE)))
        |                  * (1.0 / CAST(p.n_t AS DOUBLE) + 1.0 / CAST(p.n_c AS DOUBLE)) > 0.0
        |          THEN (CAST(p.y_t AS DOUBLE) / CAST(p.n_t AS DOUBLE)
        |                - CAST(p.y_c AS DOUBLE) / CAST(p.n_c AS DOUBLE))
        |               / sqrt((CAST(p.y_t + p.y_c AS DOUBLE) / (CAST(p.n_t AS DOUBLE) + CAST(p.n_c AS DOUBLE)))
        |                      * (1.0 - CAST(p.y_t + p.y_c AS DOUBLE) / (CAST(p.n_t AS DOUBLE) + CAST(p.n_c AS DOUBLE)))
        |                      * (1.0 / CAST(p.n_t AS DOUBLE) + 1.0 / CAST(p.n_c AS DOUBLE))) END AS z,
        |        2.7969 / sqrt((CAST(p.n_t AS DOUBLE) + CAST(p.n_c AS DOUBLE)) / CAST(tot.nall AS DOUBLE)) AS boundary
        |      FROM p, tot)
        |SELECT day, n_t, n_c, y_t, y_c, round(z, 6) AS z,
        |  round(boundary, 6) AS boundary,
        |  round(abs(z) - boundary, 6) AS margin,
        |  coalesce(round(abs(z) - boundary, 6) >= 0.0, false) AS crossed
        |FROM q ORDER BY day""".stripMargin) { (s, dir) =>
      val users = tb(s, dir).events.groupBy("user_id")
        .agg(dayofmonth(min("ts")).cast("long").as("d"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b"))
      RankStats.sequentialBoundary(users, "d", "arm", "arm_a", "y")
        .select(col("day"), col("n_t"), col("n_c"), col("y_t"), col("y_c"),
          round(col("z"), 6).as("z"),
          round(col("boundary"), 6).as("boundary"),
          col("margin"), col("crossed"))
        .orderBy("day")
    },

    // ---- BH-FDR drift gate (RankStats.bhFdr ∘ mannWhitneyPerSlice):
    //      eight doc_id buckets, one with a PLANTED +1000-char shift
    //      (the driver's synthetic slices are homogeneous — every
    //      honest slice must stay quiet while the planted one flags);
    //      two-sided p via the mirrored A&S erfc polynomial, step-up
    //      cutoff k* = max{i : p·m ≤ α·i} at α = 0.05 ----
    "q_stat_drift_fdr" -> Q(
      """WITH r AS (SELECT 'b' || CAST(doc_id % 8 AS VARCHAR) AS s,
        |                  n_chars + CASE WHEN doc_id % 8 = 0 THEN 1000 ELSE 0 END AS v
        |           FROM documents),
        |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS nv FROM r GROUP BY v),
        |rk0 AS (SELECT v, nv,
        |          2*CAST(coalesce(sum(nv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |            + nv + 1 AS rank2 FROM vc),
        |g AS (SELECT CAST(sum(nv) AS BIGINT) AS tot,
        |             CAST(sum(nv*nv*nv - nv) AS DOUBLE) AS tie_term FROM vc),
        |sv AS (SELECT s, v, CAST(count(*) AS BIGINT) AS nsv FROM r GROUP BY s, v),
        |ps AS (SELECT s, CAST(sum(nsv) AS BIGINT) AS n_s,
        |              CAST(sum(nsv * rk0.rank2) AS BIGINT) AS r_s2
        |       FROM sv JOIN rk0 ON sv.v = rk0.v GROUP BY s),
        |zz AS (SELECT s AS slice,
        |  round(CASE WHEN CAST(n_s AS DOUBLE) * CAST(tot - n_s AS DOUBLE) / 12.0
        |                  * ((CAST(tot AS DOUBLE) + 1.0)
        |                     - tie_term / (CAST(tot AS DOUBLE) * (CAST(tot AS DOUBLE) - 1.0))) > 0.0
        |        THEN (CAST(r_s2 - n_s*(n_s+1) AS DOUBLE) / 2.0
        |              - CAST(n_s AS DOUBLE) * CAST(tot - n_s AS DOUBLE) / 2.0)
        |             / sqrt(CAST(n_s AS DOUBLE) * CAST(tot - n_s AS DOUBLE) / 12.0
        |                    * ((CAST(tot AS DOUBLE) + 1.0)
        |                       - tie_term / (CAST(tot AS DOUBLE) * (CAST(tot AS DOUBLE) - 1.0))))
        |        ELSE NULL END, 6) AS z
        |       FROM ps, g),
        |px AS (SELECT slice, z, abs(z)/sqrt(2.0) AS x FROM zz WHERE z IS NOT NULL),
        |pt AS (SELECT slice, z, x, 1.0/(1.0 + 0.3275911*x) AS t FROM px),
        |pp AS (SELECT slice, z,
        |         round((t*(0.254829592 + t*(-0.284496736 + t*(1.421413741 + t*(-1.453152027 + t*1.061405429)))))
        |           * exp(-(x*x)), 12) AS p
        |       FROM pt),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pp),
        |rk AS (SELECT slice, z, p,
        |         CAST(row_number() OVER (ORDER BY p, slice) AS BIGINT) AS rank, m.m
        |       FROM pp, m),
        |ks AS (SELECT max(CASE WHEN p * CAST(m AS DOUBLE) <= 0.05 * CAST(rank AS DOUBLE)
        |                  THEN rank END) AS kstar FROM rk)
        |SELECT rk.slice, rk.z, round(rk.p, 6) AS p, rk.rank, rk.m,
        |  rk.rank <= coalesce(ks.kstar, 0) AS significant
        |FROM rk, ks ORDER BY rk.slice""".stripMargin) { (s, dir) =>
      val sliced = tb(s, dir).documents.select(
        concat(lit("b"), pmod(col("doc_id"), lit(8)).cast("string"))
          .as("bucket"),
        (col("n_chars") +
          when(pmod(col("doc_id"), lit(8)) === 0, 1000L).otherwise(0L))
          .as("v"))
      RankStats.bhFdr(
        RankStats.mannWhitneyPerSlice(sliced, "v", "bucket"),
        "slice", "z", alphaPermille = 50)
        .withColumn("p", round(col("p"), 6))
        .orderBy("slice")
    },

    // ---- tie-corrected Kendall tau-b (RankStats.kendallTau): does
    //      bucketed document length (100-char bins — heavy x ties) rise
    //      monotonically with whitespace-token count? The engine counts
    //      concordant pairs by blocked 2D dominance over the distinct
    //      (x, y) CELL grid (cells·B + cells²/B, never corpus²); the
    //      oracle is the DEFINITION — a brute-force ordered pair join,
    //      algorithm-independent by construction ----
    "q_stat_kendall_tau" -> Q(
      """WITH r AS (SELECT row_number() OVER () AS rid,
        |                  n_chars // 100 AS x,
        |                  len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS y
        |           FROM documents),
        |p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
        |      FROM r a JOIN r b ON a.rid < b.rid),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |        CAST(sum(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb) THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
        |        CAST(sum(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb) THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
        |        CAST(sum(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS t1,
        |        CAST(sum(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS t2,
        |        CAST(sum(CASE WHEN xa = xb AND ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS t3
        |      FROM p)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM r) AS n,
        |  s.n_pairs, s.concordant, s.discordant, s.t1, s.t2, s.t3,
        |  round(CASE WHEN CAST(s.n_pairs - s.t1 AS DOUBLE) * CAST(s.n_pairs - s.t2 AS DOUBLE) > 0.0
        |        THEN CAST(s.concordant - s.discordant AS DOUBLE)
        |             / sqrt(CAST(s.n_pairs - s.t1 AS DOUBLE) * CAST(s.n_pairs - s.t2 AS DOUBLE))
        |        END, 6) AS tau_b,
        |  round(CASE WHEN s.n_pairs - s.t1 > 0
        |        THEN CAST(s.concordant - s.discordant AS DOUBLE)
        |             / CAST(s.n_pairs - s.t1 AS DOUBLE) END, 6) AS somers_d
        |FROM s""".stripMargin) { (s, dir) =>
      val docs = tb(s, dir).documents.select(
        expr("n_chars div 100").as("x"),
        graft.llm.TextAnalysis.tokenCountWs(col("text")).as("y"))
      RankStats.kendallTau(docs, "x", "y")
        .withColumn("tau_b", round(col("tau_b"), 6))
        .withColumn("somers_d", round(col("somers_d"), 6))
    },

    // ---- Kaplan–Meier survival curve (Survival.kaplanMeier): hours
    //      from first signup to first purchase, right-censored at the
    //      user's last observed event; risk sets via the two-level
    //      prefix scan, survival = exp(Σ ln((n−d)/n)) over event times
    //      with the d = n_risk extinction pinned to exactly 0.0 ----
    "q_evt_kaplan_meier" -> Q(kaplanMeierOracle) { (s, dir) =>
      Survival.kaplanMeier(survivalSubjects(s, dir), "dur_h", "ev")
        .select(col("t"), col("n_risk"), col("d"), col("c"),
          round(col("survival"), 6).as("survival"))
        .orderBy("t")
    },

    // ---- Kaplan–Meier with Greenwood variance and the 95% log-log
    //      confidence band (Survival.kaplanMeierCi): the uncertainty
    //      every real survival plot draws. Var = S²·Σ d/(n(n−d))
    //      cumulated over event times; band = S^exp(±z·√Σ/|ln S|)
    //      (cloglog transform — stays inside (0,1)). NULL past
    //      extinction and, for the band, while S = 1 ----
    "q_evt_km_ci" -> Q(
      s"""WITH $survivalSubjectsCte,
        |$kmCurveCte,
        |gw AS (SELECT t, n_risk, d, c, survival,
        |        sum(CASE WHEN d > 0 AND d < n_risk
        |              THEN CAST(d AS DOUBLE)
        |                   / (CAST(n_risk AS DOUBLE) * CAST(n_risk - d AS DOUBLE))
        |              ELSE 0.0 END)
        |          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gws,
        |        max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |          OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |      FROM km)
        |SELECT t, n_risk, d, c, round(survival, 6) AS survival,
        |  round(CASE WHEN dead = 0 THEN survival * survival * gws END, 6) + 0.0 AS greenwood_var,
        |  round(CASE WHEN dead = 0 AND survival < 1.0
        |        THEN pow(survival, exp(1.959963984540054
        |             * (sqrt(gws) / abs(ln(survival))))) END, 6) + 0.0 AS ci_lo,
        |  round(CASE WHEN dead = 0 AND survival < 1.0
        |        THEN pow(survival, exp(-1.959963984540054
        |             * (sqrt(gws) / abs(ln(survival))))) END, 6) + 0.0 AS ci_hi
        |FROM gw ORDER BY t""".stripMargin) { (s, dir) =>
      Survival.kaplanMeierCi(survivalSubjects(s, dir), "dur_h", "ev")
        .select(col("t"), col("n_risk"), col("d"), col("c"),
          round(col("survival"), 6).as("survival"),
          round(col("greenwood_var"), 6).as("greenwood_var"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
        .orderBy("t")
    },

    // ---- streaming Kaplan–Meier (SurvivalStream): the SAME curve,
    //      served from a (t, d, c) cell state folded over three
    //      subject micro-batches — cells are a monoid, so the state
    //      hash-matches the one-shot oracle (shared with
    //      q_evt_kaplan_meier; the ConformalStream contract) ----
    "q_stream_kaplan_meier" -> Q(kaplanMeierOracle) { (s, dir) =>
      val tmp = Scratch.dir("graft_survstream_")
      val statePath = s"${tmp.getPath}/km_cells"
      val subj = survivalSubjects(s, dir)
      (0 to 2).foreach { i =>
        graft.streaming.SurvivalStream.applyBatch(
          subj.filter(pmod(col("user_id"), lit(3)) === i), "dur_h", "ev",
          statePath)
      }
      graft.streaming.SurvivalStream.readCurve(s, statePath)
        .select(col("t"), col("n_risk"), col("d"), col("c"),
          round(col("survival"), 6).as("survival"))
        .orderBy("t")
    },

    // ---- competing-risks cumulative incidence (Survival.
    //      cumulativeIncidence): conversion (first purchase, cause 1)
    //      vs churn (first error, cause 2) from signup — whichever
    //      fires first wins the subject (purchase on an exact tie);
    //      naive per-cause KM would overstate both risks. Aalen–
    //      Johansen increments Ŝ(t⁻)·d_k/n over the all-cause curve ----
    "q_evt_cum_incidence" -> Q(
      s"""WITH $competingSubjectsCte,
        |$cifGridCtes
        |SELECT t, cause, n_risk, d, round(cif, 6) AS cif
        |FROM cifg ORDER BY cause, t""".stripMargin) { (s, dir) =>
      Survival.cumulativeIncidence(competingSubjects(s, dir), "dur_h",
          "cause")
        .withColumn("cif", round(col("cif"), 6))
        .orderBy("cause", "t")
    },

    // ---- CIF with its uncertainty (Survival.cumulativeIncidenceCi):
    //      the Greenwood analogue for competing risks — the Gaynor/
    //      Marubini–Valsecchi delta-method variance of the
    //      Aalen–Johansen estimate, expanded into cumulative windows
    //      (never O(T²)), with the log(−log) 95% band on 1 − F̂. The
    //      single-cause reduction to Greenwood and the O(T²) direct
    //      formula are spec-pinned (SurvivalSpec); this gate proves
    //      cross-engine reproducibility of the windowed expansion ----
    "q_evt_cif_ci" -> Q(
      s"""WITH $competingSubjectsCte,
        |$cifGridCtes,
        |terms AS (SELECT *,
        |    CASE WHEN d_all > 0 AND d_all < n_risk
        |      THEN CAST(d_all AS DOUBLE)
        |           / (CAST(n_risk AS DOUBLE) * CAST(n_risk - d_all AS DOUBLE))
        |      ELSE 0.0 END AS ta,
        |    CAST(d AS DOUBLE) * s_prev
        |      / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)) AS td,
        |    s_prev * s_prev * CAST(d AS DOUBLE) * CAST(n_risk - d AS DOUBLE)
        |      / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)
        |         * CAST(n_risk AS DOUBLE)) AS tg
        |  FROM cifg),
        |cum AS (SELECT t, cause, n_risk, d, cif, dead,
        |    sum(ta) OVER w AS ca, sum(ta * cif) OVER w AS cb,
        |    sum(ta * cif * cif) OVER w AS cc2, sum(td) OVER w AS cd,
        |    sum(td * cif) OVER w AS ce, sum(tg) OVER w AS cg
        |  FROM terms
        |  WINDOW w AS (PARTITION BY cause ORDER BY t
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |fin AS (SELECT t, cause, n_risk, d, cif, dead,
        |    CASE WHEN dead = 0 THEN greatest(
        |      cif * cif * ca - 2.0 * cif * cb + cc2 + cg
        |        - 2.0 * (cif * cd - ce), 0.0) END AS var_cif
        |  FROM cum)
        |SELECT t, cause, n_risk, d, round(cif, 6) AS cif,
        |  round(var_cif, 8) + 0.0 AS var_cif,
        |  round(CASE WHEN dead = 0 AND cif > 0.0 AND cif < 1.0
        |    THEN 1.0 - pow(1.0 - cif, exp(-1.959963984540054
        |         * (sqrt(var_cif) / ((1.0 - cif) * abs(ln(1.0 - cif))))))
        |    END, 6) + 0.0 AS ci_lo,
        |  round(CASE WHEN dead = 0 AND cif > 0.0 AND cif < 1.0
        |    THEN 1.0 - pow(1.0 - cif, exp(1.959963984540054
        |         * (sqrt(var_cif) / ((1.0 - cif) * abs(ln(1.0 - cif))))))
        |    END, 6) + 0.0 AS ci_hi
        |FROM fin ORDER BY cause, t""".stripMargin) { (s, dir) =>
      Survival.cumulativeIncidenceCi(competingSubjects(s, dir), "dur_h",
          "cause")
        .select(col("t"), col("cause"), col("n_risk"), col("d"),
          round(col("cif"), 6).as("cif"),
          (round(col("var_cif"), 8) + lit(0.0)).as("var_cif"),
          (round(col("ci_lo"), 6) + lit(0.0)).as("ci_lo"),
          (round(col("ci_hi"), 6) + lit(0.0)).as("ci_hi"))
        .orderBy("cause", "t")
    },

    // ---- per-arm Kaplan–Meier curves (Survival.kaplanMeierByGroup):
    //      the side-by-side survival plot behind the q_evt_logrank
    //      test — risk prefixes via the arm-keyed prefixScan (duration
    //      blocks shared across arms), survival windows partitioned by
    //      arm ----
    "q_evt_km_by_group" -> Q(
      s"""WITH $survivalSubjectsCte,
        |g AS (SELECT dur_h, ev,
        |             CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END AS grp
        |      FROM subj),
        |k0 AS (SELECT grp, dur_h AS t, CAST(sum(ev) AS BIGINT) AS d,
        |              CAST(count(*) - sum(ev) AS BIGINT) AS c,
        |              CAST(count(*) AS BIGINT) AS n_at
        |       FROM g GROUP BY 1, 2),
        |tot AS (SELECT grp, CAST(sum(n_at) AS BIGINT) AS total
        |        FROM k0 GROUP BY grp),
        |k1 AS (SELECT k0.grp, t, d, c,
        |         CAST(tot.total - coalesce(sum(n_at) OVER (PARTITION BY k0.grp ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |       FROM k0 JOIN tot ON tot.grp = k0.grp)
        |SELECT grp, t, n_risk, d, c,
        |  round(CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |                  OVER (PARTITION BY grp ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |        THEN 0.0
        |        ELSE exp(sum(CASE WHEN d > 0 AND d < n_risk
        |                      THEN ln(CAST(n_risk - d AS DOUBLE)) - ln(CAST(n_risk AS DOUBLE))
        |                      ELSE 0.0 END)
        |                 OVER (PARTITION BY grp ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |        END, 6) AS survival
        |FROM k1 ORDER BY grp, t""".stripMargin) { (s, dir) =>
      val subj = survivalSubjects(s, dir)
        .withColumn("grp",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a")
            .otherwise("arm_b"))
      Survival.kaplanMeierByGroup(subj, "dur_h", "ev", "grp")
        .withColumn("survival", round(col("survival"), 6))
        .orderBy("grp", "t")
    },

    // ---- Weibull fit of the conversion curve (Survival.weibullFit):
    //      ln(−ln Ŝ) = k·ln t − k·ln λ at event times — is the
    //      signup→purchase hazard rising (k > 1) or exponential? ----
    "q_evt_weibull" -> Q(
      s"""WITH $survivalSubjectsCte,
        |$kmCurveCte,
        |pts AS (SELECT ln(CAST(t AS DOUBLE)) AS x, ln(-ln(survival)) AS y
        |        FROM km
        |        WHERE d > 0 AND t > 0 AND survival > 0.0 AND survival < 1.0),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
        |              sum(x) AS sx, sum(y) AS sy,
        |              sum(x * y) AS sxy, sum(x * x) AS sxx
        |       FROM pts)
        |SELECT n_points,
        |  round(CASE WHEN n_points >= 2
        |              AND CAST(n_points AS DOUBLE) * sxx - sx * sx > 0.0
        |              AND CAST(n_points AS DOUBLE) * sxy - sx * sy <> 0.0
        |        THEN (CAST(n_points AS DOUBLE) * sxy - sx * sy)
        |             / (CAST(n_points AS DOUBLE) * sxx - sx * sx) END, 6) AS shape,
        |  round(CASE WHEN n_points >= 2
        |              AND CAST(n_points AS DOUBLE) * sxx - sx * sx > 0.0
        |              AND CAST(n_points AS DOUBLE) * sxy - sx * sy <> 0.0
        |        THEN exp(-((sy - (CAST(n_points AS DOUBLE) * sxy - sx * sy)
        |                         / (CAST(n_points AS DOUBLE) * sxx - sx * sx) * sx)
        |                   / CAST(n_points AS DOUBLE))
        |                 / ((CAST(n_points AS DOUBLE) * sxy - sx * sy)
        |                    / (CAST(n_points AS DOUBLE) * sxx - sx * sx))) END, 6) AS scale
        |FROM ag""".stripMargin) { (s, dir) =>
      Survival.weibullFit(survivalSubjects(s, dir), "dur_h", "ev")
        .select(col("n_points"),
          round(col("shape"), 6).as("shape"),
          round(col("scale"), 6).as("scale"))
    },

    // ---- Cox proportional hazards (Survival.coxPh): does overall
    //      activity level (total events div 10) multiply the
    //      signup→purchase hazard? One corpus pass to the (t, x) cell
    //      grid, driver-side Newton (8 iterations + a closing
    //      information sweep); the oracle UNROLLS the same iterations
    //      as generated CTEs ----
    "q_evt_cox_ph" -> Q(coxOracle) { (s, dir) =>
      val act = tb(s, dir).events.groupBy("user_id")
        .agg(expr("count(*) div 10").as("x"))
      val subj = survivalSubjects(s, dir).join(act, "user_id")
      Survival.coxPh(subj, "dur_h", "ev", "x")
        .select(col("n"), col("n_events"),
          round(col("beta"), 6).as("beta"),
          round(col("se"), 6).as("se"),
          round(col("z"), 6).as("z"))
    },

    // ---- two-covariate Cox (Survival.coxPh2): does activity level
    //      still multiply the hazard AFTER adjusting for engagement
    //      breadth (distinct event types)? Same cell-grid + driver
    //      Newton design with the exact 2x2 information solve; the
    //      oracle unrolls all 8 vector iterations as generated CTEs ----
    "q_evt_cox_ph2" -> Q(cox2Oracle) { (s, dir) =>
      val act = tb(s, dir).events.groupBy("user_id")
        .agg(expr("count(*) div 10").as("x1"),
          countDistinct("event_type").as("x2"))
      val subj = survivalSubjects(s, dir).join(act, "user_id")
      Survival.coxPh2(subj, "dur_h", "ev", "x1", "x2")
        .select(col("n"), col("n_events"),
          round(col("beta1"), 6).as("beta1"),
          round(col("se1"), 6).as("se1"),
          round(col("z1"), 6).as("z1"),
          round(col("beta2"), 6).as("beta2"),
          round(col("se2"), 6).as("se2"),
          round(col("z2"), 6).as("z2"))
    },

    // ---- Schoenfeld proportional-hazards diagnostic (Survival.
    //      schoenfeldPh): after the q_evt_cox_ph fit, does the
    //      activity covariate's hazard ratio actually stay constant
    //      over time? Per event time the aggregated residual
    //      s_t − d_t·x̄(β̂,t) plus the residual-vs-time OLS slope and
    //      Pearson correlation; the oracle rides the SAME unrolled-
    //      Newton chain as coxOracle (shared coxChainCtes) and gates
    //      its rows on the cv.ok convergence verdict, so a
    //      non-converged fit is ZERO rows on BOTH sides ----
    "q_evt_ph_check" -> Q(
      s"""WITH $survivalSubjectsCte,
        |$coxChainCtes,
        |res AS (SELECT gf.t, gf.dt, gf.st, gf.r1 / gf.r AS xbar,
        |               gf.st - gf.dt * gf.r1 / gf.r AS resid
        |        FROM gf),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |              sum(CAST(t AS DOUBLE)) AS sx, sum(resid) AS sy,
        |              sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS sxx,
        |              sum(resid * resid) AS syy,
        |              sum(CAST(t AS DOUBLE) * resid) AS sxy
        |       FROM res)
        |SELECT r.t, CAST(r.dt AS BIGINT) AS d, CAST(r.st AS BIGINT) AS s_obs,
        |  round(r.xbar, 6) AS xbar,
        |  round(r.resid, 6) + 0.0 AS resid,
        |  round(CASE WHEN m >= 2 AND m * sxx - sx * sx > 0.0
        |        THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END, 6)
        |    + 0.0 AS slope,
        |  round(CASE WHEN m >= 2 AND m * sxx - sx * sx > 0.0
        |              AND m * syy - sy * sy > 0.0
        |        THEN (m * sxy - sx * sy)
        |             / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
        |        END, 6) + 0.0 AS corr
        |FROM res r CROSS JOIN ag
        |WHERE (SELECT ok FROM cv)
        |ORDER BY r.t""".stripMargin) { (s, dir) =>
      val act = tb(s, dir).events.groupBy("user_id")
        .agg(expr("count(*) div 10").as("x"))
      val subj = survivalSubjects(s, dir).join(act, "user_id")
      Survival.schoenfeldPh(subj, "dur_h", "ev", "x")
        .select(col("t"), col("d"), col("s_obs"),
          round(col("xbar"), 6).as("xbar"),
          (round(col("resid"), 6) + lit(0.0)).as("resid"),
          (round(col("slope"), 6) + lit(0.0)).as("slope"),
          (round(col("corr"), 6) + lit(0.0)).as("corr"))
        .orderBy("t")
    },

    // ---- two-covariate Schoenfeld diagnostic (Survival.
    //      schoenfeldPh2): after the q_evt_cox_ph2 fit, does EACH
    //      covariate's hazard ratio stay constant over time? Per event
    //      time BOTH aggregated residuals s_j,t − d_t·x̄_j(β̂,t) with
    //      per-covariate trend slope/corr — a fading effect on one
    //      covariate flags that covariate only. The oracle rides the
    //      SAME unrolled-Newton chain as cox2Oracle (shared
    //      cox2ChainCtes) and gates on cv.ok, so a non-converged fit
    //      is ZERO rows on BOTH sides ----
    "q_evt_ph2_check" -> Q(
      s"""WITH $survivalSubjectsCte,
        |$cox2ChainCtes,
        |res AS (SELECT gf.t, gf.dt, gf.st1, gf.st2,
        |               gf.ra1 / gf.r AS xbar1, gf.ra2 / gf.r AS xbar2,
        |               gf.st1 - gf.dt * gf.ra1 / gf.r AS resid1,
        |               gf.st2 - gf.dt * gf.ra2 / gf.r AS resid2
        |        FROM gf),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |              sum(CAST(t AS DOUBLE)) AS sx,
        |              sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS sxx,
        |              sum(resid1) AS sy1, sum(resid1 * resid1) AS syy1,
        |              sum(CAST(t AS DOUBLE) * resid1) AS sxy1,
        |              sum(resid2) AS sy2, sum(resid2 * resid2) AS syy2,
        |              sum(CAST(t AS DOUBLE) * resid2) AS sxy2
        |       FROM res)
        |SELECT r.t, CAST(r.dt AS BIGINT) AS d,
        |  CAST(r.st1 AS BIGINT) AS s1_obs,
        |  round(r.xbar1, 6) AS xbar1,
        |  round(r.resid1, 6) + 0.0 AS resid1,
        |  CAST(r.st2 AS BIGINT) AS s2_obs,
        |  round(r.xbar2, 6) AS xbar2,
        |  round(r.resid2, 6) + 0.0 AS resid2,
        |  round(CASE WHEN m >= 2 AND m * sxx - sx * sx > 0.0
        |        THEN (m * sxy1 - sx * sy1) / (m * sxx - sx * sx) END, 6)
        |    + 0.0 AS slope1,
        |  round(CASE WHEN m >= 2 AND m * sxx - sx * sx > 0.0
        |              AND m * syy1 - sy1 * sy1 > 0.0
        |        THEN (m * sxy1 - sx * sy1)
        |             / sqrt((m * sxx - sx * sx) * (m * syy1 - sy1 * sy1))
        |        END, 6) + 0.0 AS corr1,
        |  round(CASE WHEN m >= 2 AND m * sxx - sx * sx > 0.0
        |        THEN (m * sxy2 - sx * sy2) / (m * sxx - sx * sx) END, 6)
        |    + 0.0 AS slope2,
        |  round(CASE WHEN m >= 2 AND m * sxx - sx * sx > 0.0
        |              AND m * syy2 - sy2 * sy2 > 0.0
        |        THEN (m * sxy2 - sx * sy2)
        |             / sqrt((m * sxx - sx * sx) * (m * syy2 - sy2 * sy2))
        |        END, 6) + 0.0 AS corr2
        |FROM res r CROSS JOIN ag
        |WHERE (SELECT ok FROM cv)
        |ORDER BY r.t""".stripMargin) { (s, dir) =>
      val act = tb(s, dir).events.groupBy("user_id")
        .agg(expr("count(*) div 10").as("x1"),
          countDistinct("event_type").as("x2"))
      val subj = survivalSubjects(s, dir).join(act, "user_id")
      Survival.schoenfeldPh2(subj, "dur_h", "ev", "x1", "x2")
        .select(col("t"), col("d"), col("s1_obs"),
          round(col("xbar1"), 6).as("xbar1"),
          (round(col("resid1"), 6) + lit(0.0)).as("resid1"),
          col("s2_obs"),
          round(col("xbar2"), 6).as("xbar2"),
          (round(col("resid2"), 6) + lit(0.0)).as("resid2"),
          (round(col("slope1"), 6) + lit(0.0)).as("slope1"),
          (round(col("corr1"), 6) + lit(0.0)).as("corr1"),
          (round(col("slope2"), 6) + lit(0.0)).as("slope2"),
          (round(col("corr2"), 6) + lit(0.0)).as("corr2"))
        .orderBy("t")
    },

    // ---- Nelson–Aalen cumulative hazard (Survival.nelsonAalen):
    //      H(t) = Σ d/n with variance Σ d/n² — the hazard-scale
    //      companion curve (a straight line = constant risk) ----
    "q_evt_nelson_aalen" -> Q(
      s"""WITH $survivalSubjectsCte,
        |$kmRiskCte
        |SELECT t, n_risk, d, c,
        |  round(sum(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_hazard,
        |  round(sum(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)))
        |        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS var_hazard
        |FROM km1 ORDER BY t""".stripMargin) { (s, dir) =>
      Survival.nelsonAalen(survivalSubjects(s, dir), "dur_h", "ev")
        .select(col("t"), col("n_risk"), col("d"), col("c"),
          round(col("cum_hazard"), 6).as("cum_hazard"),
          round(col("var_hazard"), 9).as("var_hazard"))
        .orderBy("t")
    },

    // ---- restricted mean survival time (Survival.rmst): mean
    //      hours-to-purchase within the first 10 days — the bounded
    //      summary that exists even when the censored tail never
    //      converges; area under the KM step curve at τ = 240h ----
    "q_evt_rmst" -> Q(
      s"""WITH $survivalSubjectsCte,
        |$kmCurveCte,
        |nx AS (SELECT t, survival, lead(t) OVER (ORDER BY t) AS nxt,
        |              d, c FROM km),
        |hd AS (SELECT CAST(min(t) AS BIGINT) AS tmin,
        |              CAST(sum(d + c) AS BIGINT) AS n FROM km),
        |ar AS (SELECT coalesce(sum(survival
        |                 * CAST(least(coalesce(nxt, 240), 240) - t AS DOUBLE)), 0.0) AS area
        |       FROM nx WHERE t < 240)
        |SELECT CAST(240 AS BIGINT) AS tau, hd.n,
        |  round(CAST(least(hd.tmin, 240) AS DOUBLE) + ar.area, 6) AS rmst
        |FROM hd, ar""".stripMargin) { (s, dir) =>
      Survival.rmst(survivalSubjects(s, dir), "dur_h", "ev", tau = 240L)
        .withColumn("rmst", round(col("rmst"), 6))
    },

    // ---- two-cohort log-rank test (Survival.logRank): did the A/B
    //      experiment arms (user-id parity assignment — the testdata's
    //      signups all land in one 11-day burst, so a calendar cohort
    //      collapses to one group) convert to purchase on different
    //      time-to-event curves? Exact risk-set integers;
    //      Mantel–Haenszel moments mirrored term for term ----
    "q_evt_logrank" -> Q(
      s"""WITH $survivalSubjectsCte,
        |g AS (SELECT dur_h, ev,
        |             CASE WHEN user_id % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END AS grp
        |      FROM subj),
        |h AS (SELECT min(grp) AS group_a, max(grp) AS group_b,
        |             CAST(arg_min(cnt, grp) AS BIGINT) AS n_a,
        |             CAST(arg_max(cnt, grp) AS BIGINT) AS n_b
        |      FROM (SELECT grp, count(*) AS cnt FROM g GROUP BY grp)),
        |vc AS (SELECT dur_h AS t,
        |         CAST(sum(CASE WHEN grp = (SELECT group_a FROM h) THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(sum(CASE WHEN grp = (SELECT group_b FROM h) THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |         CAST(sum(CASE WHEN grp = (SELECT group_a FROM h) THEN ev ELSE 0 END) AS BIGINT) AS da,
        |         CAST(sum(CASE WHEN grp = (SELECT group_b FROM h) THEN ev ELSE 0 END) AS BIGINT) AS db
        |       FROM g GROUP BY dur_h),
        |p AS (SELECT t, na, nb, da, db,
        |        CAST((SELECT n_a FROM h) - coalesce(sum(na) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS r1,
        |        CAST((SELECT n_b FROM h) - coalesce(sum(nb) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS r2
        |      FROM vc),
        |terms AS (SELECT da, db,
        |            CASE WHEN da + db > 0
        |              THEN CAST(da AS DOUBLE)
        |                - CAST(da + db AS DOUBLE) * CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE)
        |              ELSE 0.0 END AS ome,
        |            CASE WHEN da + db > 0 AND r1 + r2 > 1
        |              THEN CAST(da + db AS DOUBLE)
        |                   * (CAST(r1 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
        |                   * (CAST(r2 AS DOUBLE) / CAST(r1 + r2 AS DOUBLE))
        |                   * (CAST(r1 + r2 AS DOUBLE) - CAST(da + db AS DOUBLE))
        |                   / (CAST(r1 + r2 AS DOUBLE) - 1.0)
        |              ELSE 0.0 END AS var_t
        |          FROM p)
        |SELECT h.group_a, h.group_b, h.n_a, h.n_b,
        |  CAST(sum(terms.da) AS BIGINT) AS d_a,
        |  CAST(sum(terms.db) AS BIGINT) AS d_b,
        |  round(sum(terms.ome), 6) AS o_minus_e,
        |  round(sum(terms.var_t), 6) AS var_sum,
        |  round(CASE WHEN sum(terms.var_t) > 0.0
        |        THEN sum(terms.ome) / sqrt(sum(terms.var_t)) END, 6) AS z
        |FROM terms, h
        |GROUP BY h.group_a, h.group_b, h.n_a, h.n_b""".stripMargin) { (s, dir) =>
      val subj = survivalSubjects(s, dir)
        .withColumn("grp",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a").otherwise("arm_b"))
      Survival.logRank(subj, "dur_h", "ev", "grp")
        .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
          col("d_a"), col("d_b"),
          round(col("o_minus_e"), 6).as("o_minus_e"),
          round(col("var_sum"), 6).as("var_sum"),
          round(col("z"), 6).as("z"))
    }
  )

  /** Right-censored time-to-conversion subjects, shared by the two
    * survival queries: hours (floor) from each user's first signup to
    * their first purchase at-or-after it; users who never purchase are
    * censored at their LAST observed event of any type (ev = 0). The
    * hour quantization is the Survival duration contract — it bounds
    * the curve frame by the time grid.
    */
  private def survivalSubjects(s: SparkSession, dir: String): DataFrame = {
    val ev = tb(s, dir).events
    val s0 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t0"))
    val pur = ev.filter(col("event_type") === "purchase")
      .join(s0, "user_id")
      .filter(unix_micros(col("ts")) >= unix_micros(col("t0")))
      .groupBy("user_id").agg(min("ts").as("tp"))
    val fin = ev.groupBy("user_id").agg(max("ts").as("tl"))
    s0.join(pur, Seq("user_id"), "left").join(fin, "user_id")
      .select(col("user_id"), col("t0"),
        expr("(unix_micros(coalesce(tp, tl)) - unix_micros(t0)) div 3600000000")
          .as("dur_h"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("ev"))
  }

  /** Product-limit survival over `(t, d, n_risk)` rows: 0 from the
    * first time all at risk fail, else exp Σ ln((n − d)/n) up to t —
    * the select item `survival` shared by the Kaplan–Meier curve and
    * the competing-risks all-cause curve.
    */
  private def productLimitSurvival: String =
    """  CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
      |            OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
      |  THEN 0.0
      |  ELSE exp(sum(CASE WHEN d > 0 AND d < n_risk
      |                THEN ln(CAST(n_risk - d AS DOUBLE)) - ln(CAST(n_risk AS DOUBLE))
      |                ELSE 0.0 END)
      |           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |  END AS survival""".stripMargin

  /** The risk sets over `subj` as CTE bodies `km0`/`km1`:
    * `km1(t, d, c, n_risk)` per distinct duration.
    */
  private def kmRiskCte: String =
    """km0 AS (SELECT dur_h AS t, CAST(sum(ev) AS BIGINT) AS d,
      |               CAST(count(*) - sum(ev) AS BIGINT) AS c,
      |               CAST(count(*) AS BIGINT) AS n_at
      |        FROM subj GROUP BY dur_h),
      |km1 AS (SELECT t, d, c,
      |          CAST((SELECT count(*) FROM subj)
      |               - coalesce(sum(n_at) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      |        FROM km0)""".stripMargin

  /** The KM curve over `subj` as CTE bodies `km0`/`km1`/`km` —
    * `km(t, d, c, n_risk, survival)` with survival UNROUNDED (each
    * consumer rounds at its own output).
    */
  private def kmCurveCte: String =
    s"""$kmRiskCte,
      |km AS (SELECT t, d, c, n_risk,
      |$productLimitSurvival
      |FROM km1)""".stripMargin

  /** The one-shot Kaplan–Meier oracle, shared by q_evt_kaplan_meier
    * and q_stream_kaplan_meier: the streaming cell fold is
    * bit-identical to one-shot counting by the monoid contract, so ONE
    * SQL replay gates both faces (the conformalOracle convention).
    */
  private def kaplanMeierOracle: String =
    s"""WITH $survivalSubjectsCte,
       |$kmCurveCte
       |SELECT t, n_risk, d, c, round(survival, 6) AS survival
       |FROM km ORDER BY t""".stripMargin

  /** The Cox oracle: Newton–Raphson UNROLLED as generated CTEs — b0 =
    * 0, eight g_i/b_{i+1} update pairs mirroring the engine's
    * U(β)/I(β) algebra (risk sets as per-x suffix counts materialized
    * at event times via an ordered-limit probe), then one final g
    * evaluation at b8 for the standard error, exactly as the engine's
    * closing sweep. Newton converges to a fixed point, so summation-
    * order drift between the engine's sweep and SQL's unordered sums
    * dies at the answer (round ,6).
    */
  /** The shared 1-covariate Cox CTE chain (subjects → cell grid →
    * unrolled Newton to b8 → closing evaluation gf → score/information
    * fi → convergence verdict cv), used by both [[coxOracle]] and the
    * Schoenfeld PH-check oracle. cv.ok mirrors the ENGINE's
    * convergence criterion exactly — |U(β̂)/I(β̂)| ≤ 1e-8·(1+|β̂|) with
    * finite, positive information (multiplied through to avoid a
    * division whose zero-denominator semantics differ by engine) — so
    * a slow-converging fixture at a new scale NULLs/empties BOTH sides
    * together instead of failing the gate as engine-NULL vs
    * oracle-number (r12 advice).
    */
  private def coxChainCtes: String = {
    // every beta reference is a single CROSS JOIN and every iteration
    // CTE is MATERIALIZED: scalar (SELECT beta FROM b_i) subqueries
    // re-inline the whole upstream chain per reference — 3 per g × 8
    // levels blew up 3⁸ inlined parquet scans ("too many open files")
    def g(i: Int, name: String): String =
      s"""$name AS MATERIALIZED (SELECT e.t, e.dt, e.st,
         |  sum(coalesce(ra.rcnt, 0) * exp(b.beta * ra.x)) AS r,
         |  sum(coalesce(ra.rcnt, 0) * ra.x * exp(b.beta * ra.x)) AS r1,
         |  sum(coalesce(ra.rcnt, 0) * ra.x * ra.x * exp(b.beta * ra.x)) AS r2
         |FROM evt e JOIN riskat ra ON ra.t = e.t CROSS JOIN b$i b
         |GROUP BY e.t, e.dt, e.st)""".stripMargin
    val iters = (0 until 8).map { i =>
      s"""${g(i, s"g$i")},
         |b${i + 1} AS MATERIALIZED (SELECT b.beta
         |  + sum(st - dt * r1 / r) / sum(dt * (r2 / r - (r1 / r) * (r1 / r))) AS beta
         |FROM g$i CROSS JOIN b$i b GROUP BY b.beta)""".stripMargin
    }.mkString(",\n")
    s"""aq AS (SELECT user_id, CAST(count(*) // 10 AS BIGINT) AS x
       |       FROM events GROUP BY user_id),
       |cox AS MATERIALIZED (SELECT s.dur_h AS t, a.x,
       |               CAST(count(*) AS BIGINT) AS cnt,
       |               CAST(sum(s.ev) AS BIGINT) AS d
       |        FROM subj s JOIN aq a ON a.user_id = s.user_id GROUP BY 1, 2),
       |evt AS MATERIALIZED (SELECT t, CAST(sum(d) AS BIGINT) AS dt,
       |               CAST(sum(x * d) AS BIGINT) AS st
       |        FROM cox GROUP BY t HAVING sum(d) > 0),
       |riskat AS MATERIALIZED (SELECT e.t, c.x, CAST(sum(c.cnt) AS BIGINT) AS rcnt
       |           FROM evt e JOIN cox c ON c.t >= e.t GROUP BY e.t, c.x),
       |b0 AS (SELECT 0.0 AS beta),
       |$iters,
       |${g(8, "gf")},
       |fi AS (SELECT sum(st - dt * r1 / r) AS uf,
       |              sum(dt * (r2 / r - (r1 / r) * (r1 / r))) AS i2 FROM gf),
       |cv AS (SELECT b.beta, fi.i2,
       |         (isfinite(fi.uf) AND isfinite(fi.i2) AND fi.i2 > 0.0
       |          AND isfinite(b.beta)
       |          AND abs(fi.uf) <= 1e-8 * (1.0 + abs(b.beta)) * fi.i2) AS ok
       |       FROM fi CROSS JOIN b8 b)""".stripMargin
  }

  private def coxOracle: String =
    s"""WITH $survivalSubjectsCte,
       |$coxChainCtes
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM subj) AS n,
       |  (SELECT CAST(sum(ev) AS BIGINT) FROM subj) AS n_events,
       |  round(CASE WHEN ok THEN beta END, 6) AS beta,
       |  round(CASE WHEN ok THEN 1.0 / sqrt(i2) END, 6) AS se,
       |  round(CASE WHEN ok THEN beta / (1.0 / sqrt(i2)) END, 6) AS z
       |FROM cv""".stripMargin

  /** The two-covariate Cox oracle — [[coxOracle]]'s unrolled-Newton
    * pattern lifted to the vector case: b0 = (0, 0), eight
    * g_i/s_i/b_{i+1} triples computing the risk moments, the score
    * (u1, u2) + information (i11, i12, i22), and the closed-form 2×2
    * solve b + I⁻¹U, then a final moment evaluation at b8 for the
    * standard errors se_j = √((I⁻¹)_jj) — exactly the engine's
    * closing sweep. Same MATERIALIZED discipline (scalar re-inlining
    * blew up exponentially in the 1-covariate version).
    */
  private def cox2Oracle: String =
    s"""WITH $survivalSubjectsCte,
       |$cox2ChainCtes
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM subj) AS n,
       |  (SELECT CAST(sum(ev) AS BIGINT) FROM subj) AS n_events,
       |  round(CASE WHEN ok THEN b1 END, 6) AS beta1,
       |  round(CASE WHEN ok THEN sqrt(i22 / det) END, 6) AS se1,
       |  round(CASE WHEN ok THEN b1 / sqrt(i22 / det) END, 6) AS z1,
       |  round(CASE WHEN ok THEN b2 END, 6) AS beta2,
       |  round(CASE WHEN ok THEN sqrt(i11 / det) END, 6) AS se2,
       |  round(CASE WHEN ok THEN b2 / sqrt(i11 / det) END, 6) AS z2
       |FROM cv""".stripMargin

  /** The shared two-covariate unrolled-Newton chain (everything up to
    * the convergence verdict `cv`, with the final moment evaluation
    * `gf` in scope) — split out of [[cox2Oracle]] in r14 exactly as
    * [[coxChainCtes]] was split for q_evt_ph_check, so the
    * q_evt_ph2_check residuals ride the SAME fit the q_evt_cox_ph2
    * estimates come from.
    */
  private def cox2ChainCtes: String = {
    def g(i: Int, name: String): String =
      s"""$name AS MATERIALIZED (SELECT e.t, e.dt, e.st1, e.st2,
         |  sum(coalesce(ra.rcnt, 0) * exp(b.b1 * ra.x1 + b.b2 * ra.x2)) AS r,
         |  sum(coalesce(ra.rcnt, 0) * ra.x1 * exp(b.b1 * ra.x1 + b.b2 * ra.x2)) AS ra1,
         |  sum(coalesce(ra.rcnt, 0) * ra.x2 * exp(b.b1 * ra.x1 + b.b2 * ra.x2)) AS ra2,
         |  sum(coalesce(ra.rcnt, 0) * ra.x1 * ra.x1 * exp(b.b1 * ra.x1 + b.b2 * ra.x2)) AS raa,
         |  sum(coalesce(ra.rcnt, 0) * ra.x1 * ra.x2 * exp(b.b1 * ra.x1 + b.b2 * ra.x2)) AS rab,
         |  sum(coalesce(ra.rcnt, 0) * ra.x2 * ra.x2 * exp(b.b1 * ra.x1 + b.b2 * ra.x2)) AS rbb
         |FROM evt2 e JOIN riskat2 ra ON ra.t = e.t CROSS JOIN b$i b
         |GROUP BY e.t, e.dt, e.st1, e.st2)""".stripMargin
    val iters = (0 until 8).map { i =>
      s"""${g(i, s"g$i")},
         |cs$i AS MATERIALIZED (SELECT b.b1 AS b1, b.b2 AS b2,
         |  sum(st1 - dt * ra1 / r) AS u1, sum(st2 - dt * ra2 / r) AS u2,
         |  sum(dt * (raa / r - (ra1 / r) * (ra1 / r))) AS i11,
         |  sum(dt * (rab / r - (ra1 / r) * (ra2 / r))) AS i12,
         |  sum(dt * (rbb / r - (ra2 / r) * (ra2 / r))) AS i22
         |FROM g$i CROSS JOIN b$i b GROUP BY b.b1, b.b2),
         |b${i + 1} AS MATERIALIZED (SELECT
         |  b1 + (i22 * u1 - i12 * u2) / (i11 * i22 - i12 * i12) AS b1,
         |  b2 + (i11 * u2 - i12 * u1) / (i11 * i22 - i12 * i12) AS b2
         |FROM cs$i)""".stripMargin
    }.mkString(",\n")
    s"""aq2 AS (SELECT user_id, CAST(count(*) // 10 AS BIGINT) AS x1,
       |               CAST(count(DISTINCT event_type) AS BIGINT) AS x2
       |        FROM events GROUP BY user_id),
       |cox2 AS MATERIALIZED (SELECT s.dur_h AS t, a.x1, a.x2,
       |               CAST(count(*) AS BIGINT) AS cnt,
       |               CAST(sum(s.ev) AS BIGINT) AS d
       |        FROM subj s JOIN aq2 a ON a.user_id = s.user_id
       |        GROUP BY 1, 2, 3),
       |evt2 AS MATERIALIZED (SELECT t, CAST(sum(d) AS BIGINT) AS dt,
       |               CAST(sum(x1 * d) AS BIGINT) AS st1,
       |               CAST(sum(x2 * d) AS BIGINT) AS st2
       |        FROM cox2 GROUP BY t HAVING sum(d) > 0),
       |riskat2 AS MATERIALIZED (SELECT e.t, c.x1, c.x2,
       |               CAST(sum(c.cnt) AS BIGINT) AS rcnt
       |           FROM evt2 e JOIN cox2 c ON c.t >= e.t
       |           GROUP BY e.t, c.x1, c.x2),
       |b0 AS (SELECT 0.0 AS b1, 0.0 AS b2),
       |$iters,
       |${g(8, "gf")},
       |fi AS (SELECT
       |  sum(st1 - dt * ra1 / r) AS uf1, sum(st2 - dt * ra2 / r) AS uf2,
       |  sum(dt * (raa / r - (ra1 / r) * (ra1 / r))) AS i11,
       |  sum(dt * (rab / r - (ra1 / r) * (ra2 / r))) AS i12,
       |  sum(dt * (rbb / r - (ra2 / r) * (ra2 / r))) AS i22
       |FROM gf),
       |cv AS (SELECT b.b1, b.b2, fi.i11, fi.i22,
       |         fi.i11 * fi.i22 - fi.i12 * fi.i12 AS det,
       |         (isfinite(fi.uf1) AND isfinite(fi.uf2)
       |          AND isfinite(fi.i11) AND isfinite(fi.i12)
       |          AND isfinite(fi.i22) AND isfinite(b.b1) AND isfinite(b.b2)
       |          AND fi.i11 * fi.i22 - fi.i12 * fi.i12 > 0.0
       |          AND abs(fi.i22 * fi.uf1 - fi.i12 * fi.uf2)
       |              <= 1e-8 * (1.0 + abs(b.b1))
       |                 * (fi.i11 * fi.i22 - fi.i12 * fi.i12)
       |          AND abs(fi.i11 * fi.uf2 - fi.i12 * fi.uf1)
       |              <= 1e-8 * (1.0 + abs(b.b2))
       |                 * (fi.i11 * fi.i22 - fi.i12 * fi.i12)) AS ok
       |       FROM fi CROSS JOIN b8 b)""".stripMargin
  }

  /** Competing-risks subjects: cause 1 = first purchase at-or-after
    * signup, cause 2 = first error at-or-after signup — whichever
    * fires FIRST wins the subject (purchase on an exact timestamp
    * tie); neither → censored (cause 0) at the last observed event.
    */
  private def competingSubjects(s: SparkSession, dir: String): DataFrame = {
    val ev = tb(s, dir).events
    val s0 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t0"))
    def firstOf(kind: String, as: String) =
      ev.filter(col("event_type") === kind)
        .join(s0, "user_id")
        .filter(unix_micros(col("ts")) >= unix_micros(col("t0")))
        .groupBy("user_id").agg(min("ts").as(as))
    val fin = ev.groupBy("user_id").agg(max("ts").as("tl"))
    val purWins = col("tp").isNotNull &&
      (col("te").isNull || unix_micros(col("tp")) <= unix_micros(col("te")))
    s0.join(firstOf("purchase", "tp"), Seq("user_id"), "left")
      .join(firstOf("error", "te"), Seq("user_id"), "left")
      .join(fin, "user_id")
      .select(col("user_id"),
        when(purWins, 1L).when(col("te").isNotNull, 2L).otherwise(0L)
          .as("cause"),
        expr("(unix_micros(CASE WHEN tp IS NOT NULL AND (te IS NULL OR unix_micros(tp) <= unix_micros(te)) THEN tp WHEN te IS NOT NULL THEN te ELSE tl END) - unix_micros(t0)) div 3600000000")
          .as("dur_h"))
  }

  /** The DuckDB mirror of [[competingSubjects]] (CTE body `csub` plus
    * its feeders).
    */
  /** The shared (t, cause) CIF grid as CTE bodies over `csub` —
    * `cifg(t, cause, n_risk, d_all, d, s_prev, dead, cif)` with cif
    * UNROUNDED (each consumer rounds at its own output); the SQL
    * mirror of [[graft.llm.Survival]]'s private cifGrid, shared by
    * q_evt_cum_incidence and q_evt_cif_ci so the point estimate and
    * its variance cannot drift apart.
    */
  private def cifGridCtes: String =
    s"""cr0 AS (SELECT dur_h AS t,
      |          CAST(sum(CASE WHEN cause > 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |          CAST(sum(CASE WHEN cause = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |          CAST(count(*) AS BIGINT) AS n_at
      |        FROM csub GROUP BY dur_h),
      |cr1 AS (SELECT t, d, c,
      |          CAST((SELECT count(*) FROM csub)
      |               - coalesce(sum(n_at) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      |        FROM cr0),
      |crs AS (SELECT t, d, n_risk,
      |$productLimitSurvival
      |FROM cr1),
      |crl AS (SELECT t, d AS d_all, n_risk,
      |          coalesce(lag(survival) OVER (ORDER BY t), 1.0) AS s_prev
      |        FROM crs),
      |ck AS (SELECT DISTINCT cause FROM csub WHERE cause > 0),
      |dkc AS (SELECT dur_h AS t, cause, CAST(count(*) AS BIGINT) AS d
      |        FROM csub WHERE cause > 0 GROUP BY 1, 2),
      |cgrid AS (SELECT crl.t, ck.cause, crl.n_risk, crl.d_all,
      |            CAST(coalesce(dkc.d, 0) AS BIGINT) AS d, crl.s_prev
      |          FROM crl CROSS JOIN ck
      |          LEFT JOIN dkc ON dkc.t = crl.t AND dkc.cause = ck.cause),
      |cifg AS (SELECT t, cause, n_risk, d_all, d, s_prev,
      |    max(CASE WHEN d_all = n_risk THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY cause ORDER BY t
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
      |    sum(CASE WHEN d > 0
      |          THEN s_prev * CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
      |          ELSE 0.0 END)
      |      OVER (PARTITION BY cause ORDER BY t
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cif
      |  FROM cgrid)""".stripMargin

  private def competingSubjectsCte: String =
    """cs0 AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
      |        FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |cpur AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS tp
      |         FROM events e JOIN cs0 ON cs0.user_id = e.user_id
      |         WHERE e.event_type = 'purchase'
      |           AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= epoch_us(cs0.t0)
      |         GROUP BY e.user_id),
      |cerr AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS te
      |         FROM events e JOIN cs0 ON cs0.user_id = e.user_id
      |         WHERE e.event_type = 'error'
      |           AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= epoch_us(cs0.t0)
      |         GROUP BY e.user_id),
      |cfin AS (SELECT user_id, max(CAST(ts AS TIMESTAMP)) AS tl
      |         FROM events GROUP BY user_id),
      |csub AS (SELECT cs0.user_id,
      |           CASE WHEN cpur.tp IS NOT NULL
      |                     AND (cerr.te IS NULL OR epoch_us(cpur.tp) <= epoch_us(cerr.te)) THEN 1
      |                WHEN cerr.te IS NOT NULL THEN 2 ELSE 0 END AS cause,
      |           CAST((epoch_us(CASE WHEN cpur.tp IS NOT NULL
      |                                    AND (cerr.te IS NULL OR epoch_us(cpur.tp) <= epoch_us(cerr.te)) THEN cpur.tp
      |                               WHEN cerr.te IS NOT NULL THEN cerr.te
      |                               ELSE cfin.tl END) - epoch_us(cs0.t0)) // 3600000000 AS BIGINT) AS dur_h
      |         FROM cs0 LEFT JOIN cpur ON cpur.user_id = cs0.user_id
      |              LEFT JOIN cerr ON cerr.user_id = cs0.user_id
      |              JOIN cfin ON cfin.user_id = cs0.user_id)""".stripMargin

  /** The DuckDB mirror of [[survivalSubjects]] (CTE bodies `s0`, `pur`,
    * `fin`, `subj`).
    */
  private def survivalSubjectsCte: String =
    """s0 AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
      |       FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |pur AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS tp
      |        FROM events e JOIN s0 ON s0.user_id = e.user_id
      |        WHERE e.event_type = 'purchase'
      |          AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= epoch_us(s0.t0)
      |        GROUP BY e.user_id),
      |fin AS (SELECT user_id, max(CAST(ts AS TIMESTAMP)) AS tl
      |        FROM events GROUP BY user_id),
      |subj AS (SELECT s0.user_id, s0.t0,
      |           CAST((epoch_us(coalesce(pur.tp, fin.tl)) - epoch_us(s0.t0)) // 3600000000 AS BIGINT) AS dur_h,
      |           CAST(pur.tp IS NOT NULL AS BIGINT) AS ev
      |         FROM s0 LEFT JOIN pur ON pur.user_id = s0.user_id
      |              JOIN fin ON fin.user_id = s0.user_id)""".stripMargin

  /** The split-conformal threshold + coverage oracle, shared by
    * q_stat_conformal and q_stream_conformal: the streaming cell fold
    * is bit-identical to one-shot counting by the monoid contract, so
    * ONE SQL replay gates both faces.
    */
  private def conformalOracle: String =
    s"""WITH v AS (SELECT event_id, event_type AS grp,
         |             CAST(floor(value * 1000.0) AS BIGINT) AS s
         |           FROM events WHERE value IS NOT NULL),
         |cal AS (SELECT * FROM v WHERE ${OracleSql.duckBucket("event_id")} < 32768),
         |tst AS (SELECT * FROM v WHERE ${OracleSql.duckBucket("event_id")} >= 32768),
         |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_cal FROM cal GROUP BY grp),
         |t AS (SELECT grp, n_cal,
         |        CAST((950 * (n_cal + 1) + 999) // 1000 AS BIGINT) AS target_rank
         |      FROM n),
         |r AS (SELECT grp, s,
         |        row_number() OVER (PARTITION BY grp ORDER BY s) AS rn
         |      FROM cal),
         |q AS (SELECT t.grp, t.n_cal, t.target_rank, r.s AS qhat
         |      FROM t LEFT JOIN r ON r.grp = t.grp AND r.rn = t.target_rank)
         |SELECT q.grp, q.n_cal, q.target_rank, q.qhat,
         |  CAST(count(*) AS BIGINT) AS n_test,
         |  CAST(sum(CASE WHEN q.qhat IS NULL OR tt.s <= q.qhat
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |  round(CAST(sum(CASE WHEN q.qhat IS NULL OR tt.s <= q.qhat
         |                 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE), 6) AS coverage
         |FROM tst tt JOIN q ON q.grp = tt.grp
         |GROUP BY q.grp, q.n_cal, q.target_rank, q.qhat
         |ORDER BY q.grp""".stripMargin
}

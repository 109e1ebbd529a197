package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Two paths:
  *  - brute-force cosine top-k: the QUERY set is broadcast (it's small);
  *    the corpus streams once. Cost O(|Q|·|C|·d) flops but only one
  *    corpus scan, no corpus-side shuffle. The baseline and the recall
  *    oracle.
  *  - LSH (random hyperplane): 8 deterministic ±1 hyperplanes hash each
  *    vector to an 8-bit bucket; candidates form only inside a bucket
  *    (expected |C|/256 per bucket), then exact cosine re-ranks. This is
  *    the 100 TB path: bucketing is a map-side pass + one bucket-keyed
  *    join, never all-pairs.
  *
  * Dot products run in double via zip_with/aggregate ([[dot]]). A
  * codegen'd dot-product expression was MEASURED against it on the
  * |Q|·|C| scoring join at sf0.1 (d=64, best of 3 warm reps): 0.21s HOF
  * vs 0.27s native at 400k pairs, parity within noise at 2M pairs — the
  * join machinery dominates at d=64, so only the builtin is kept. The
  * one native dot loop is CellTable.Group.sims, behind the centroid
  * kernels.
  */
object Ann {

  /** Σ a[i]·b[i] in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k: for each query vector, the k corpus
    * vectors with highest cosine. Ranking uses round(cos,4) with id
    * tiebreak so results are stable across engines/ULP.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    // norms are per-vector: compute them once per side BEFORE the join,
    // not per (q, c) pair after it (|Q|·|C| re-computations saved)
    val q = normed(queries, idCol, vecCol, "q")
    val c = normed(corpus, idCol, vecCol, "c")
    cosineRank(c.join(broadcast(q), col("q_id") =!= col("c_id")), k)
  }

  /** (<p>_id, <p>_vec, <p>_nrm): one side of a cosine scoring join. */
  private def normed(df: DataFrame, idCol: String, vecCol: String,
                     p: String): DataFrame =
    df.select(col(idCol).as(s"${p}_id"), col(vecCol).as(s"${p}_vec"),
      l2norm(col(vecCol)).as(s"${p}_nrm"))

  /** The shared rank tail of [[cosineTopK]] and [[annTopKLsh]]: scores
    * each [[normed]] (q, c) pair by round(cosine, 4) and keeps the top
    * k per query (id tiebreak), as (q_id, c_id, cosine, rn).
    */
  private def cosineRank(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.withColumn("cosine", round(
      dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("c_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rn"))
  }

  /** Int8-quantized brute-force cosine top-k — the scoring path a
    * memory-bound ANN index actually runs: both sides are quantized with
    * [[Quant.quantizeInt8]] (4× less bandwidth than float32), candidate
    * scoring is the INTEGER dot product of the code arrays, and the
    * quantized cosine qdot / √(‖q‖²·‖c‖²) exists only for ranking.
    * Exactly [[cosineTopK]]'s shape (query side broadcast, one corpus
    * scan, per-side norms precomputed before the join) — only the
    * arithmetic changes. The integer `qdot` rides into the output so
    * correctness checks compare exact integers, not rounded floats.
    * All-zero vectors (quantized norm 0) are excluded from both sides —
    * cosine is undefined for them.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    def side(df: DataFrame, prefix: String) =
      Quant.quantizeInt8(df, vecCol)
        .select(col(idCol).as(s"${prefix}_id"), col("qvec").as(s"${prefix}_q"),
          Quant.qdot(col("qvec"), col("qvec")).as(s"${prefix}_n2"))
        .filter(col(s"${prefix}_n2") > 0)
    val q = side(queries, "q")
    val c = side(corpus, "c")
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("qdot", Quant.qdot(col("q_q"), col("c_q")))
      .withColumn("qcos", round(col("qdot").cast("double") /
        sqrt((col("q_n2") * col("c_n2")).cast("double")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("qcos").desc, col("c_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("qdot"), col("qcos"), col("rn"))
  }

  /** Deterministic ±1 hyperplane table: sign(bit j, dim i) from the
    * parity of the first hex digit of md5("<j>_<i>") — reproducible in
    * any engine with md5 (i is 1-based to match SQL list indexing).
    */
  def hyperplaneSigns(dim: Int, bits: Int): Seq[(Int, Int, Double)] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    for (j <- 0 until bits; i <- 1 to dim) yield {
      val hex = mdt.digest(s"${j}_$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val d = Integer.parseInt(hex.substring(0, 1), 16)
      (j, i, if (d % 2 == 0) 1.0 else -1.0)
    }
  }

  /** Integer-exact ±1-hyperplane projections: one row per (id, j) with
    * `proj` = Σ_i ⌊v_i·1000⌋·sign(j, i) — each FLOAT component is
    * quantized to milli-units BEFORE the signed sum, so the reduction
    * is commutative integer addition and the projection is bit-stable
    * across partition orders AND engines (a float dot product's sum
    * order is not). The 1-d shadows behind sliced-Wasserstein /
    * per-direction KS embedding drift: distribution change in the
    * vector space shows up in its random 1-d projections
    * (Cramér–Wold), and 1-d lets the exact ECDF machinery
    * ([[graft.llm.RankStats]]) run at full scale. Same md5-parity
    * hyperplanes as [[lshBuckets]] — reproducible in any engine.
    * Vector length must equal `dim` exactly and raises otherwise: the
    * sign-table inner join would silently DROP components past dim
    * (and zero-pad short vectors), computing the drift statistic on
    * truncated projections with no error.
    */
  def intProjections(df: DataFrame, idCol: String, vecCol: String,
                     dim: Int = 64, dirs: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val signs = hyperplaneSigns(dim, dirs).toDF("j", "i", "sign")
    val checked = when(size(col(vecCol)) =!= dim,
      raise_error(concat(lit("intProjections: vector length "),
        size(col(vecCol)).cast("string"), lit(s" != dim $dim"))))
      .otherwise(col(vecCol))
    df.select(col(idCol), posexplode(checked).as(Seq("p", "v")))
      .withColumn("i", col("p") + 1).drop("p")
      .join(broadcast(signs), "i")
      .groupBy(col(idCol), col("j"))
      .agg(sum(floor(col("v").cast("double") * 1000.0) *
        col("sign").cast("long")).as("proj"))
  }

  /** 8-bit LSH bucket per vector: bucket = Σ_j [dot(v, h_j) > 0]·2^j —
    * the one-table [[lshBucketsMulti]] (same planes, same bit weights).
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 dim: Int = 64, bits: Int = 8): DataFrame =
    lshBucketsMulti(df, idCol, vecCol, dim, bits, tables = 1)
      .drop("table_id")

  /** Multi-table LSH buckets: `tables` independent signatures of `bits`
    * hyperplanes each (hyperplane j of table t is global plane
    * t*bits + j). Output one row per (id, table_id). Shorter signatures +
    * OR across tables is the standard recall lever: single-probe match
    * probability per table is p^bits, overall 1-(1-p^bits)^tables.
    * One posexplode + broadcast join + two aggregations — map-side
    * heavy, shuffles only (id, j) partials.
    */
  def lshBucketsMulti(df: DataFrame, idCol: String, vecCol: String,
                      dim: Int = 64, bits: Int = 4, tables: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val signs = hyperplaneSigns(dim, bits * tables).toDF("j", "i", "sign")
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("p", "v")))
      .withColumn("i", col("p") + 1).drop("p")
      .join(broadcast(signs), "i")
      .groupBy(col(idCol), col("j"))
      .agg(sum(col("v").cast("double") * col("sign")).as("dot_j"))
      .withColumn("table_id", (col("j") / bits).cast("int"))
      .withColumn("bit",
        when(col("dot_j") > 0,
          pow(lit(2.0), col("j") % bits).cast("long")).otherwise(0L))
      .groupBy(col(idCol), col("table_id"))
      .agg(sum("bit").as("bucket"))
  }

  /** LSH-accelerated top-k: candidates share the query's bucket in ANY
    * of the hash tables; exact cosine re-ranks the deduped candidate
    * set. Recall < 1 by construction — measured against [[cosineTopK]]
    * in AnnSpec. The candidate join is bucket-local per table — cost
    * Σ_tables Σ_buckets |bucket|·|q_bucket|, never |C|·|Q|.
    */
  def annTopKLsh(df: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, dim: Int = 64, bits: Int = 4,
                 tables: Int = 4): DataFrame = {
    val buckets = lshBucketsMulti(df, idCol, vecCol, dim, bits, tables)
    // candidate pairs as IDS ONLY — the d-dim vectors do not ride through
    // the bucket join or the dedup shuffle; they re-attach once per side
    // afterwards, with the per-vector norm computed exactly once.
    val qb = buckets.join(queries.select(col(idCol)), Seq(idCol), "left_semi")
      .withColumnRenamed(idCol, "q_id")
    val cands = buckets.withColumnRenamed(idCol, "c_id")
      .join(broadcast(qb), Seq("table_id", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id").dropDuplicates("q_id", "c_id")
    cosineRank(cands
      .join(broadcast(normed(queries, idCol, vecCol, "q")), "q_id")
      .join(normed(df, idCol, vecCol, "c"), "c_id"), k)
  }

  /** Retrieval-quality evaluation: per-query recall@k of an approximate
    * result set against the exact one — the metric every ANN knob
    * (nprobe, tables, cell size) is tuned by. Both inputs are
    * (q_id, c_id, rn) top-k frames (any of [[cosineTopK]] /
    * [[annTopKLsh]] / Ivf.topK / Ivf.knnGraph); rows beyond `k` are
    * ignored so differently-sized frames compare fairly. Exact
    * integers: hits / k in basis points. One semi-join + two counts.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val ex = exact.filter(col("rn") <= k).select("q_id", "c_id")
    val ap = approx.filter(col("rn") <= k).select("q_id", "c_id")
    val hits = ap.join(ex, Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    val truth = ex.groupBy("q_id").agg(count(lit(1)).as("n_true"))
    truth.join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("q_id"), col("n_hits"), col("n_true"),
        expr("n_hits * 10000 div n_true").as("recall_bp"))
  }

  /** Ranking-quality evaluation: per-query nDCG@k of an approximate
    * list against the exact one — recall@k's order-sensitive companion
    * (a list with the right members in the wrong order scores below
    * 1). Relevance is the LINEAR gain `k + 1 − exact_rank` (exact
    * integers — no external judgments needed), discounted by
    * log2(rank + 1); the ideal DCG re-ranks the same gains perfectly,
    * so nDCG = 1 iff the approximate order matches the exact one on
    * the relevant members. Doubles appear only in the final
    * discount/divide — compare after round(, 6), the libm convention.
    */
  def ndcgAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val ex = exact.filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), (lit(k + 1) - col("rn")).as("_gain"))
    val ap = approx.filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("rn").as("_arn"))
    val dcg = ap.join(ex, Seq("q_id", "c_id")) // only relevant docs score
      .groupBy("q_id")
      .agg(sum(col("_gain") / log2(col("_arn") + 1)).as("_dcg"))
    val wi = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("_gain").desc, col("c_id").asc)
    val idcg = ex.withColumn("_irn", row_number().over(wi))
      .groupBy("q_id")
      .agg(sum(col("_gain") / log2(col("_irn") + 1)).as("_idcg"))
    idcg.join(dcg, Seq("q_id"), "left")
      .na.fill(0.0, Seq("_dcg"))
      .select(col("q_id"), round(col("_dcg") / col("_idcg"), 6).as("ndcg"))
  }

  /** Rank-biased overlap at depth k between two ranked lists per
    * query (both in the house (q_id, c_id, rn) shape): per q_id,
    * `n_matched` = items in both top-k, and `rbo` ∈ [0, 1] — the
    * top-weighted prefix-agreement Σ_{d≤k} w_d·(|A_d ∩ B_d|/d) with
    * w_d = p^{d−1}(1−p)/(1−p^k), so identical lists score exactly 1
    * and early agreement counts more than late (Webber et al.'s RBO,
    * truncated at k and normalized over the k evaluated depths). The
    * rank-STABILITY question recall/nDCG don't ask: "do two scoring
    * functions (or an index rebuild) produce the same ordering?",
    * where recall ignores order and nDCG needs one side blessed as
    * truth. `p` in milli-units (the integer contract; 900 ≈ the
    * conventional top-10 emphasis).
    *
    * Shape: the depth sum folds WITHOUT exploding k rows per match —
    * Σ_d w_d·X_d/d regroups by matched item as Σ_m c_m·S(m) with
    * S(m) = Σ_{d=m..k} p^{d−1}/d, a k-row driver table broadcast onto
    * the matches (|queries|·k at most) — one equi-join + one
    * aggregate at any corpus size. Lists follow the house contract:
    * rn unique in 1..k per query, c_id distinct within a list.
    */
  def rboAtK(a: DataFrame, b: DataFrame, k: Int,
             pMilli: Long = 900L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(pMilli >= 1L && pMilli <= 999L,
      s"pMilli must be in [1, 999]: $pMilli")
    val p = pMilli.toDouble / 1000.0
    val spark = a.sparkSession
    import spark.implicits._
    val tails = (1 to k).map { m =>
      var s = 0.0
      for (d <- m to k) s += math.pow(p, d - 1) / d
      (m.toLong, s)
    }.toDF("_m", "_tail")
    val norm = (1.0 - p) / (1.0 - math.pow(p, k))
    val av = a.filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("rn").as("_ra"))
    val bv = b.filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("rn").as("_rb"))
    // an item in both prefixes enters every depth d ≥ its later rank
    val matched = av.join(bv, Seq("q_id", "c_id"))
      .select(col("q_id"), greatest(col("_ra"), col("_rb")).as("_m"))
    val scores = matched.join(broadcast(tails), Seq("_m"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_matched"), sum("_tail").as("_s"))
    // every query from EITHER list gets a row; zero overlap = 0.0
    val qs = av.select("q_id").union(bv.select("q_id")).distinct()
    qs.join(scores, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_matched"))
      .select(col("q_id"), col("n_matched"),
        round(coalesce(col("_s"), lit(0.0)) * norm, 6).as("rbo"))
  }

  /** Mean-reciprocal-rank inputs for label-based retrieval eval: for
    * each query in a ranked candidate list (q_id, c_id, rn), the rank
    * of the FIRST candidate sharing the query's label (the
    * first-relevant-hit convention — MRR is the mean of `rr` over
    * queries). Queries whose list holds no same-label candidate get
    * first_rank = 0, rr = 0.0 (standard: a miss contributes zero).
    *
    * `labels` = (id, label) for every id appearing on either side.
    * Shape: two joins on the bounded ranked list (|queries|·k rows —
    * never corpus-sized) + one min-aggregate on q_id; the label frame
    * joins by id, so at 100 TB this is two co-partitionable equi-joins
    * on a tiny frame, not a corpus scan. rr rides round(6), the libm
    * convention.
    */
  def mrrByLabel(approx: DataFrame, labels: DataFrame, idCol: String,
                 labelCol: String): DataFrame = {
    val lab = labels.select(col(idCol).as("_lid"), col(labelCol).as("_lab"))
    val qLab = lab.select(col("_lid").as("q_id"), col("_lab").as("_qlab"))
    val cLab = lab.select(col("_lid").as("c_id"), col("_lab").as("_clab"))
    // ONE pass over the ranked list: label joins are LEFT (an unlabeled
    // candidate is a non-hit, and a query must appear even when nothing
    // matches) and the first-hit rank is a conditional min — referencing
    // `approx` a second time for the query list would duplicate the
    // caller's whole ranking subtree in the plan
    approx.select("q_id", "c_id", "rn")
      .join(cLab, Seq("c_id"), "left")
      .join(qLab, Seq("q_id"), "left")
      .groupBy("q_id")
      .agg(min(when(col("_qlab") === col("_clab"), col("rn")))
        .cast("long").as("_fr"))
      .select(col("q_id"),
        coalesce(col("_fr"), lit(0L)).as("first_rank"),
        when(col("_fr").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("_fr"), 6)).as("rr"))
  }

  /** Maximal-Marginal-Relevance re-rank of a bounded candidate list:
    * picks `k` results per query, each maximizing
    * λ·rel − (1−λ)·max_sim_to_already_selected — the standard
    * diversity re-rank that keeps a RAG context window from filling
    * with near-duplicates of the same passage. First pick scores
    * λ·rel (no selected set yet); ties break on the smaller c_id.
    *
    * `cands` = (q_id, c_id, rel) — a BOUNDED per-query list (top-N
    * from [[cosineTopK]]/[[annTopKLsh]]), never the corpus: the
    * candidate-pair similarity matrix is |queries|·N² rows and every
    * iteration joins frames of that size, so the unrolled loop is k
    * bounded self-joins of a tiny frame, no corpus pass anywhere.
    * `vectors` supplies the embeddings for the within-list similarity
    * (cosine, round(4), the cross-engine ranking convention; scores
    * round(6)).
    */
  def mmrRerank(cands: DataFrame, vectors: DataFrame, idCol: String,
                vecCol: String, k: Int, lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    val cv = vectors.select(col(idCol).as("c_id"), col(vecCol).as("_v"),
      l2norm(col(vecCol)).as("_nrm"))
    // validate up front, loudly: a candidate with a NULL rel would sort
    // FIRST in the struct-min argmax (NULL struct field orders lowest)
    // while a SQL oracle ranks it last, and a candidate missing its
    // vector row would win rank 1 on rel alone and then silently
    // produce no sims rows — killing every later rank for its query
    // (the chunkSourceStats stance: incomplete metadata is an error)
    val base = cands
      .select(col("q_id"), col("c_id"),
        when(col("rel").isNull, raise_error(concat(
          lit("mmrRerank: NULL rel for candidate "),
          col("c_id").cast("string")))).otherwise(col("rel")).as("rel"))
      .join(cv, Seq("c_id"), "left")
      .withColumn("_v",
        when(col("_v").isNull, raise_error(concat(
          lit("mmrRerank: no vector row for candidate "),
          col("c_id").cast("string")))).otherwise(col("_v")))
    val a = base.select(col("q_id"), col("c_id").as("_ca"),
      col("_v").as("_va"), col("_nrm").as("_na"))
    val b = base.select(col("q_id"), col("c_id").as("_cb"),
      col("_v").as("_vb"), col("_nrm").as("_nb"))
    // one |q|·N² similarity frame reused by every iteration — built
    // (and materialized) only when an iteration will read it
    lazy val sims = a.join(b, Seq("q_id"))
      .filter(col("_ca") =!= col("_cb"))
      .select(col("q_id"), col("_ca"), col("_cb"),
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 4)
          .as("_s"))
      .localCheckpoint(eager = true)
    // 0.0 - x (not unary minus) and the + 0.0 in the score exprs keep
    // -0.0 out of the ordering: Spark's struct-min compares doubles
    // via Double.compare, which puts -0.0 BELOW 0.0 while SQL engines
    // treat them equal — a rounded-to-zero score would tie-break
    // differently across engines otherwise
    def argmax(scored: DataFrame): DataFrame =
      scored.groupBy("q_id")
        .agg(min(struct((lit(0.0) - col("_score")).as("_ns"), col("c_id"),
          col("_score").as("sc"))).as("_w"))
        .select(col("q_id"), col("_w.c_id").as("c_id"),
          col("_w.sc").as("mmr_score"))
    // each pick is eagerly checkpointed (|queries| rows): pick_t's plan
    // references the union of ALL prior picks twice, so un-truncated
    // lineage grows ~3^k plan nodes — a k=15 RAG window would hang the
    // driver in analysis (the btStrengths lesson)
    var selected = argmax(base.select(col("q_id"), col("c_id"),
        (round(lit(lambda) * col("rel"), 6) + lit(0.0)).as("_score")))
      .withColumn("mmr_rank", lit(1L))
      .localCheckpoint(eager = true)
    val picks = scala.collection.mutable.ArrayBuffer(selected)
    for (t <- 2 to k) {
      val selSet = picks.map(_.select("q_id", "c_id")).reduce(_ unionByName _)
      val remaining = base.join(selSet, Seq("q_id", "c_id"), "left_anti")
      // candidate-to-selected sims via pure equi-keys: rename the sim
      // matrix's sides to (candidate, selected) and join on both
      val ms = remaining
        .join(sims.select(col("q_id"), col("_ca").as("c_id"),
          col("_cb").as("_sel"), col("_s")), Seq("q_id", "c_id"))
        .join(selSet.select(col("q_id"), col("c_id").as("_sel")),
          Seq("q_id", "_sel"))
        .groupBy("q_id", "c_id", "rel")
        .agg(max("_s").as("_ms"))
      // 1.0 - lambda computed HERE (not a 0.3-style literal): oracles
      // mirror it as the same (1.0 - λ) expression so both engines
      // start the multiply from the identical double
      val scored = ms.select(col("q_id"), col("c_id"),
        (round(lit(lambda) * col("rel") -
          lit(1.0 - lambda) * col("_ms"), 6) + lit(0.0)).as("_score"))
      val pick = argmax(scored).withColumn("mmr_rank", lit(t.toLong))
        .localCheckpoint(eager = true)
      picks += pick
    }
    picks.reduce(_ unionByName _)
      .select("q_id", "c_id", "mmr_rank", "mmr_score")
  }

  /** Reciprocal-rank fusion of any number of ranked lists — the
    * standard way to combine lexical (BM25) and vector (ANN) retrieval
    * without score calibration: fused(d) = Σ_lists 1/(k0 + rank_d),
    * missing-from-a-list contributes nothing. Inputs are (q_id, c_id,
    * rn) frames; `k0` = 60 is the RRF constant from the original
    * Cormack et al. formulation. Reciprocals are held as EXACT integers
    * in pico-units (`10¹² div (k0 + rank)` — a floating sum's value
    * would depend on partial-aggregation order), so the fused score and
    * its ranking are bit-identical on any engine and any partitioning.
    * Output ranked per query (score desc, c_id asc).
    */
  def rrfFuse(lists: Seq[DataFrame], k0: Int = 60): DataFrame = {
    require(lists.nonEmpty, "no lists to fuse")
    val contrib = lists
      .map(_.select(col("q_id"), col("c_id"),
        expr(s"1000000000000L div (${k0}L + rn)").as("_c")))
      .reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("rrf_pico").desc, col("c_id").asc)
    contrib.groupBy("q_id", "c_id")
      .agg(sum(col("_c")).as("rrf_pico"))
      .withColumn("fused_rank", row_number().over(w))
  }
}

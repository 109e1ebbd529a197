package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-column aggregation primitives: per-group mean pooling
  * (class prototypes / centroid features — the batch face of what
  * [[Ivf]] iterates) and L2 normalization.
  *
  * Mean pooling accumulates QUANTIZED integer micros, not doubles:
  * floating-point addition is not associative, so a double sum's value
  * depends on partial-aggregation order and differs run-to-run on a
  * cluster (and engine-to-engine); Σ floor(v·10⁶) is one exact integer
  * regardless of order — the same trick [[Ivf.recompute]] uses for its
  * centroid means. Shape: one posexplode + one partial/final hash
  * aggregate on (group, dim); d rows per group out.
  */
object EmbeddingOps {

  /** Exact integer accumulation face: one row per (group, dimension)
    * with the quantized component sum and the group size. The mean in
    * micros is `sum_micros / n_vecs` (integer div) — derivable, exact,
    * engine-portable.
    */
  def meanPoolQuantized(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("p", "v")))
      .withColumn("i", col("p") + 1).drop("p")
      .groupBy(col(groupCol), col("i"))
      .agg(sum(floor(col("v").cast("double") * lit(1000000.0d)).cast("long"))
          .as("sum_micros"),
        count(lit(1)).as("n_vecs"))

  /** Assembled per-group mean vector (double, for downstream use where
    * cross-engine bit-equality is not required): dims re-ordered by
    * position via array_sort over (i, m) structs.
    */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    meanPoolQuantized(df, groupCol, vecCol)
      .withColumn("m",
        col("sum_micros").cast("double") / (col("n_vecs") * lit(1000000.0d)))
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("_im"))
      .select(col(groupCol),
        transform(col("_im"), x => x.getField("m")).as("centroid"))

  /** Per-label cohesion diagnostics for a labeled embedding set (the
    * classification-dataset quality check): each label's size and the
    * mean cosine of its members to the label centroid — low cohesion
    * flags mislabeled or noisy classes before training.
    *
    * Centroids come from [[meanPool]] (quantized integer accumulation,
    * order-independent); the centroid table is labels-sized, so it
    * broadcast-joins back to the corpus and the whole operator is one
    * posexplode aggregate + one broadcast join + one final aggregate —
    * no shuffle of the vector column beyond the centroid aggregation.
    * Norms materialize as columns before use (HOF-lambda trap, see
    * [[withL2Normalized]]).
    */
  def labelCohesion(df: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val cent = meanPool(df, labelCol, vecCol)
      .withColumn("_cnrm", Ann.l2norm(col("centroid")))
    df.join(broadcast(cent), Seq(labelCol))
      .withColumn("_vnrm", Ann.l2norm(col(vecCol)))
      .withColumn("_cos",
        Ann.dot(col(vecCol), col("centroid")) / (col("_vnrm") * col("_cnrm")))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("_cos")), 4).as("mean_cos"))
  }

  /** Per-VECTOR mislabel outlier flags — the row-level complement of
    * [[labelCohesion]]'s per-label diagnostic: each vector's cosine to
    * its own label centroid, flagged when it falls under `minCos`
    * (likely mislabeled / noise — prune or re-queue for labeling before
    * training). Same mechanism as cohesion: [[meanPool]] centroids
    * (exact-integer accumulation), labels-sized centroid table
    * broadcast back, one codegen'd dot per row. The cosine is rounded
    * to 4 decimals and the flag compares the ROUNDED value, so the
    * verdict is reproducible cross-engine at that precision.
    */
  def labelOutliers(df: DataFrame, idCol: String, labelCol: String,
                    vecCol: String, minCos: Double): DataFrame = {
    val cent = meanPool(df, labelCol, vecCol)
      .withColumn("_cnrm", Ann.l2norm(col("centroid")))
    df.join(broadcast(cent), Seq(labelCol))
      .withColumn("_vnrm", Ann.l2norm(col(vecCol)))
      .withColumn("cos_centroid",
        round(Ann.dot(col(vecCol), col("centroid")) /
          (col("_vnrm") * col("_cnrm")), 4))
      .withColumn("is_outlier", col("cos_centroid") < lit(minCos))
      .select(col(idCol), col(labelCol), col("cos_centroid"), col("is_outlier"))
  }

  /** Attach an L2-normalized copy of `vecCol` as `outCol`; zero vectors
    * stay zero. The norm is materialized as a real column FIRST so the
    * transform lambda references only an attribute — inlining
    * `l2norm(vec)` in the lambda would re-run the O(d) norm aggregate
    * once per element (the interpreted-HOF O(d²) trap, see
    * [[TextAnalysis.shingles]]).
    */
  def withL2Normalized(df: DataFrame, vecCol: String,
                       outCol: String = "unit_vec"): DataFrame =
    df.withColumn("_nrm", Ann.l2norm(col(vecCol)))
      .withColumn(outCol,
        when(col("_nrm") > 0d,
          transform(col(vecCol), x => x.cast("double") / col("_nrm")))
          .otherwise(transform(col(vecCol), x => lit(0.0d))))
      .drop("_nrm")

  /** Per-dimension quantized sums (milli units): one row per dimension
    * (i 1-based, sx = Σ floor(v·10³), n). The first-moment half of the
    * covariance closed form — MILLI (not the meanPool micros) because
    * [[secondMoments]]' products must fit exact integer algebra:
    * milli² products stay ≤ ~10⁸ per cell and the decimal(38,0) sums
    * never round.
    */
  def dimSums(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    quantizedDims(df, vecCol, dim, "dimSums")
      .groupBy("i")
      .agg(sum(col("xq")).as("sx"),
        sum((col("xq") * col("xq")).cast("decimal(38,0)")).as("sxx"),
        count(lit(1)).as("n"))

  /** The exploded milli-quantized (i, xq) frame both moment aggregates
    * fold.
    */
  private def quantizedDims(df: DataFrame, vecCol: String, dim: Int,
                            op: String): DataFrame =
    df.select(posexplode(checkedVec(df, vecCol, dim, op))
        .as(Seq("p", "v")))
      .select((col("p") + 1).as("i"),
        floor(col("v").cast("double") * lit(1000.0d)).cast("long").as("xq"))

  /** First moments only (sx per dimension) — what [[covarianceMatrix]]
    * needs from the corpus pass; computing dimSums' squares there just
    * to drop them would waste n·d multiplies and a decimal aggregation
    * column (r12 review finding).
    */
  private def firstMoments(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    quantizedDims(df, vecCol, dim, "firstMoments")
      .groupBy("i").agg(sum(col("xq")).as("sx"))

  /** Per-dimension variance and its share of total variance, from the
    * exact first/second moments alone (no d² pass): the collapsed-
    * dimension detector — a dimension hoarding variance share says the
    * space is anisotropic; a near-zero one is dead capacity. Exactness:
    * vnum = n·Sxx − Sx² stays integer (decimal) through the TOTAL, so
    * `share` is one division of two exact decimals — no float sum of
    * per-dimension doubles whose order could differ between engines.
    */
  def varianceShare(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val v = dimSums(df, vecCol, dim)
      .select(col("i"), col("n"),
        (col("n").cast("decimal(38,0)") * col("sxx") -
          col("sx").cast("decimal(38,0)") * col("sx").cast("decimal(38,0)"))
          .as("vnum"))
    // degeneracy guard on the EXACT decimal (never the derived float,
    // the r12 lesson): an all-constant corpus has no shares to report
    val tot = v.agg(
      when(sum(col("vnum")) === lit(0),
        raise_error(lit("varianceShare: zero total variance")))
        .otherwise(sum(col("vnum"))).as("_tr"))
    v.crossJoin(broadcast(tot))
      .select(col("i"),
        round(col("vnum").cast("double") /
          (col("n").cast("double") * col("n").cast("double") *
            lit(1000000.0d)), 6).as("variance"),
        round(col("vnum").cast("double") / col("_tr").cast("double"), 6)
          .as("share"))
  }

  /** Exact upper-triangular second moments of the quantized embedding:
    * one row per dimension pair (i ≤ j, 1-based) with
    * sxy = Σ floor(xᵢ·10³)·floor(xⱼ·10³) in decimal(38,0) and n.
    *
    * Scale shape: each vector emits its d(d+1)/2 products from ONE
    * nested-transform projection (no self-join — a join on the row id
    * would shuffle d·corpus rows), and the explode feeds the map-side
    * partial aggregate in the same stage, so what crosses the wire is
    * d²/2 × partitions partial cells, never d² × corpus. The per-row
    * cost IS d²/2 multiplies — the price of an exact Gram matrix in
    * one pass; cap d to keep the cell frame broadcastable.
    */
  def secondMoments(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 512, s"dim must be in [1, 512], got $dim")
    // r14 optimization: the d(d+1)/2-struct-per-row explode into a
    // decimal hash aggregate is ONE fused moment aggregate
    // (graft.functions.TriMomentsAgg — the CkaMomentsAgg recipe);
    // the cell grid re-materializes by zipping the summed triangle
    // with a literal (i, j) index table. Same exact integer sums
    // (decimal cast preserved on the output), same empty/null-row
    // semantics (null struct → filtered → empty frame).
    val idx = typedLit(for { i <- 1 to dim; j <- i to dim } yield (i.toLong, j.toLong))
    df.select(checkedVec(df, vecCol, dim, "secondMoments").as("_vec"))
      .select(transform(col("_vec"),
        x => floor(x.cast("double") * lit(1000.0d)).cast("long")).as("_q"))
      .agg(graft.functions.TriMomentsAgg.triMoments(col("_q"), dim).as("_m"))
      .filter(col("_m").isNotNull)
      .select(col("_m.n").as("_n"),
        explode(zip_with(idx, col("_m.sums"),
          (ij, s) => struct(ij.getField("_1"), ij.getField("_2"), s)
            .cast("struct<col1:bigint,col2:bigint,col3:bigint>"))).as("c"))
      .select(col("c.col1").as("i"), col("c.col2").as("j"),
        col("c.col3").cast("decimal(38,0)").as("sxy"), col("_n").as("n"))
  }

  /** Population covariance matrix (upper triangle, original units):
    * cov(i,j) = (Sxy/n − Sxᵢ·Sxⱼ/n²)/10⁶ — ONE closed-form double per
    * cell from the exact integer moments, an oracle can mirror term
    * for term. The d-row first-moment frame broadcasts onto the
    * d²/2-cell second-moment frame (both tiny next to the corpus).
    * The collapsed-dimension / dominant-direction health check a
    * learned-embedding store needs before trusting ANN distances.
    */
  def covarianceMatrix(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val m = secondMoments(df, vecCol, dim)
    val s = firstMoments(df, vecCol, dim)
    m.join(broadcast(s.withColumnRenamed("sx", "_sxi")), Seq("i"))
      .join(broadcast(s.select(col("i").as("j"), col("sx").as("_sxj"))),
        Seq("j"))
      .select(col("i"), col("j"), col("n"),
        round(
          (col("sxy").cast("double") / col("n").cast("double") -
            col("_sxi").cast("double") * col("_sxj").cast("double") /
              (col("n").cast("double") * col("n").cast("double"))) /
            lit(1000000.0d), 6).as("cov"))
  }

  /** Linear CKA (centered kernel alignment) between two vector columns
    * over the same rows — "how much of X's geometry does Y preserve?",
    * the representation-damage audit to run before trusting a
    * quantized / truncated / re-trained embedding store:
    *
    *   CKA = ‖Sxy‖²_F / (‖Sxx‖_F · ‖Syy‖_F),  S·· = n·Σ(ab) − Σa·Σb
    *
    * using the UNNORMALIZED centered scatter matrices — every n and
    * every 10³ quantization factor cancels, so no per-cell division
    * ever happens. Each scatter ENTRY is exact decimal integer algebra
    * from the quantized moments; the three Frobenius reductions are
    * the one double layer (entry² at corpus scale exceeds any fixed
    * decimal precision — n⁴·10¹²·d² digits), deterministic per cell
    * with round(,6) absorbing cross-engine summation order on the
    * d²-cell sums (the unigramLogProb stance; CKA ∈ [0, 1], so
    * absolute rounding dominates the 10⁻¹⁵ relative drift). Per-row
    * cost is dx·dy + dx²/2 + dy²/2 multiplies in exactly TWO corpus
    * passes: collected first moments (2·d longs — the bounded-collect
    * stance) shipped back as literal arrays, then one tagged cell
    * aggregate folding all three Frobenius sums — zero joins, no
    * self-join. Output: one row (n, dim_x, dim_y, cka); cka is NULL
    * when either space is constant (zero scatter).
    */
  def linearCka(df: DataFrame, vecColX: String, vecColY: String,
                dimX: Int, dimY: Int): DataFrame = {
    require(dimX >= 1 && dimX <= 512 && dimY >= 1 && dimY <= 512,
      s"dims must be in [1, 512], got ($dimX, $dimY)")
    val dec = "decimal(38,0)"
    // pass 1: BOTH columns' first moments in ONE tagged job, COLLECTED
    // — 2·d longs (the bounded-collect stance: centroid-sized, never
    // corpus-sized). Shipping them back as literal arrays lets pass 2
    // center every scatter cell with an element_at lookup instead of
    // joins — a join-based composition re-evaluated the corpus once
    // per moment frame (9 scans; the pushed-down k filters defeat
    // ReusedExchange), and one collect per column would sneak in a
    // third scan
    val fm = df
      .select(checkedVec(df, vecColX, dimX, "linearCka").as("_vx"),
        checkedVec(df, vecColY, dimY, "linearCka").as("_vy"))
      .select(explode(expr(
        """flatten(array(
          |  transform(_vx, (v, i) -> named_struct('k', 0, 'i', i + 1,
          |    'x', CAST(floor(CAST(v AS DOUBLE) * 1000.0D) AS BIGINT))),
          |  transform(_vy, (v, i) -> named_struct('k', 1, 'i', i + 1,
          |    'x', CAST(floor(CAST(v AS DOUBLE) * 1000.0D) AS BIGINT)))
          |))""".stripMargin)).as("m"))
      .groupBy(col("m.k").as("k"), col("m.i").as("i"))
      .agg(sum(col("m.x")).as("sx"))
      .collect()
      .map(r => (r.getAs[Number]("k").intValue,
        r.getAs[Number]("i").intValue) -> r.getAs[Number]("sx").longValue)
      .toMap
    def firstArr(k: Int, dim: Int): IndexedSeq[Long] =
      IndexedSeq.tabulate(dim)(i => fm.getOrElse((k, i + 1), 0L))
    val (sxArr, syArr) = (firstArr(0, dimX), firstArr(1, dimY))

    // pass 2 (r14 optimization): the three scatter-cell families ride
    // ONE fused moment aggregate (graft.functions.CkaMomentsAgg — a
    // per-row multiply-add loop over an exact integer Long buffer)
    // instead of exploding dx·dy + dx²/2 + dy²/2
    // struct rows per vector through a decimal hash aggregate
    // (measured 10.5 s → sub-second at sf0.1, identical exact-integer
    // moments, centering in BigInteger ≡ the decimal(38,0) algebra,
    // round(,6) absorbing double summation order as documented above)
    df.select(checkedVec(df, vecColX, dimX, "linearCka").as("_vx"),
        checkedVec(df, vecColY, dimY, "linearCka").as("_vy"))
      .select(transform(col("_vx"),
          x => floor(x.cast("double") * lit(1000.0d)).cast("long")).as("_qx"),
        transform(col("_vy"),
          y => floor(y.cast("double") * lit(1000.0d)).cast("long")).as("_qy"))
      .agg(graft.functions.CkaMomentsAgg.ckaMoments(
        col("_qx"), col("_qy"), dimX, dimY, sxArr, syArr).as("_m"))
      .select(col("_m.n").as("n"), lit(dimX.toLong).as("dim_x"),
        lit(dimY.toLong).as("dim_y"),
        when(col("_m.hxx") * col("_m.hyy") > 0.0,
          col("_m.hxy") / sqrt(col("_m.hxx") * col("_m.hyy"))).as("cka"))
  }

  /** Raise on a vector whose length ≠ dim (the intProjections stance):
    * a ragged embedding column would silently mis-pair dimensions.
    */
  private def checkedVec(df: DataFrame, vecCol: String, dim: Int,
                         op: String): Column =
    when(size(col(vecCol)) =!= dim,
      raise_error(concat(lit(s"$op: vector length "),
        size(col(vecCol)).cast("string"), lit(s" != dim $dim"))))
      .otherwise(col(vecCol))

  /** Eigen-decomposition of the collected covariance matrix (driver-
    * side cyclic Jacobi — the matrix is d×d ≤ 512², a bounded collect
    * by the [[secondMoments]] dim cap; the CORPUS never leaves the
    * executors). Returns eigenvalues descending. Spec-verified against
    * hand-diagonalizable matrices; not SQL-expressible, so this face
    * is spec-only (the RegistrySpec stance on non-oracle ops).
    */
  def eigenSpectrum(cov: DataFrame, dim: Int): Array[Double] = {
    val a = Array.ofDim[Double](dim, dim)
    cov.select("i", "j", "cov").collect().foreach { r =>
      val i = r.getLong(0).toInt - 1
      val j = r.getLong(1).toInt - 1
      val v = r.getDouble(2)
      a(i)(j) = v
      a(j)(i) = v
    }
    // cyclic Jacobi: rotate out the largest off-diagonal until converged
    var sweep = 0
    var off = offDiagNorm(a, dim)
    while (off > 1e-12 && sweep < 100) {
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          if (math.abs(a(p)(q)) > 1e-15) rotate(a, dim, p, q)
          q += 1
        }
        p += 1
      }
      off = offDiagNorm(a, dim)
      sweep += 1
    }
    (0 until dim).map(i => a(i)(i)).toArray.sorted(Ordering[Double].reverse)
  }

  private def offDiagNorm(a: Array[Array[Double]], d: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < d) {
      var j = i + 1
      while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }

  private def rotate(a: Array[Array[Double]], d: Int, p: Int, q: Int): Unit = {
    val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
    // sign(0) must be +1: equal diagonal entries need the full 45°
    // rotation, and signum(0.0) = 0 would freeze the sweep as identity
    val sgn = if (theta < 0.0) -1.0 else 1.0
    val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
    val c = 1.0 / math.sqrt(t * t + 1.0)
    val s = t * c
    var k = 0
    while (k < d) {
      val akp = a(k)(p); val akq = a(k)(q)
      a(k)(p) = c * akp - s * akq
      a(k)(q) = s * akp + c * akq
      k += 1
    }
    k = 0
    while (k < d) {
      val apk = a(p)(k); val aqk = a(q)(k)
      a(p)(k) = c * apk - s * aqk
      a(q)(k) = s * apk + c * aqk
      k += 1
    }
  }

  /** Spectral health summary from an eigenvalue array: variance
    * explained by the top-k directions, effective rank
    * exp(−Σ pᵢ ln pᵢ) (Roy & Vetterli), and participation ratio
    * (Σλ)²/Σλ² — the "is this embedding space collapsed?" numbers a
    * release gate reads. Negative eigenvalues (Jacobi noise on a PSD
    * matrix) clamp to zero before normalizing.
    */
  def spectralSummary(eigs: Array[Double], topK: Int): (Double, Double, Double) = {
    require(topK >= 1 && topK <= eigs.length, s"topK out of range: $topK")
    val pos = eigs.map(math.max(_, 0.0))
    val tot = pos.sum
    require(tot > 0.0, "spectralSummary: zero total variance")
    val topShare = pos.take(topK).sum / tot
    val ps = pos.map(_ / tot).filter(_ > 0.0)
    val effRank = math.exp(-ps.map(p => p * math.log(p)).sum)
    val partRatio = tot * tot / pos.map(l => l * l).sum
    (topShare, effRank, partRatio)
  }

  /** Distributed projection onto fixed directions (e.g. the top
    * eigenvectors of [[covarianceMatrix]]): broadcast the (direction,
    * dim, weight) table onto one posexplode — the [[Ann.intProjections]]
    * shape with caller-supplied real-valued directions. Output one row
    * per (id, direction) with the double dot product.
    */
  def project(df: DataFrame, idCol: String, vecCol: String,
              directions: Array[Array[Double]]): DataFrame = {
    require(directions.nonEmpty, "project: no directions")
    val dim = directions.head.length
    require(directions.forall(_.length == dim),
      "project: ragged direction matrix")
    val spark = df.sparkSession
    import spark.implicits._
    val dirRows = directions.zipWithIndex.flatMap { case (v, k) =>
      v.zipWithIndex.map { case (w, i) => (k.toLong, i.toLong + 1L, w) }
    }.toSeq.toDF("k", "i", "w")
    df.select(col(idCol),
        posexplode(checkedVec(df, vecCol, dim, "project")).as(Seq("p", "v")))
      .select(col(idCol), (col("p") + 1L).as("i"), col("v").cast("double").as("v"))
      .join(broadcast(dirRows), Seq("i"))
      .groupBy(col(idCol), col("k"))
      .agg(sum(col("v") * col("w")).as("proj"))
  }

  /** k-NN label purity — the mislabel detector (Confident-Learning
    * flavored, neighborhood-vote form): for each query vector, the
    * fraction of its k nearest corpus neighbors (brute cosine,
    * [[Ann.cosineTopK]]) sharing its label. A vector whose
    * neighborhood out-votes its label (purity below minPurityMilli) is
    * a relabel/review candidate — [[labelOutliers]]' centroid test
    * catches global drift, this catches locally-wrong labels in
    * multi-modal classes where the centroid is meaningless.
    * The suspect flag compares in integers (n_same·1000 <
    * minPurityMilli·n_nbrs — the RETURNED neighbor count, which is
    * below k on corpora smaller than k+1, so purity always ranges the
    * full [0, 1]), never a float threshold.
    */
  def knnLabelPurity(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, labelCol: String, k: Int,
                     minPurityMilli: Int = 500): DataFrame = {
    require(minPurityMilli >= 0 && minPurityMilli <= 1000,
      s"minPurityMilli must be in [0, 1000], got $minPurityMilli")
    val top = Ann.cosineTopK(queries.select(col(idCol), col(vecCol)),
      corpus.select(col(idCol), col(vecCol)), idCol, vecCol, k)
    top
      .join(queries.select(col(idCol).as("q_id"), col(labelCol).as("label")),
        Seq("q_id"))
      .join(corpus.select(col(idCol).as("c_id"), col(labelCol).as("_cl")),
        Seq("c_id"))
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("_cl") === col("label"), 1L).otherwise(0L)).as("n_same"))
      .select(col("q_id"), col("label"), col("n_nbrs"), col("n_same"),
        round(col("n_same").cast("double") / col("n_nbrs").cast("double"), 6)
          .as("purity"),
        (col("n_same") * 1000L < lit(minPurityMilli.toLong) * col("n_nbrs"))
          .as("is_suspect"))
  }
}

package graft.llm

import graft.functions.CellTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding quantization: symmetric per-vector int8, the storage/
  * bandwidth face of similarity search. A 100 TB corpus's float32
  * embedding column shrinks 4x (plus the per-vector scale), which is
  * routinely the difference between an ANN index that fits executor
  * memory and one that doesn't; candidate scoring then runs on int8
  * dot products and only the final re-rank touches float vectors.
  *
  * All pure column algebra over the array column (aggregate/transform
  * HOFs) — a single map-side pass, no shuffle, no UDF. Arithmetic is
  * pinned to double (`CAST(x AS DOUBLE)` before any op) with
  * `floor(x + 0.5)` rounding so every engine computes bit-identical
  * quantized codes (IEEE doubles + floor agree everywhere; `round()`
  * half-even/half-up conventions do not).
  */
object Quant {

  /** Max |component| as a double; 0.0 for empty vectors. HOF note: pass
    * attribute columns only (lambdas re-evaluate embedded expressions
    * per element — see TextAnalysis.shingles).
    */
  def absMax(vec: Column): Column =
    aggregate(vec, lit(0.0d), (acc, x) => greatest(acc, abs(x.cast("double"))))

  /** Quantized codes in [-127, 127]: q_i = floor(v_i * 127 / amax + 0.5)
    * (half-up, computed in double). All-zero vectors (amax = 0) map to
    * all-zero codes rather than dividing by zero.
    */
  def quantize(vec: Column, amax: Column): Column =
    when(amax > 0d,
      transform(vec, x =>
        floor(x.cast("double") * lit(127.0d) / amax + lit(0.5d)).cast("int")))
      .otherwise(transform(vec, x => lit(0)))

  /** Reconstructed doubles: q_i * amax / 127. */
  def dequantize(qvec: Column, amax: Column): Column =
    transform(qvec, q => q.cast("double") * amax / lit(127.0d))

  /** Attach `qvec` (array<int> codes) and `amax` (double, per-vector
    * scale) to the frame. One projection pass; `amax` is materialized
    * as a real column BEFORE the transform lambda references it, so the
    * interpreted HOF body only touches attributes.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("amax", absMax(col(vecCol)))
      .withColumn("qvec", quantize(col(vecCol), col("amax")))

  /** Integer dot product of two code arrays — the int8 ANN scoring
    * primitive (exact integer arithmetic, engine-portable).
    */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, x) => acc + x)

  // ---------------------------------------------------------------------
  // Product quantization (PQ) — the billion-scale ANN compression: the
  // vector splits into `m` contiguous subspaces, each subspace gets its
  // own k-centroid codebook, and a vector stores only its m
  // one-byte-ish cell ids — d·4 bytes become m. Query scoring is ADC
  // (asymmetric distance computation): the query precomputes its
  // distance to every codebook centroid (m·k doubles, broadcast), and a
  // candidate's distance is m table lookups summed — no float vector is
  // ever touched at scan time.
  //
  // The codebooks train like the Ivf quantizers, by the same driver-side
  // Lloyd (Ivf.lloyd) over the same md5-stride sample, with the
  // subspaces as groups and squared L2 as the metric; encoding is the
  // Ivf one-projection assignment over a broadcast CellTable (a
  // `cell_dists` kernel plus the shared fold). Determinism, the Ivf
  // contract: md5-stride seeding with the k smallest surviving ids,
  // quantized-integer centroid means, round(dist, 9) + lowest-cell
  // tiebreak on every argmin, dense per-subspace cell renumbering — the
  // whole fit+encode+search replays as unrolled SQL (q_ann_pq_codes /
  // q_ann_pq_topk).
  // ---------------------------------------------------------------------

  /** Subvector width: the first row's dimension split into `m`
    * subspaces (one probe job). */
  private def subWidth(df: DataFrame, vecCol: String, m: Int): Int = {
    val dim = df.select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim must divide into $m subspaces")
    dim / m
  }

  /** One row per (row, subspace) with the sliced subvector `subvec`. */
  private def subframe(df: DataFrame, vecCol: String, m: Int, w: Int): DataFrame =
    df.withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("subvec", slice(col(vecCol), col("sub") * w + 1, lit(w)))

  /** Squared L2 between the subvector and a codebook centroid,
    * round(, 9) — the argmin compare unit.
    */
  private def subDist(v: Column, c: Column): Column =
    round(aggregate(zip_with(v, c,
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0d), (acc, x) => acc + x), 9)

  /** Train the m per-subspace codebooks: (sub, cell, centroid) — m·k
    * rows, always broadcastable. The training runs on the driver over
    * the md5-stride sample, exactly as [[Ivf.fit]] does: seeds are the
    * k lowest-id sample members on the sample's own stride, each split
    * into its m subvectors, and every sweep is [[Ivf.lloyd]] with the
    * subspaces as groups. A member's subvector that holds a null drops
    * only that subspace's member; a seed that is null or holds a null
    * is refused. A fit costs a dimension probe, a count and one sample
    * collect, whatever `iters` is.
    */
  def pqFit(df: DataFrame, idCol: String, vecCol: String,
            m: Int = 4, k: Int = 16, iters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(m >= 1 && k >= 1 && iters >= 0, "bad pq parameters")
    val w = subWidth(df, vecCol, m)
    // each sample row as its m subvectors (null where the vector is)
    val sample = Ivf.collectSample(df, idCol, vecCol,
        Ivf.sampleStride(df.count(), Ivf.SampleCap)) { v =>
      Array.tabulate(m)(s =>
        if (v == null) null else Ivf.hostVec(v.slice(s * w, (s + 1) * w)))
    }
    val seeds = Ivf.seeds(sample, k)
    val cents = for {
      s <- 0 until m
      (subs, c) <- seeds.zipWithIndex
    } yield {
      require(subs(s) != null, s"pqFit: a seed $vecCol is null or holds a null")
      (s, c, subs(s).toSeq)
    }
    val members = sample.flatMap { case (_, subs) => subs.indices.map(s => (s, subs(s))) }
    Ivf.lloyd(cents, members, iters, CellTable.SquaredL2)
      .toDF("sub", "cell", "centroid")
  }

  /** Encode: each vector's m codebook cells, ordered by subspace. The
    * codebooks are collected once and broadcast; the argmin is one
    * projection ([[Ivf.labelCells]], group = subspace, squared L2),
    * then one groupBy(id) Exchange. A subvector with a null element has
    * no argmin, so its vector gets no code for that subspace.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, m: Int): DataFrame = {
    val sf = subframe(df.select(col(idCol), col(vecCol)), vecCol, m,
      subWidth(df, vecCol, m))
    val rows = codebooks.select(col("sub"), col("cell"), col("centroid"))
      .collect().toIndexedSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    Ivf.labelCells(sf, "subvec", col("sub"), CellTable.broadcast(df.sparkSession, rows),
        "cell", CellTable.SquaredL2)
      .groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cell")))),
        x => x.getField("cell")).as("codes"))
  }

  /** IVF-filtered ADC top-k — the FAISS-style IVFPQ search shape
    * (minus residual encoding, documented simplification): the coarse
    * IVF index prunes candidates to the query's `nprobe` cells, and
    * only those candidates pay the m ADC lookups. Candidate volume is
    * ~nprobe·n/k_ivf per query instead of the whole corpus; the code
    * frame never carries float vectors. Probe rule = Ivf.topK's
    * (round(sim,9) + cell tiebreak); scoring rule = [[pqTopK]]'s.
    */
  def pqTopKIvf(encoded: DataFrame, codebooks: DataFrame,
                queries: DataFrame, index: Ivf.Index,
                idCol: String, vecCol: String, topK: Int, m: Int,
                nprobe: Int = 2): DataFrame = {
    val w = subWidth(queries, vecCol, m)
    val cand = Ivf.probeFlat(queries, index.centroids, idCol, vecCol, nprobe)
      .select(col("q_id"), col("cell"))
      .join(index.assignments.select(col(idCol).as("c_id"), col("cell")),
        Seq("cell"))
      .select("q_id", "c_id")
      .join(encoded.select(col(idCol).as("c_id"),
        posexplode(col("codes")).as(Seq("sub", "pcell"))), "c_id")
    adcTopK(queries.select(col(idCol).as("q_id"), col(vecCol).as("qv")),
      Seq("q_id"), cand, codebooks, m, w, topK)
  }

  /** Residual view for TRUE IVFPQ: each vector minus its assigned
    * coarse-cell centroid, as array<double> — PQ codebooks trained on
    * residuals capture the within-cell structure the coarse quantizer
    * left behind (the accuracy step FAISS's IVFPQ takes over plain
    * PQ). Feed the output's `resid` column to [[pqFit]]/[[pqEncode]].
    */
  def residuals(df: DataFrame, index: Ivf.Index,
                idCol: String, vecCol: String): DataFrame =
    df.join(index.assignments, idCol)
      .join(broadcast(index.centroids), "cell")
      .withColumn("resid",
        zip_with(col(vecCol), col("centroid"),
          (x, y) => x.cast("double") - y))
      .select(col(idCol), col("cell").as("ivf_cell"), col("resid"))

  /** TRUE residual IVFPQ search: candidates prune to the query's
    * `nprobe` coarse cells, and ADC runs on RESIDUALS — the query's
    * distance tables are computed per probed cell from
    * (query − that cell's centroid), matching how the candidates were
    * encoded. Tables are (queries·nprobe·m·k) rows — still broadcast;
    * the corpus contributes its narrow (id, ivf_cell, codes) frame
    * only. Same determinism contract as the whole PQ family.
    */
  def pqTopKIvfResidual(encodedRes: DataFrame, codebooks: DataFrame,
                        queries: DataFrame, index: Ivf.Index,
                        idCol: String, vecCol: String, topK: Int, m: Int,
                        nprobe: Int = 2): DataFrame = {
    val w = subWidth(queries, vecCol, m)
    val qres = Ivf.probeFlat(queries, index.centroids, idCol, vecCol, nprobe)
      .select(col("q_id"), col("cell"), col("q_vec"))
      .join(broadcast(index.centroids), "cell")
      .select(col("q_id"), col("cell").as("ivf_cell"),
        zip_with(col("q_vec"), col("centroid"),
          (x, y) => x.cast("double") - y).as("qv"))
    val cand = encodedRes
      .join(index.assignments.select(col(idCol),
        col("cell").as("ivf_cell")), idCol)
      .select(col(idCol).as("c_id"), col("ivf_cell"),
        posexplode(col("codes")).as(Seq("sub", "pcell")))
    adcTopK(qres, Seq("ivf_cell"), cand, codebooks, m, w, topK)
  }

  /** ADC top-k: queries precompute (sub, cell) → distance tables
    * (broadcast, queries·m·k rows); candidate score = m lookups summed
    * (round(, 6) + id tiebreak). One equi join + one aggregate over the
    * corpus-sized narrow code frame — no float vectors at scan time.
    */
  def pqTopK(encoded: DataFrame, codebooks: DataFrame,
             queries: DataFrame, idCol: String, vecCol: String,
             topK: Int, m: Int): DataFrame = {
    val cand = encoded.select(col(idCol).as("c_id"),
      posexplode(col("codes")).as(Seq("sub", "pcell")))
    adcTopK(queries.select(col(idCol).as("q_id"), col(vecCol).as("qv")),
      Seq.empty, cand, codebooks, m, subWidth(queries, vecCol, m), topK)
  }

  /** The ADC scorer of every PQ search. `qside` holds `q_id`, the
    * query-side `keys` and the vector `qv` its distance tables come
    * from; the tables — (q_id, keys, sub, pcell) → round(L2², 9), m·k
    * rows per query side — are broadcast and joined to the candidates'
    * code rows `cand` (`c_id`, `keys`, `sub`, `pcell`) on keys, sub and
    * pcell. A candidate scores round(Σ, 6) over its m lookups; the top
    * `topK` per query rank adc asc, c_id asc, never the query itself.
    */
  private def adcTopK(qside: DataFrame, keys: Seq[String], cand: DataFrame,
                      codebooks: DataFrame, m: Int, w: Int,
                      topK: Int): DataFrame = {
    val table = subframe(qside, "qv", m, w)
      .join(broadcast(codebooks), "sub")
      .select((("q_id" +: keys).distinct :+ "sub").map(col) ++
        Seq(col("cell").as("pcell"),
          subDist(col("subvec"), col("centroid")).as("_qd")): _*)
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adc").asc, col("c_id").asc)
    cand.join(broadcast(table), keys ++ Seq("sub", "pcell"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy("q_id", "c_id")
      .agg(round(sum(col("_qd")), 6).as("adc"))
      .withColumn("rn", row_number().over(wnd))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col("c_id"), col("adc"), col("rn"))
  }
}

package graft.llm

import graft.functions.{CellKernel, CellTable}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: a coarse k-means quantizer partitions
  * the corpus into cells; a query probes only its `nprobe` nearest cells
  * and re-ranks candidates with the exact cosine. The clustered
  * alternative to the hyperplane-LSH path in [[Ann]] — better when the
  * corpus has natural cluster structure, at the cost of a training pass.
  *
  * Scale: both fits — the flat [[fit]] and the two-level [[fitTwoLevel]]
  * — train on a bounded md5-stride sample collected once to the driver
  * (up to 2·65,536 − 1 vectors by default; the whole corpus below that)
  * and run every Lloyd sweep there ([[lloyd]], which also trains
  * [[Quant.pqFit]]'s codebooks); only the final assignment touches the
  * corpus. Search touches ~nprobe/k of the corpus. Centroids are
  * dimension-sized (k·d doubles) — always broadcastable.
  *
  * Fully deterministic, including across engines:
  *  - seeding filters on the first 4 hex digits of md5(id) (portable —
  *    no engine-specific hash) and keeps the k smallest surviving ids;
  *  - centroid means accumulate QUANTIZED integers — Σ floor(v·10⁶) as
  *    BIGINT (exact, order-independent) with ONE double division at the
  *    end — never a float running sum whose value depends on partial-
  *    aggregation order;
  *  - assignment argmax compares round(sim, 9) with cell-id tiebreak, so
  *    ULP-level differences in the dot product can't flip a cell choice.
  * The same recipe is SQL-expressible; q_ann_ivf_topk carries the full
  * fit+search DuckDB oracle.
  */
object Ivf {

  /** A trained index. `assignments` is cached (every [[topK]] call joins
    * it); call [[Index.unpersist]] when the index is retired — the cache
    * otherwise outlives the queries and crowds executor storage.
    */
  final case class Index(centroids: DataFrame, assignments: DataFrame) {
    def unpersist(): Unit = { assignments.unpersist(); () }
  }

  private val Quantum = 1000000.0 // centroid-mean quantization (1e-6)

  private[llm] val SampleCap = 65536 // default training-sample bound

  // -------------------------------------------------------------------
  // Centroid assignment, one path for every quantizer. Training leaves
  // its centroids on the driver, so they reach the executors as a
  // broadcast [[CellTable]] and the assignment is ONE projection: a
  // [[CellKernel]] (the Ann.dot fold, or the squared-L2 fold for PQ,
  // compiled) plus a scalar fold over round(score, 9). No join, no
  // argmax Exchange, and the plan carries only the broadcast handle, so
  // the task binary stays the same size however large k·d grows.
  // -------------------------------------------------------------------

  /** The one argmax/argmin fold over a [[CellKernel]] result
    * (`struct(cells, scores)`, the per-group scores computed in one
    * compiled loop): the best round(score, 9) by `metric`, highest for
    * cosine and lowest for squared L2, ties to the FIRST (lowest-cell)
    * entry; comparisons follow Spark's double ordering (NaN ranks
    * greatest, so it wins an argmax and loses an argmin); null scores
    * never win, and all-null scores yield null like max_by/min_by over
    * null orderings. `cs` MUST be an attribute column: its two getField
    * references would otherwise re-run the kernel.
    */
  private def bestCell(cs: Column, metric: CellTable.Metric): Column = {
    // CleanupAliases strips names inside lambda bodies, so both structs
    // carry Spark's positional names: col1 = score, col2 = cell
    def s(acc: Column) = acc.getField("col1")
    def c(acc: Column) = acc.getField("col2")
    aggregate(
      zip_with(cs.getField("cells"), cs.getField(metric.field),
        (cc, ss) => struct(round(ss, 9), cc)
          .cast("struct<col1:double,col2:int>")),
      struct(lit(null).cast("double"), lit(null).cast("int")),
      (acc, p) => {
        val v = p.getField("col1")
        val wins = if (metric.highestWins) v > s(acc) else v < s(acc)
        when((c(acc).isNull && v.isNotNull) || wins, p).otherwise(acc)
      },
      acc => c(acc))
  }

  /** A flat quantizer's table rows: every centroid in group 0. */
  private def flat(cents: Seq[(Int, Seq[Double])]): Seq[(Int, Int, Seq[Double])] =
    cents.map { case (cell, c) => (0, cell, c) }

  /** Nearest centroid per row by `metric`: adds `cellCol`, the best cell
    * over the centroid group `grp` of `table`, as an ATTRIBUTE (an
    * expression in the same select as a downstream posexplode would
    * land in the Project ABOVE the Generate and re-run the kernel once
    * per exploded element). Rows with no best cell are dropped: a null
    * vector, a null element, a group absent from the table, or an empty
    * group.
    */
  private[llm] def labelCells(df: DataFrame, vecCol: String, grp: Column,
                              table: Broadcast[CellTable], cellCol: String,
                              metric: CellTable.Metric = CellTable.Cosine): DataFrame =
    df.withColumn("_cs", CellKernel.column(col(vecCol), grp, table, metric))
      .withColumn(cellCol, bestCell(col("_cs"), metric))
      .filter(col(cellCol).isNotNull)
      .drop("_cs")

  /** The first four hex digits of md5(id) as an integer: the portable
    * hash-stride key behind seeding and sampling.
    */
  private def hex4(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long")

  /** Train on the driver over the md5-stride sample ([[trainFlat]]:
    * seeds, then `iters` Lloyd sweeps), then one assignment pass over
    * the corpus, cached as the index's `assignments`. Below
    * 2·65,536 rows the sample is the whole corpus; past that it holds
    * at most 131,071 vectors, as in [[fitTwoLevel]]. A fit costs a
    * count and the sample collect, whatever `iters` is.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String,
          k: Int = 16, iters: Int = 2): Index = {
    val spark = df.sparkSession
    val sample = collectSample(df, idCol, vecCol,
      sampleStride(df.count(), SampleCap))(hostVec)
    val rows = trainFlat(sample, k, iters, s"fit: a seed $vecCol")
    val asg = labelCells(df, vecCol, lit(0), CellTable.broadcast(spark, rows), "cell")
      .select(col(idCol), col("cell"))
    Index(toCentroidDf(spark, rows.map { case (_, cell, c) => (cell, c) }), asg.cache())
  }

  private def toCentroidDf(spark: SparkSession,
                           rows: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("cell", "centroid")
  }

  // -------------------------------------------------------------------
  // Two-level coarse quantizer (r13 verdict, Missing #2): the flat fit
  // is quadratic twice over at a corpus-sized k = n/cellSize — Lloyd
  // assign and probe both compare every vector against all k centroids
  // (n·k = n²/cellSize; measured: a flat fit at k = n/128 killed at
  // 900 s on 200k vectors). The standard IVF fix, both halves:
  //  - SAMPLE-TRAINED Lloyd: centroids are fit on the driver over a
  //    bounded md5-stride sample (< 2·sampleCap vectors), never the full
  //    corpus — training cost is sample-sized regardless of n;
  //  - TWO-LEVEL assign/probe: k1 ≈ √k top cells, each holding its own
  //    k2 ≈ k/k1 sub-quantizer. A vector finds its leaf cell in
  //    k1 + k2 ≈ 2√k comparisons instead of k; a query probes nprobe1
  //    top cells then ranks only their nprobe1·k2 leaves.
  // Per-vector index work is O(√(n/cellSize)) and the graph join stays
  // at the held cell size, so the whole kNN-graph chain is ~n^1.5 with
  // a tiny constant instead of n² — at the sf10 probe the assign term
  // is 16M dot products vs the flat path's 312M. All the determinism
  // rules of the flat path carry over unchanged (round(sim,9) +
  // lowest-cell argmax, quantized integer means, dense renumbering),
  // so the whole fit+probe chain stays DuckDB-replayable.
  // -------------------------------------------------------------------

  /** A trained two-level index. `l1Centroids` is (l1, centroid) — the
    * top-level quantizer; `centroids` is (cell, l1, centroid) — the
    * LEAF cells, globally numbered by (l1, sub) order; `assignments`
    * is (id, cell) over leaf cells, cached like [[Index]].
    */
  final case class Index2(l1Centroids: DataFrame, centroids: DataFrame,
                          assignments: DataFrame) {
    def unpersist(): Unit = { assignments.unpersist(); () }
  }

  /** Train a two-level index sized for the corpus: leaf-cell count
    * k = max(4, n/targetCellSize) split as k1 = ⌈√k⌉ top cells ×
    * k2 = ⌈k/k1⌉ sub-cells. Level 1 is the flat [[fit]]'s training
    * ([[trainFlat]]); level 2 runs the same Lloyd rules per level-1
    * cell over the sample members (seeds: the k2 lowest-id members;
    * assign: argmax over the OWN cell's sub-centroids, round(sim,9) +
    * lowest-sub tiebreak; means: quantized integer sums; dead subs
    * renumbered per cell). A level-1 cell that ends up with no sample
    * members keeps its level-1 centroid as its sole leaf, so every
    * corpus vector always finds a leaf.
    *
    * All of the training runs on the driver, over one sample collect
    * ([[collectSample]] at stride max(1, n/sampleCap); a stride past
    * the hex4 range is refused, [[sampleStride]]), so a fit costs a
    * count, the collect and the final assignment, whatever `iters` is.
    * The corpus is touched by the final assignment alone: two chained
    * projections (level-1 cell, then leaf within it), cached lazily.
    */
  def fitTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                  targetCellSize: Int = 128, iters: Int = 2,
                  sampleCap: Int = 65536): Index2 = {
    require(targetCellSize >= 1, s"targetCellSize must be >= 1: $targetCellSize")
    require(sampleCap >= 4, s"sampleCap must be >= 4: $sampleCap")
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    val k = math.max(4L, n / targetCellSize)
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = ((k + k1 - 1) / k1).toInt
    val sample = collectSample(df, idCol, vecCol, sampleStride(n, sampleCap))(hostVec)
    val l1Rows = trainFlat(sample, k1, iters, s"fitTwoLevel: a seed $vecCol")
    val l1Table = CellTable(l1Rows)

    // level 2: each sample member, in id order, grouped by its level-1
    // cell; seeds are each cell's k2 lowest-id members
    val members = sample.flatMap { case (_, x) =>
      nearestCell(l1Table, 0, x).map(l1 => (l1, x))
    }
    val subRows = lloyd(
      members.groupBy(_._1).toIndexedSeq.sortBy(_._1).flatMap {
        case (l1, ms) => ms.take(k2).zipWithIndex
          .map { case ((_, x), sub) => (l1, sub, x.toSeq) }
      }, members, iters, CellTable.Cosine)

    // fallback: a level-1 cell with no surviving subs keeps its own
    // centroid as the single leaf — total coverage for the full assign
    val covered = subRows.map(_._1).toSet
    val leafRows = (subRows ++ l1Rows.filterNot(r => covered(r._2))
        .map { case (_, l1, c) => (l1, 0, c) })
      .sortBy(t => (t._1, t._2))
    val leafHost = leafRows.zipWithIndex
      .map { case ((l1, _, c), cell) => (cell, l1, c) }

    // hierarchical corpus assign, two chained projections: nearest
    // level-1 cell (k1 comparisons), then nearest leaf within it (group
    // = l1, k2 comparisons, lowest-global-cell tiebreak)
    val leafTable = CellTable.broadcast(spark,
      leafHost.map { case (cell, l1, c) => (l1, cell, c) })
    val asg = labelCells(
        labelCells(df, vecCol, lit(0), spark.sparkContext.broadcast(l1Table), "_l1"),
        vecCol, col("_l1"), leafTable, "cell")
      .select(col(idCol), col("cell"))

    Index2(l1Rows.map { case (_, l1, c) => (l1, c) }.toDF("l1", "centroid"),
      leafHost.toDF("cell", "l1", "centroid"), asg.cache())
  }

  // -------------------------------------------------------------------
  // Driver-side training over a collected sample: the one Lloyd
  // implementation behind the flat fit, both levels of the two-level
  // fit and the PQ codebooks. Each piece keeps the rules the Spark
  // training these replaced ran, bit for bit (the test tree keeps that
  // training as LloydReference):
  //  - hostVec is the vector as labelCells reads it (null vector or null
  //    element: no best cell);
  //  - nearestCell is bestCell over the same CellTable.Group.scores loop
  //    the CellKernel runs;
  //  - hostMeans is the per-cell quantized mean: Σ floor(v·10⁶) as Long,
  //    one division.
  // -------------------------------------------------------------------

  /** A collected `array<double>` as the driver-side training holds it:
    * null for a null vector or one with a null element, the rows
    * [[labelCells]] drops.
    */
  private[llm] def hostVec(v: scala.collection.Seq[java.lang.Double]): Array[Double] =
    if (v == null || v.contains(null)) null else v.iterator.map(_.doubleValue).toArray

  /** The sample stride ss = max(1, n/sampleCap) for an n-row corpus.
    * hex4 has only 65,536 values, so past ss = 65,535 the stride would
    * keep hex4 = 0 alone — about n/65,536 rows, no longer bounded by
    * `sampleCap` — and the driver would collect them all; refuse that.
    */
  private[llm] def sampleStride(n: Long, sampleCap: Int): Long = {
    val ss = math.max(1L, n / sampleCap)
    require(ss <= 65535L,
      s"$n rows at sampleCap $sampleCap give sample stride $ss > 65535, " +
        s"past the hex4 range; a sampleCap >= ${n / 65536 + 1} keeps it inside")
    ss
  }

  /** The md5-stride sample of `df` — rows whose hex4 (the first four hex
    * digits of md5(id) as an integer) is a multiple of `ss` — collected
    * in id order as (hex4, `vec` of the vector cast to array<double>).
    * One exchange into a single sorted partition: the same ascending id
    * order as orderBy, without its range-bounds sampling job. With
    * ss = max(1, n/cap) it holds about n/ss ≤ 2·cap − 1 vectors (md5
    * spreads the ids evenly), all of them on the driver while training:
    * at the default cap, 131,071 vectors, about 64 MB of doubles at
    * d = 64.
    */
  private[llm] def collectSample[T](df: DataFrame, idCol: String, vecCol: String, ss: Long)
                                   (vec: scala.collection.Seq[java.lang.Double] => T)
      : IndexedSeq[(Long, T)] =
    df.filter(hex4(col(idCol)) % ss === 0)
      .repartition(1).sortWithinPartitions(col(idCol))
      .select(hex4(col(idCol)), col(vecCol).cast("array<double>"))
      .collect().toIndexedSeq
      .map(r => (r.getLong(0), vec(r.getSeq[java.lang.Double](1))))

  /** The k seeds of a sample in id order: the lowest-id members whose
    * hex4 is a multiple of the sample's own stride max(1, |sample|/4k),
    * about four candidates per cell spread by md5.
    */
  private[llm] def seeds[T](sample: IndexedSeq[(Long, T)], k: Int): IndexedSeq[T] = {
    val stride = math.max(1L, sample.length / math.max(1, 4 * k))
    sample.iterator.filter(_._1 % stride == 0).take(k).map(_._2).toIndexedSeq
  }

  /** A flat cosine quantizer trained on a sample, as `(0, cell,
    * centroid)` rows: [[seeds]], then `iters` [[lloyd]] sweeps. A seed
    * that is null or holds a null is refused (`seed` names it).
    */
  private def trainFlat(sample: IndexedSeq[(Long, Array[Double])], k: Int,
                        iters: Int, seed: String): IndexedSeq[(Int, Int, Seq[Double])] =
    lloyd(seeds(sample, k).zipWithIndex.map { case (x, i) =>
        require(x != null, s"$seed is null or holds a null")
        (0, i, x.toSeq)
      }, sample.map { case (_, x) => (0, x) }, iters, CellTable.Cosine)

  /** Spark's round(d, 9) for a double: HALF_UP on the decimal form of
    * `d`; NaN and infinities pass through.
    */
  private[llm] def round9(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** [[bestCell]] on the driver: over the group's scores in cell order,
    * the best round(score, 9) by `metric` under Spark's double ordering
    * (NaN greatest), ties to the lowest cell, null scores skipped. None
    * where [[labelCells]] drops the row: a null vector, a group absent
    * from the table, or no non-null score.
    */
  private[llm] def nearestCell(table: CellTable, grp: Int, x: Array[Double],
                               metric: CellTable.Metric = CellTable.Cosine): Option[Int] =
    if (x == null) None
    else table.groups.get(grp).flatMap { g =>
      val scores = g.scores(x, metric)
      var best = -1
      var bestScore = 0.0
      var j = 0
      while (j < scores.length) {
        if (scores(j) != null) {
          val s = round9(scores(j).asInstanceOf[Double])
          val cmp = SQLOrderingUtil.compareDoubles(s, bestScore)
          if (best < 0 || (if (metric.highestWins) cmp > 0 else cmp < 0)) {
            best = j
            bestScore = s
          }
        }
        j += 1
      }
      if (best < 0) None else Some(g.cells.getInt(best))
    }

  /** The per-cell quantized means: per key, per position, Σ floor(v·10⁶)
    * as Long over the members long enough to have that position,
    * divided once by 10⁶·count, so the result is independent of member
    * order. A key whose members are all empty vectors yields no mean.
    */
  private[llm] def hostMeans[K](labelled: Iterable[(K, Array[Double])]): Map[K, Seq[Double]] =
    labelled.groupBy(_._1).flatMap { case (key, ms) =>
      val len = ms.iterator.map(_._2.length).max
      val sums = new Array[Long](len)
      val cnts = new Array[Long](len)
      ms.foreach { case (_, x) =>
        var i = 0
        while (i < x.length) {
          sums(i) = Math.addExact(sums(i), math.floor(x(i) * Quantum).toLong)
          cnts(i) += 1
          i += 1
        }
      }
      if (len == 0) None
      else Some(key -> Array.tabulate(len)(i => sums(i).toDouble / (Quantum * cnts(i))).toSeq)
    }

  /** The one Lloyd sweep, over `(group, cell, centroid)` rows: each
    * `(group, vector)` member takes its group's [[nearestCell]] by
    * `metric`, each cell with members becomes their [[hostMeans]], and
    * surviving cells are renumbered densely per group in cell order.
    * One group is a flat quantizer; the level-1 cells as groups are the
    * two-level fit's level 2; the subspaces as groups are the PQ
    * codebooks.
    */
  private def hostLloydStep(cents: IndexedSeq[(Int, Int, Seq[Double])],
                            members: IndexedSeq[(Int, Array[Double])],
                            metric: CellTable.Metric): IndexedSeq[(Int, Int, Seq[Double])] = {
    val table = CellTable(cents)
    val means = hostMeans(members.flatMap { case (g, x) =>
      nearestCell(table, g, x, metric).map(cell => ((g, cell), x))
    })
    means.toIndexedSeq.groupBy(_._1._1).toIndexedSeq.sortBy(_._1).flatMap {
      case (g, rows) => rows.sortBy(_._1._2).zipWithIndex
        .map { case ((_, m), sub) => (g, sub, m) }
    }
  }

  /** `iters` [[hostLloydStep]] sweeps from the seed rows `cents`. */
  private[llm] def lloyd(cents: IndexedSeq[(Int, Int, Seq[Double])],
                         members: IndexedSeq[(Int, Array[Double])], iters: Int,
                         metric: CellTable.Metric): IndexedSeq[(Int, Int, Seq[Double])] =
    (0 until iters).foldLeft(cents)((c, _) => hostLloydStep(c, members, metric))

  /** [[knnGraph]] over a two-level index: probe nprobe1 level-1 cells
    * (round(sim,9) + lowest-l1 tiebreak), rank only THEIR leaves for
    * the nprobe probe cells (round(sim,9) + lowest-cell tiebreak) —
    * per-query probe work k1 + nprobe1·k2 ≈ O(√k) instead of k. The
    * candidate join and re-rank are identical to the flat path.
    */
  def knnGraph(df: DataFrame, index: Index2, idCol: String, vecCol: String,
               kNeighbors: Int, nprobe: Int, nprobe1: Int): DataFrame =
    graphRank(probeCandidates2(df, index, idCol, vecCol, nprobe, nprobe1),
      kNeighbors)

  /** [[hardNegatives]] over a two-level index — same probe as the
    * two-level [[knnGraph]], same label-mismatch-before-rank rule as
    * the flat path.
    */
  def hardNegatives(df: DataFrame, index: Index2, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    nprobe: Int, nprobe1: Int): DataFrame =
    negativesRank(probeCandidates2(df, index, idCol, vecCol, nprobe, nprobe1),
      df, idCol, labelCol, k)

  /** Corpus-as-queries candidate generator over a two-level index:
    * the [[probeTwoLevel]] probe, then the same shuffle cell equi-join
    * as [[probeCandidates]] (never a probe-side broadcast of the
    * corpus). Leaf probe cells are distinct and members hold one leaf,
    * so each (q, c) pair still arises exactly once.
    */
  private def probeCandidates2(df: DataFrame, index: Index2, idCol: String,
                               vecCol: String, nprobe: Int,
                               nprobe1: Int): DataFrame =
    cellCandidates(corpusSide(df, index.assignments, idCol, vecCol),
      probeTwoLevel(df, index.l1Centroids, index.centroids, idCol, vecCol,
        nprobe, nprobe1))

  /** Public face of the nearest-centroid assignment — (idCol, cell),
    * one row per vector, the same argmax rule as training. The
    * centroids frame is collected to the driver and broadcast as the
    * [[CellKernel]] table; the assignment is one projection over `df`.
    */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame): DataFrame =
    withCells(df, idCol, vecCol, centroids).select(col(idCol), col("cell"))

  /** [[assignCells]] keeping the vector column alongside —
    * (idCol, vecCol, cell) in ONE projection pass with no join back onto
    * the batch: the [[graft.streaming.AnnIndexStream.applyBatch]]
    * ingest shape.
    */
  private[graft] def withCells(df: DataFrame, idCol: String, vecCol: String,
                               centroids: DataFrame): DataFrame = {
    val rows = centroids
      .select(col("cell").cast("int").as("cell"), col("centroid"))
      .collect().toIndexedSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    labelCells(df, vecCol, lit(0),
        CellTable.broadcast(df.sparkSession, flat(rows)), "cell")
      .select(col(idCol), col(vecCol), col("cell"))
  }

  /** Search: probe the `nprobe` nearest cells per query (round(sim,9) +
    * cell tiebreak, same rule as training), exact-cosine re-rank inside
    * them on round(cos,4) + id tiebreak like the other ANN paths. Norms
    * are computed once per vector side, never per candidate pair.
    */
  def topK(df: DataFrame, queries: DataFrame, index: Index,
           idCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame =
    topKAgainst(corpusSide(df, index.assignments, idCol, vecCol), queries,
      index.centroids, idCol, vecCol, k, nprobe)

  /** The ONE implementation of the probe + exact re-rank rules
    * (round(sim,9) + cell tiebreak; round(cos,4) + id tiebreak;
    * self-exclusion; pair-level dedup) against an arbitrary prepared
    * corpus frame `(c_id, c_vec, c_nrm, cell)` — shared bit-for-bit by
    * [[topK]] and the streaming store search
    * ([[graft.streaming.AnnIndexStream.search]]); their DuckDB oracles
    * assume the two never diverge, so neither copy-pastes these rules.
    */
  private[graft] def topKAgainst(corpus: DataFrame, queries: DataFrame,
                                 centroids: DataFrame, idCol: String,
                                 vecCol: String, k: Int,
                                 nprobe: Int): DataFrame =
    rerankProbed(corpus, probeFlat(queries, centroids, idCol, vecCol, nprobe), k)

  /** [[topK]] over a two-level index: the [[probeTwoLevel]] two-stage
    * probe (nprobe1 level-1 cells, nprobe leaves ranked over only those
    * cells' leaves — O(√k) per query instead of k) feeding the SAME
    * candidate dedup + exact re-rank tail as the flat search.
    */
  def topK(df: DataFrame, queries: DataFrame, index: Index2,
           idCol: String, vecCol: String, k: Int, nprobe: Int,
           nprobe1: Int): DataFrame =
    topKAgainst2(corpusSide(df, index.assignments, idCol, vecCol), queries,
      index.l1Centroids, index.centroids, idCol, vecCol, k, nprobe, nprobe1)

  /** The two-level analogue of [[topKAgainst]] against an arbitrary
    * prepared corpus frame `(c_id, c_vec, c_nrm, cell)` — shared by
    * the [[topK]] Index2 face and the streaming store search
    * ([[graft.streaming.AnnIndexStream.searchTwoLevel]]).
    */
  private[graft] def topKAgainst2(corpus: DataFrame, queries: DataFrame,
                                  l1Centroids: DataFrame,
                                  leafCentroids: DataFrame, idCol: String,
                                  vecCol: String, k: Int, nprobe: Int,
                                  nprobe1: Int): DataFrame =
    rerankProbed(corpus, probeTwoLevel(queries, l1Centroids, leafCentroids,
      idCol, vecCol, nprobe, nprobe1), k)

  /** The ONE per-query probe behind every search and candidate face:
    * each query `(q_id, q_vec, q_nrm)` meets the broadcast centroids
    * (only those agreeing on the `on` columns, when given) and keeps its
    * `n` nearest by round(cosine, 9) desc, then `key` asc — the training
    * argmax rule. Returns `(q_id, q_vec, q_nrm, key)`.
    */
  private def probe(queries: DataFrame, centroids: DataFrame, key: String,
                    n: Int, on: Seq[String] = Nil): DataFrame = {
    val cents = broadcast(centroids
      .withColumn("_cn", Ann.l2norm(col("centroid"))))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("_sim").desc, col(key).asc)
    (if (on.isEmpty) queries.join(cents) else queries.join(cents, on))
      .withColumn("_sim", round(
        Ann.dot(col("q_vec"), col("centroid")) / (col("q_nrm") * col("_cn")), 9))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= n)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col(key))
  }

  /** Queries as [[probe]] reads them: `(q_id, q_vec, q_nrm)`. */
  private def querySide(queries: DataFrame, idCol: String,
                        vecCol: String): DataFrame =
    queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      Ann.l2norm(col(vecCol)).as("q_nrm"))

  /** A corpus joined to its cell assignments, as the re-rank reads it:
    * `(c_id, c_vec, c_nrm, cell)`.
    */
  private def corpusSide(df: DataFrame, assignments: DataFrame, idCol: String,
                         vecCol: String): DataFrame =
    df.join(assignments, idCol)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
        Ann.l2norm(col(vecCol)).as("c_nrm"), col("cell"))

  /** The flat probe: each query's `nprobe` nearest cells. */
  private[llm] def probeFlat(queries: DataFrame, centroids: DataFrame,
                             idCol: String, vecCol: String,
                             nprobe: Int): DataFrame =
    probe(querySide(queries, idCol, vecCol), centroids, "cell", nprobe)

  /** The two-level probe: each query's `nprobe1` nearest level-1 cells,
    * then its `nprobe` nearest leaves among only those cells' leaves.
    */
  private def probeTwoLevel(queries: DataFrame, l1Centroids: DataFrame,
                            leafCentroids: DataFrame, idCol: String,
                            vecCol: String, nprobe: Int,
                            nprobe1: Int): DataFrame =
    probe(probe(querySide(queries, idCol, vecCol), l1Centroids, "l1", nprobe1),
      leafCentroids, "cell", nprobe, Seq("l1"))

  /** The ONE candidate-join + dedup + exact-re-rank tail behind every
    * per-query search face (flat, two-level, streaming store), against
    * a prepared corpus `(c_id, c_vec, c_nrm, cell)` and a probed query
    * frame `(q_id, q_vec, q_nrm, cell)`.
    */
  private def rerankProbed(corpus: DataFrame, probed: DataFrame,
                           k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("c_id").asc)
    // pair-level dedup (a store vector re-ingested in a later batch
    // appears once per ingest partition): collapse on max(struct) —
    // DETERMINISTIC across runs, shuffle orders, and compactions,
    // unlike dropDuplicates' keep-arbitrary-first. When the copies are
    // byte-identical (the supported re-ingest case) any rule agrees;
    // if an id was re-ingested with a CHANGED embedding the pick is
    // still stable (greatest vector by array ordering) but which
    // embedding "wins" is undefined — updating a vector requires
    // forget() before re-ingest (the AnnIndexStream update contract).
    // max() is partial-aggregatable, so this map-side combines like
    // the dropDuplicates it replaces.
    corpus.join(broadcast(probed), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy("q_id", "c_id")
      .agg(max(struct(col("c_vec"), col("c_nrm"),
        col("q_vec"), col("q_nrm"))).as("_r"))
      .select(col("q_id"), col("c_id"),
        col("_r.q_vec").as("q_vec"), col("_r.q_nrm").as("q_nrm"),
        col("_r.c_vec").as("c_vec"), col("_r.c_nrm").as("c_nrm"))
      .withColumn("cosine", round(
        Ann.dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rn"))
  }

  /** All-corpus kNN GRAPH over the index — every vector's `kNeighbors`
    * approximate nearest neighbors (the SemDeDup / graph-clustering /
    * diversity-sampling substrate). Same probe rule as [[topK]]
    * (nprobe nearest cells, round(sim,9) + cell tiebreak; re-rank on
    * round(cos,4) + id), but the query side IS the corpus, so the
    * cell join is a plain shuffle equi-join — [[topK]]'s broadcast of
    * the probe side would ship the whole corpus to every task.
    *
    * Each (query, candidate) pair arises exactly once (members hold one
    * cell each, probes are distinct cells), so no dedup pass is needed.
    * Candidate volume is Σ_cell |probers|·|members| ≈ nprobe·n²/k for
    * balanced cells — `k` is the knob that keeps cells (and the per-cell
    * quadratic) bounded as the corpus grows; a skewed k-means fit
    * concentrates cost in its biggest cell, so size k for the corpus,
    * not for recall alone.
    */
  def knnGraph(df: DataFrame, index: Index, idCol: String, vecCol: String,
               kNeighbors: Int, nprobe: Int = 2): DataFrame =
    graphRank(probeCandidates(df, index, idCol, vecCol, nprobe), kNeighbors)

  /** The ONE neighbor-rank tail (round(cos,4) already applied by the
    * candidate generators; rank on cosine desc + id tiebreak) — shared
    * by the flat and two-level graph faces so they cannot diverge.
    */
  private def graphRank(cands: DataFrame, kNeighbors: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("c_id").asc)
    cands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= kNeighbors)
      .select(col("q_id"), col("c_id"), col("cosine"), col("rn"))
  }

  /** Hard-negative mining for contrastive / retriever training: every
    * vector's `k` NEAREST neighbors with a DIFFERENT label — the
    * "looks-identical, labeled-differently" pairs a trainer wants in
    * the batch. Same candidate engine as [[knnGraph]]; the label
    * mismatch filters BEFORE the rank window (ranking first would lose
    * negatives hiding behind same-label near neighbors).
    */
  def hardNegatives(df: DataFrame, index: Index, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    nprobe: Int = 2): DataFrame =
    negativesRank(probeCandidates(df, index, idCol, vecCol, nprobe),
      df, idCol, labelCol, k)

  /** The ONE hard-negative tail — label join, mismatch-BEFORE-rank
    * filter, rank window — shared by the flat and two-level faces.
    */
  private def negativesRank(cands: DataFrame, df: DataFrame, idCol: String,
                            labelCol: String, k: Int): DataFrame = {
    val labels = df.select(col(idCol), col(labelCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("c_id").asc)
    cands
      .join(labels.select(col(idCol).as("q_id"),
        col(labelCol).as("q_label")), "q_id")
      .join(labels.select(col(idCol).as("c_id"),
        col(labelCol).as("c_label")), "c_id")
      .filter(!(col("q_label") <=> col("c_label")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("q_label"), col("c_id"), col("c_label"),
        col("cosine"), col("rn"))
  }

  /** Index-quality diagnostics: per cell, its population and the mean
    * member-to-centroid cosine — the skew/coherence report that decides
    * whether a fit needs more cells (k sized to the corpus) or more
    * iterations before serving traffic. Same broadcast-centroid shape
    * as EmbeddingOps.labelCohesion; round(,4) mean under the usual
    * contract.
    */
  def clusterStats(df: DataFrame, index: Index,
                   idCol: String, vecCol: String): DataFrame =
    statsAgainst(df, index.assignments,
      index.centroids.select("cell", "centroid"), idCol, vecCol)

  /** [[clusterStats]] over a two-level index — per LEAF population and
    * coherence, the report that decides whether a grown corpus needs a
    * [[graft.streaming.AnnIndexStream.refitTwoLevel]].
    */
  def clusterStats(df: DataFrame, index: Index2,
                   idCol: String, vecCol: String): DataFrame =
    statsAgainst(df, index.assignments,
      index.centroids.select("cell", "centroid"), idCol, vecCol)

  private def statsAgainst(df: DataFrame, assignments: DataFrame,
                           centroids: DataFrame, idCol: String,
                           vecCol: String): DataFrame = {
    val cents = broadcast(centroids
      .withColumn("_cn", Ann.l2norm(col("centroid"))))
    df.join(assignments, idCol)
      .join(cents, "cell")
      .withColumn("_vn", Ann.l2norm(col(vecCol)))
      .withColumn("_cos",
        Ann.dot(col(vecCol), col("centroid")) / (col("_vn") * col("_cn")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("_cos")), 4).as("mean_cos"))
  }

  /** Shared corpus-as-queries candidate generator: each vector probes
    * its `nprobe` nearest cells (round(sim,9) + cell tiebreak) and
    * meets that cell's members through a plain shuffle equi-join —
    * never a probe-side broadcast of the corpus. Emits each (q, c)
    * pair exactly once (members hold one cell, probes are distinct
    * cells) with the exact re-rank cosine.
    */
  private def probeCandidates(df: DataFrame, index: Index, idCol: String,
                              vecCol: String, nprobe: Int): DataFrame =
    cellCandidates(corpusSide(df, index.assignments, idCol, vecCol),
      probeFlat(df, index.centroids, idCol, vecCol, nprobe))

  /** The candidate tail of the corpus-as-queries faces: probed queries
    * meet their cells' members through a plain shuffle equi-join, self
    * pairs dropped, with the exact round(cos, 4) re-rank cosine.
    */
  private def cellCandidates(corpus: DataFrame, probed: DataFrame): DataFrame =
    corpus.join(probed, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", round(
        Ann.dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 4))
      .select("q_id", "c_id", "cosine")
}

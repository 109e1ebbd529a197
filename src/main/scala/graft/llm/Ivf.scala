package graft.llm

import graft.functions.{CellSims, CellTable}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: a coarse k-means quantizer partitions
  * the corpus into cells; a query probes only its `nprobe` nearest cells
  * and re-ranks candidates with the exact cosine. The clustered
  * alternative to the hyperplane-LSH path in [[Ann]] — better when the
  * corpus has natural cluster structure, at the cost of a training pass.
  *
  * Scale: the flat [[fit]] trains on the whole corpus, `iters` passes of
  * (broadcast k centroids → map-side nearest-cell assign → groupBy-cell
  * average). The two-level [[fitTwoLevel]] trains on a bounded md5-stride
  * sample collected once to the driver (up to 2·sampleCap − 1 vectors)
  * and runs every Lloyd sweep there; only its final assignment touches
  * the corpus. Search touches ~nprobe/k of the corpus. Centroids are
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

  // -------------------------------------------------------------------
  // Centroid assignment, one path for every quantizer size. Each Lloyd
  // loop materializes its centroids on the driver anyway (lineage
  // truncation), so they reach the executors as a broadcast
  // [[CellTable]] and the argmax is ONE projection: a [[CellSims]]
  // kernel (the Ann.dot fold, compiled) plus a scalar fold over
  // round(sim, 9), ties to the lowest cell (the ascending fold keeps the
  // first best — exactly max_by on (sim, -cell)), NaN ranking greatest
  // like Spark's double ordering. No join, no argmax Exchange, and the
  // plan carries only the broadcast handle, so the task binary stays
  // the same size however large k·d grows. The fused Lloyd step below
  // also needs no join back onto the corpus: each iteration is one
  // corpus pass with one aggregation exchange.
  // -------------------------------------------------------------------

  /** The shared argmax fold over a [[CellSims]] result
    * (`struct(cells, sims)` — the per-group similarities, computed in
    * one compiled loop): highest round(sim, 9), ties to the FIRST
    * (lowest-cell) entry; NaN sims adopt over non-NaN (Spark's double
    * ordering ranks NaN greatest); all-null sims yield null like
    * max_by over null orderings. `cs` MUST be an attribute column —
    * its two getField references would otherwise re-run the kernel.
    */
  private def argmaxFold(cs: Column): Column = {
    // CleanupAliases strips names inside lambda bodies, so both structs
    // carry Spark's positional names: col1 = sim, col2 = cell
    def s(acc: Column) = acc.getField("col1")
    def c(acc: Column) = acc.getField("col2")
    aggregate(
      zip_with(cs.getField("cells"), cs.getField("sims"),
        (cc, ss) => struct(round(ss, 9), cc)
          .cast("struct<col1:double,col2:int>")),
      struct(lit(null).cast("double"), lit(null).cast("int")),
      (acc, p) => {
        val sim = p.getField("col1")
        val adopt = (c(acc).isNull && sim.isNotNull) ||
          sim > s(acc) ||
          (isnan(sim) && !isnan(s(acc)))
        when(adopt, p).otherwise(acc)
      },
      acc => c(acc))
  }

  /** A flat quantizer's table rows: every centroid in group 0. */
  private def flat(cents: Seq[(Int, Seq[Double])]): Seq[(Int, Int, Seq[Double])] =
    cents.map { case (cell, c) => (0, cell, c) }

  /** Nearest centroid per row: adds `cellCol`, the argmax over the
    * centroid group `grp` of `table`, as an ATTRIBUTE (an expression in
    * the same select as a downstream posexplode would land in the
    * Project ABOVE the Generate and re-run the kernel once per exploded
    * element). Rows with no argmax are dropped: a null vector, a null
    * element, a group absent from the table, or an empty group.
    */
  private[llm] def labelCells(df: DataFrame, vecCol: String, grp: Column,
                         table: Broadcast[CellTable],
                         cellCol: String): DataFrame =
    df.withColumn("_cs", CellSims.sims(col(vecCol), grp, table))
      .withColumn(cellCol, argmaxFold(col("_cs")))
      .filter(col(cellCol).isNotNull)
      .drop("_cs")

  /** Per-cell quantized mean vectors (`cell`, `centroid`) of a labelled
    * frame: exact integer sums of floor(v·10⁶), one double division —
    * identical for any partitioning / aggregation order.
    */
  private[llm] def cellMeans(labelled: DataFrame, keys: Seq[String],
                        vecCol: String): DataFrame =
    labelled
      .select(keys.map(col) :+ posexplode(col(vecCol)).as(Seq("i", "v")): _*)
      .groupBy((keys :+ "i").map(col): _*)
      .agg((sum(floor(col("v").cast("double") * lit(Quantum)).cast("long"))
        .cast("double") / (lit(Quantum) * count(lit(1)))).as("m"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        x => x.getField("m")).as("centroid"))

  /** One fused Lloyd sweep: assign (projection) + quantized-mean
    * recompute in ONE corpus pass with a single aggregation exchange —
    * returns the new centroid rows densely renumbered in cell order.
    */
  private def lloydStep(df: DataFrame, vecCol: String,
                        cents: Seq[(Int, Seq[Double])]): IndexedSeq[(Int, Seq[Double])] =
    CellTable.scoped(df.sparkSession, flat(cents)) { table =>
      cellMeans(labelCells(df, vecCol, lit(0), table, "cell"), Seq("cell"), vecCol)
        .orderBy("cell").select("centroid")
        .collect().toIndexedSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](0)) }
    }

  /** The first four hex digits of md5(id) as an integer: the portable
    * hash-stride key behind seeding and sampling.
    */
  private def hex4(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long")

  /** Train: deterministic seeding (an md5-strided sample — no global
    * window/sort over the corpus, and portable to any engine with md5)
    * then `iters` Lloyd iterations ([[fitCentroidRows]]), then one
    * assignment pass over the corpus, cached as the index's
    * `assignments`.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String,
          k: Int = 16, iters: Int = 2): Index = {
    val spark = df.sparkSession
    val rows = fitCentroidRows(df, idCol, vecCol, k, iters)
    val asg = labelCells(df, vecCol, lit(0),
        CellTable.broadcast(spark, flat(rows)), "cell")
      .select(col(idCol), col("cell"))
    Index(toCentroidDf(spark, rows), asg.cache())
  }

  private def toCentroidDf(spark: SparkSession,
                           rows: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("cell", "centroid")
  }

  /** The Lloyd training pass alone — seed + `iters` iterations —
    * returning the driver-side centroid rows without assigning (or
    * caching) the corpus. [[fit]] layers the final assignment on top;
    * [[fitTwoLevel]] runs the same recipe on the driver over its
    * collected sample. Centroids are k·d doubles, so
    * each iteration ([[lloydStep]]) materializes them to the driver:
    * this truncates the lineage (otherwise iteration i's plan
    * re-executes every previous one) and keeps the per-iteration cost
    * at exactly one corpus pass.
    */
  private def fitCentroidRows(df: DataFrame, idCol: String, vecCol: String,
                              k: Int, iters: Int): IndexedSeq[(Int, Seq[Double])] = {
    val n = df.count()
    // expect ~4k survivors from the md5 stride, keep the k smallest ids
    // (TakeOrderedAndProject — no global sort materialization)
    val stride = math.max(1L, n / math.max(1, 4 * k))
    var cents: IndexedSeq[(Int, Seq[Double])] = df
      .filter(hex4(col(idCol)) % stride === 0)
      .orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol), x => x.cast("double")).as("centroid"))
      .collect().toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }

    var it = 0
    while (it < iters) {
      cents = lloydStep(df, vecCol, cents)
      it += 1
    }
    cents
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
    * k2 = ⌈k/k1⌉ sub-cells. Level 1 is the [[fitCentroidRows]] recipe
    * on a hash-stride sample; level 2 runs the same Lloyd rules per
    * level-1 cell over the sample members (seeds: the k2 lowest-id
    * members; assign: argmax over the OWN cell's sub-centroids,
    * round(sim,9) + lowest-sub tiebreak; means: quantized integer sums;
    * dead subs renumbered per cell). A level-1 cell that ends up with no
    * sample members keeps its level-1 centroid as its sole leaf, so
    * every corpus vector always finds a leaf.
    *
    * All of the training runs on the driver: the sample is collected
    * once ([[collectSample]]) and every sweep is a loop over primitive
    * arrays ([[hostLloydStep]]), so a fit costs a count, one sample
    * collect and the final assignment, whatever `iters` is. The sample
    * stride ss = max(1, n/sampleCap) rounds down, so the sample holds
    * about n/ss ≤ 2·sampleCap − 1 vectors (md5 spreads the ids evenly),
    * and the driver holds all of it while training: at the default
    * 131,071 vectors, about 64 MB of doubles at d = 64. A stride past
    * the hex4 range (ss > 65,535) is refused ([[sampleStride]]). The
    * corpus is touched by the final assignment alone: two chained
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
    val sample = collectSample(df, idCol, vecCol, sampleStride(n, sampleCap))

    // level 1, all in group 0: seeds are the k1 lowest-id rows on the
    // sample's own 4-per-cell stride, as in fitCentroidRows
    val stride = math.max(1L, sample.length / math.max(1, 4 * k1))
    var l1Rows: IndexedSeq[(Int, Int, Seq[Double])] = sample.iterator
      .filter(_._1 % stride == 0).take(k1).zipWithIndex
      .map { case ((_, x), i) =>
        require(x != null, s"fitTwoLevel: a seed $vecCol is null or holds a null")
        (0, i, x.toSeq)
      }.toIndexedSeq
    val asL1 = sample.map { case (_, x) => (0, x) }
    var it = 0
    while (it < iters) { l1Rows = hostLloydStep(l1Rows, asL1); it += 1 }
    val l1Table = CellTable(l1Rows)

    // level 2: each sample member, in id order, grouped by its level-1
    // cell; seeds are each cell's k2 lowest-id members
    val members = sample.flatMap { case (_, x) =>
      nearestCell(l1Table, 0, x).map(l1 => (l1, x))
    }
    var subRows: IndexedSeq[(Int, Int, Seq[Double])] =
      members.groupBy(_._1).toIndexedSeq.sortBy(_._1).flatMap {
        case (l1, ms) => ms.take(k2).zipWithIndex
          .map { case ((_, x), sub) => (l1, sub, x.toSeq) }
      }
    it = 0
    while (it < iters) { subRows = hostLloydStep(subRows, members); it += 1 }

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
  // Driver-side training over a collected sample. Each piece mirrors a
  // distributed one bit for bit, so a sample-trained quantizer equals
  // the one the same Lloyd recipe would fit through Spark:
  //  - hostVec is the vector as labelCells reads it (null vector or null
  //    element: no argmax);
  //  - nearestCell is argmaxFold over the same CellTable.Group.sims loop
  //    the CellSims kernel runs;
  //  - hostMeans is cellMeans: Σ floor(v·10⁶) as Long, one division.
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
      s"fitTwoLevel: $n rows at sampleCap $sampleCap give sample stride " +
        s"$ss > 65535, past the hex4 range; raise sampleCap to >= ${n / 65536 + 1}")
    ss
  }

  /** The md5-stride sample of `df` — rows whose hex4 (the first four hex
    * digits of md5(id) as an integer) is a multiple of `ss` — collected
    * in id order as (hex4, vector). One exchange into a single sorted
    * partition: the same ascending id order as orderBy, without its
    * range-bounds sampling job.
    */
  private def collectSample(df: DataFrame, idCol: String, vecCol: String,
                            ss: Long): IndexedSeq[(Long, Array[Double])] =
    df.filter(hex4(col(idCol)) % ss === 0)
      .repartition(1).sortWithinPartitions(col(idCol))
      .select(hex4(col(idCol)), col(vecCol).cast("array<double>"))
      .collect().toIndexedSeq
      .map(r => (r.getLong(0), hostVec(r.getSeq[java.lang.Double](1))))

  /** Spark's round(d, 9) for a double: HALF_UP on the decimal form of
    * `d`; NaN and infinities pass through.
    */
  private[llm] def round9(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** [[argmaxFold]] on the driver: over the group's sims in cell order,
    * highest round(sim, 9), ties to the lowest cell, NaN greatest, null
    * sims skipped. None where [[labelCells]] drops the row: a null
    * vector, a group absent from the table, or no non-null sim.
    */
  private[llm] def nearestCell(table: CellTable, grp: Int,
                               x: Array[Double]): Option[Int] =
    if (x == null) None
    else table.groups.get(grp).flatMap { g =>
      val sims = g.sims(x)
      var best = -1
      var bestSim = 0.0
      var j = 0
      while (j < sims.length) {
        if (sims(j) != null) {
          val s = round9(sims(j).asInstanceOf[Double])
          if (best < 0 || (if (s.isNaN) !bestSim.isNaN else s > bestSim)) {
            best = j
            bestSim = s
          }
        }
        j += 1
      }
      if (best < 0) None else Some(g.cells.getInt(best))
    }

  /** [[cellMeans]] on the driver: per key, per position, Σ floor(v·10⁶)
    * as Long over the members long enough to have that position,
    * divided once by 10⁶·count. A key whose members are all empty
    * vectors yields no row, as posexplode yields none.
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

  /** One Lloyd sweep on the driver over `(group, cell, centroid)` rows:
    * each `(group, vector)` member takes its group's [[nearestCell]],
    * each cell with members becomes their [[hostMeans]], and surviving
    * cells are renumbered densely per group in cell order. With one
    * group this is [[lloydStep]]; with the level-1 cells as groups it is
    * the per-cell level-2 sweep.
    */
  private def hostLloydStep(cents: IndexedSeq[(Int, Int, Seq[Double])],
                            members: IndexedSeq[(Int, Array[Double])]): IndexedSeq[(Int, Int, Seq[Double])] = {
    val table = CellTable(cents)
    val means = hostMeans(members.flatMap { case (g, x) =>
      nearestCell(table, g, x).map(cell => ((g, cell), x))
    })
    means.toIndexedSeq.groupBy(_._1._1).toIndexedSeq.sortBy(_._1).flatMap {
      case (g, rows) => rows.sortBy(_._1._2).zipWithIndex
        .map { case ((_, m), sub) => (g, sub, m) }
    }
  }

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
    * level-1 probe ranks k1 centroids, leaf probe ranks only the
    * probed cells' leaves, then the same shuffle cell equi-join as
    * [[probeCandidates]] (never a probe-side broadcast of the corpus).
    * Leaf probe cells are distinct and members hold one leaf, so each
    * (q, c) pair still arises exactly once.
    */
  private def probeCandidates2(df: DataFrame, index: Index2, idCol: String,
                               vecCol: String, nprobe: Int,
                               nprobe1: Int): DataFrame = {
    val l1b = broadcast(index.l1Centroids
      .withColumn("_cn", Ann.l2norm(col("centroid"))))
    val wq1 = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("_sim").desc, col("l1").asc)
    val p1 = df
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        Ann.l2norm(col(vecCol)).as("q_nrm"))
      .join(l1b)
      .withColumn("_sim", round(
        Ann.dot(col("q_vec"), col("centroid")) / (col("q_nrm") * col("_cn")), 9))
      .withColumn("_rn", row_number().over(wq1))
      .filter(col("_rn") <= nprobe1)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("l1"))
    val leafB = broadcast(index.centroids
      .withColumn("_cn", Ann.l2norm(col("centroid"))))
    val wq2 = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("_sim").desc, col("cell").asc)
    val probed = p1.join(leafB, "l1")
      .withColumn("_sim", round(
        Ann.dot(col("q_vec"), col("centroid")) / (col("q_nrm") * col("_cn")), 9))
      .withColumn("_rn", row_number().over(wq2))
      .filter(col("_rn") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("cell"))
    val corpus = df.join(index.assignments, idCol)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
        Ann.l2norm(col(vecCol)).as("c_nrm"), col("cell"))
    corpus.join(probed, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", round(
        Ann.dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 4))
      .select("q_id", "c_id", "cosine")
  }

  /** Public face of the nearest-centroid assignment — (idCol, cell),
    * one row per vector, the same argmax rule as training. The
    * centroids frame is collected to the driver and broadcast as the
    * [[CellSims]] table; the assignment is one projection over `df`.
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
           idCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val corpus = df.join(index.assignments, idCol)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
        Ann.l2norm(col(vecCol)).as("c_nrm"), col("cell"))
    topKAgainst(corpus, queries, index.centroids, idCol, vecCol, k, nprobe)
  }

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
                                 nprobe: Int): DataFrame = {
    val cents = broadcast(centroids
      .withColumn("_cn", Ann.l2norm(col("centroid"))))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("_sim").desc, col("cell").asc)
    val probed = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        Ann.l2norm(col(vecCol)).as("q_nrm"))
      .join(cents)
      .withColumn("_sim", round(
        Ann.dot(col("q_vec"), col("centroid")) / (col("q_nrm") * col("_cn")), 9))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("cell"))
    rerankProbed(corpus, probed, k)
  }

  /** [[topK]] over a two-level index: the [[probeCandidates2]]
    * two-stage probe (nprobe1 level-1 cells, nprobe leaves ranked over
    * only those cells' leaves — O(√k) per query instead of k) feeding
    * the SAME candidate dedup + exact re-rank tail as the flat search.
    */
  def topK(df: DataFrame, queries: DataFrame, index: Index2,
           idCol: String, vecCol: String, k: Int, nprobe: Int,
           nprobe1: Int): DataFrame = {
    val corpus = df.join(index.assignments, idCol)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
        Ann.l2norm(col(vecCol)).as("c_nrm"), col("cell"))
    topKAgainst2(corpus, queries, index.l1Centroids, index.centroids,
      idCol, vecCol, k, nprobe, nprobe1)
  }

  /** The two-level analogue of [[topKAgainst]] against an arbitrary
    * prepared corpus frame `(c_id, c_vec, c_nrm, cell)` — shared by
    * the [[topK]] Index2 face and the streaming store search
    * ([[graft.streaming.AnnIndexStream.searchTwoLevel]]).
    */
  private[graft] def topKAgainst2(corpus: DataFrame, queries: DataFrame,
                                  l1Centroids: DataFrame,
                                  leafCentroids: DataFrame, idCol: String,
                                  vecCol: String, k: Int, nprobe: Int,
                                  nprobe1: Int): DataFrame = {
    val l1b = broadcast(l1Centroids
      .withColumn("_cn", Ann.l2norm(col("centroid"))))
    val wq1 = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("_sim").desc, col("l1").asc)
    val p1 = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        Ann.l2norm(col(vecCol)).as("q_nrm"))
      .join(l1b)
      .withColumn("_sim", round(
        Ann.dot(col("q_vec"), col("centroid")) / (col("q_nrm") * col("_cn")), 9))
      .withColumn("_rn", row_number().over(wq1))
      .filter(col("_rn") <= nprobe1)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("l1"))
    val leafB = broadcast(leafCentroids
      .withColumn("_cn", Ann.l2norm(col("centroid"))))
    val wq2 = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("_sim").desc, col("cell").asc)
    val probed = p1.join(leafB, "l1")
      .withColumn("_sim", round(
        Ann.dot(col("q_vec"), col("centroid")) / (col("q_nrm") * col("_cn")), 9))
      .withColumn("_rn", row_number().over(wq2))
      .filter(col("_rn") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("cell"))
    rerankProbed(corpus, probed, k)
  }

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
                              vecCol: String, nprobe: Int): DataFrame = {
    val cents = broadcast(index.centroids
      .withColumn("_cn", Ann.l2norm(col("centroid"))))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("_sim").desc, col("cell").asc)
    val probed = df
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        Ann.l2norm(col(vecCol)).as("q_nrm"))
      .join(cents)
      .withColumn("_sim", round(
        Ann.dot(col("q_vec"), col("centroid")) / (col("q_nrm") * col("_cn")), 9))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= nprobe)
      .select(col("q_id"), col("q_vec"), col("q_nrm"), col("cell"))
    val corpus = df.join(index.assignments, idCol)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"),
        Ann.l2norm(col(vecCol)).as("c_nrm"), col("cell"))
    corpus.join(probed, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", round(
        Ann.dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 4))
      .select("q_id", "c_id", "cosine")
  }
}

package graft.llm

import graft.functions.{CellKernel, CellTable}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The distributed Lloyd training that every quantizer ran before its
  * training moved to the driver, kept as the reference the driver-side
  * fits must equal bit for bit: [[fit]] (the flat IVF), [[fitTwoLevel]]
  * and [[pqFit]] (the PQ codebooks). Every Lloyd sweep is a Spark job:
  * the [[CellKernel]] plus a round(·, 9) argmax (cosine) or argmin
  * (squared L2) fold, and quantized per-cell means through posexplode
  * + groupBy. The flat fit and the PQ codebooks train on the whole
  * corpus; the two-level fit trains on the md5-stride sample, with
  * level-2 seeds from a `row_number` window and the sample's level-1
  * labels cached for the level-2 loop. The final corpus assignments are
  * the same projections as the engine's.
  */
object LloydReference {

  private val Quantum = 1000000.0

  private def argmaxFold(cs: Column): Column = {
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

  private def argminFold(cd: Column): Column = {
    def dBest(acc: Column) = acc.getField("col1")
    def c(acc: Column) = acc.getField("col2")
    aggregate(
      zip_with(cd.getField("cells"), cd.getField("dists"),
        (cc, dd) => struct(round(dd, 9), cc)
          .cast("struct<col1:double,col2:int>")),
      struct(lit(null).cast("double"), lit(null).cast("int")),
      (acc, p) => {
        val d = p.getField("col1")
        val adopt = (c(acc).isNull && d.isNotNull) ||
          d < dBest(acc) ||
          (isnan(dBest(acc)) && !isnan(d))
        when(adopt, p).otherwise(acc)
      },
      acc => c(acc))
  }

  /** A table broadcast for one Lloyd step, destroyed when `f` returns. */
  private def scoped[T](spark: SparkSession, rows: Seq[(Int, Int, Seq[Double])])
                       (f: Broadcast[CellTable] => T): T = {
    val table = CellTable.broadcast(spark, rows)
    try f(table) finally table.destroy()
  }

  private def flat(cents: Seq[(Int, Seq[Double])]): Seq[(Int, Int, Seq[Double])] =
    cents.map { case (cell, c) => (0, cell, c) }

  private def labelCells(df: DataFrame, vecCol: String, grp: Column,
                         table: Broadcast[CellTable],
                         cellCol: String): DataFrame =
    df.withColumn("_cs", CellKernel.column(col(vecCol), grp, table, CellTable.Cosine))
      .withColumn(cellCol, argmaxFold(col("_cs")))
      .filter(col(cellCol).isNotNull)
      .drop("_cs")

  def cellMeans(labelled: DataFrame, keys: Seq[String],
                vecCol: String): DataFrame =
    labelled
      .select(keys.map(col) :+ posexplode(col(vecCol)).as(Seq("i", "v")): _*)
      .groupBy((keys :+ "i").map(col): _*)
      .agg((sum(floor(col("v").cast("double") * lit(Quantum)).cast("long"))
        .cast("double") / (lit(Quantum) * count(lit(1)))).as("m"))
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        x => x.getField("m")).as("centroid"))

  private def lloydStep(df: DataFrame, vecCol: String,
                        cents: Seq[(Int, Seq[Double])]): IndexedSeq[(Int, Seq[Double])] =
    scoped(df.sparkSession, flat(cents)) { table =>
      cellMeans(labelCells(df, vecCol, lit(0), table, "cell"), Seq("cell"), vecCol)
        .orderBy("cell").select("centroid")
        .collect().toIndexedSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](0)) }
    }

  private def fitCentroidRows(df: DataFrame, idCol: String, vecCol: String,
                              k: Int, iters: Int): IndexedSeq[(Int, Seq[Double])] = {
    val n = df.count()
    val stride = math.max(1L, n / math.max(1, 4 * k))
    var cents: IndexedSeq[(Int, Seq[Double])] = df
      .filter(conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
        .cast("long") % stride === 0)
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

  def fit(df: DataFrame, idCol: String, vecCol: String,
          k: Int = 16, iters: Int = 2): Ivf.Index = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = fitCentroidRows(df, idCol, vecCol, k, iters)
    val asg = labelCells(df, vecCol, lit(0),
        CellTable.broadcast(spark, flat(rows)), "cell")
      .select(col(idCol), col("cell"))
    Ivf.Index(rows.toDF("cell", "centroid"), asg.cache())
  }

  def fitTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                  targetCellSize: Int = 128, iters: Int = 2,
                  sampleCap: Int = 65536): Ivf.Index2 = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.count()
    val k = math.max(4L, n / targetCellSize)
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    val k2 = ((k + k1 - 1) / k1).toInt

    val ss = math.max(1L, n / sampleCap)
    val sample = df.filter(
      conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
        .cast("long") % ss === 0)

    val l1Rows = fitCentroidRows(sample, idCol, vecCol, k1, iters)
    val l1Cents = l1Rows.toDF("l1", "centroid")
    val l1Table = CellTable.broadcast(spark, flat(l1Rows))
    val sampleL1 = labelCells(sample, vecCol, lit(0), l1Table, "l1")
      .select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("_v"), col("l1"))
      .cache()

    val wseed = org.apache.spark.sql.expressions.Window
      .partitionBy("l1").orderBy(col(idCol))
    var subRows: IndexedSeq[(Int, Int, Seq[Double])] =
      sampleL1.withColumn("_rn", row_number().over(wseed))
        .filter(col("_rn") <= k2)
        .select(col("l1"), (col("_rn") - 1).as("sub"), col("_v"))
        .collect().toIndexedSeq
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .sortBy(t => (t._1, t._2))

    var it = 0
    while (it < iters) {
      val recomputed = scoped(spark, subRows) { table =>
        cellMeans(labelCells(sampleL1, "_v", col("l1"), table, "sub"),
            Seq("l1", "sub"), "_v")
          .collect().toIndexedSeq
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      }
      subRows = recomputed.groupBy(_._1).toIndexedSeq.sortBy(_._1).flatMap {
        case (l1, rows) => rows.sortBy(_._2).zipWithIndex
          .map { case ((_, _, c), s) => (l1, s, c) }
      }
      it += 1
    }

    sampleL1.unpersist()
    val covered = subRows.map(_._1).toSet
    val leafRows = (subRows ++ l1Rows.filterNot(r => covered(r._1))
        .map(r => (r._1, 0, r._2)))
      .sortBy(t => (t._1, t._2))
    val leafHost = leafRows.zipWithIndex
      .map { case ((l1, _, c), cell) => (cell, l1, c) }
    val leafCents = leafHost.toDF("cell", "l1", "centroid")

    val leafTable = CellTable.broadcast(spark,
      leafHost.map { case (cell, l1, c) => (l1, cell, c) })
    val asg = labelCells(labelCells(df, vecCol, lit(0), l1Table, "_l1"),
        vecCol, col("_l1"), leafTable, "cell")
      .select(col(idCol), col("cell"))

    Ivf.Index2(l1Cents, leafCents, asg.cache())
  }

  def pqFit(df: DataFrame, idCol: String, vecCol: String,
            m: Int = 4, k: Int = 16, iters: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(m >= 1 && k >= 1 && iters >= 0, "bad pq parameters")
    val dim = df.select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim must divide into $m subspaces")
    val w = dim / m
    val n = df.count()
    val stride = math.max(1L, n / math.max(1, 4 * k))
    val seeds = df
      .filter(conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
        .cast("long") % stride === 0)
      .orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0))
    var cents: Seq[(Int, Int, Seq[Double])] = for {
      s <- 0 until m
      (vec, c) <- seeds.zipWithIndex
    } yield (s, c, vec.slice(s * w, (s + 1) * w))
    val sf = df.select(col(idCol), col(vecCol))
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("subvec", slice(col(vecCol), col("sub") * w + 1, lit(w)))
    var it = 0
    while (it < iters) {
      val rec = scoped(spark, cents) { table =>
        sf.withColumn("_cd",
            CellKernel.column(col("subvec"), col("sub"), table, CellTable.SquaredL2))
          .withColumn("cell", argminFold(col("_cd")))
          .filter(col("cell").isNotNull)
          .select(col("sub"), col("cell"),
            posexplode(col("subvec")).as(Seq("j", "v")))
          .groupBy("sub", "cell", "j")
          .agg((sum(floor(col("v").cast("double") * lit(Quantum)).cast("long"))
            .cast("double") / (lit(Quantum) * count(lit(1)))).as("mn"))
          .collect()
      }
      cents = rec.groupBy(_.getInt(0)).toSeq.flatMap { case (s, rs) =>
        rs.groupBy(_.getInt(1)).toSeq.sortBy(_._1).zipWithIndex.map {
          case ((_, crs), denseCell) =>
            (s, denseCell,
              crs.sortBy(_.getInt(2)).map(_.getDouble(3)).toIndexedSeq)
        }
      }
      it += 1
    }
    cents.toDF("sub", "cell", "centroid")
  }
}

package graft.functions

import graft.SparkSpec
import graft.llm.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bit-parity pins for the centroid-assignment kernels (fed a broadcast
  * [[CellTable]], as in Ivf/Quant) against the join-based argmax and the
  * HOF distance fold they are checked against, plus the broadcast set
  * probe of CurateStream.
  */
class CellKernelsSpec extends SparkSpec {
  import spark.implicits._

  test("CellSims + round/argmax fold ≡ broadcast-join assign (max_by on " +
    "(round(sim,9), -cell)), including exact ties") {
    val rnd = new scala.util.Random(7)
    // duplicate centroids force exact sim ties — the lowest cell must win
    val base = IndexedSeq.fill(6)(IndexedSeq.fill(8)(rnd.nextDouble() * 2 - 1))
    val cents = (base ++ base.take(2)).zipWithIndex.map { case (c, i) => (i, c) }
    val vecs = (1 to 300).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "vec")

    val ref = CellKernelsSpec.joinAssign(df, "id", "vec",
        cents.toDF("cell", "centroid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    val table = CellTable.broadcast(spark,
      cents.map { case (cell, c) => (0, cell, c) })
    val cs = CellKernel.column(col("vec"), lit(0), table, CellTable.Cosine)
    // the fold Ivf.bestCell runs for cosine (private there; shape replicated)
    val got = df.withColumn("_cs", cs)
      .select(col("id"),
        aggregate(
          zip_with(col("_cs.cells"), col("_cs.sims"),
            (cc, ss) => struct(round(ss, 9), cc)
              .cast("struct<col1:double,col2:int>")),
          struct(lit(null).cast("double"), lit(null).cast("int")),
          (acc, p) => {
            val sim = p.getField("col1")
            val adopt = (acc.getField("col2").isNull && sim.isNotNull) ||
              sim > acc.getField("col1") ||
              (isnan(sim) && !isnan(acc.getField("col1")))
            when(adopt, p).otherwise(acc)
          },
          acc => acc.getField("col2")).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    assert(got === ref)
  }

  test("CellSims null semantics: missing group → null; null vector → null") {
    val table = CellTable.broadcast(spark, Seq((0, 0, Seq(1.0, 0.0))))
    val df = Seq((1L, Array(1.0f, 0.5f), 0), (2L, Array(1.0f, 0.5f), 9),
        (3L, null.asInstanceOf[Array[Float]], 0))
      .toDF("id", "vec", "grp")
    val got = df.select(col("id"),
        CellKernel.column(col("vec"), col("grp"), table, CellTable.Cosine).as("cs"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("CellDists ≡ the zip_with subDist fold, bit for bit") {
    val rnd = new scala.util.Random(11)
    val cents = (0 until 5).map(i =>
      (i, IndexedSeq.fill(4)(rnd.nextDouble() * 2 - 1)))
    val df = (1 to 100).map(i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat() * 2 - 1))).toDF("id", "vec")
    val table = CellTable.broadcast(spark,
      cents.map { case (cell, c) => (0, cell, c) })
    val refCols = cents.map { case (i, c) =>
      aggregate(zip_with(col("vec"), typedLit(c),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0d), (acc, x) => acc + x).as(s"d$i")
    }
    val rows = df
      .withColumn("_cd", CellKernel.column(col("vec"), lit(0), table, CellTable.SquaredL2))
      .select(col("_cd.dists").as("dists") +: refCols: _*)
      .collect()
    rows.foreach { r =>
      val dists = r.getSeq[Double](0)
      cents.indices.foreach { i =>
        assert(java.lang.Double.doubleToLongBits(dists(i)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(i + 1)))
      }
    }
  }

  test("SetOverlapBroadcast ≡ arrays_overlap against the literal set") {
    val set = Array("a b c", "x y z", "q r s")
    val bc = spark.sparkContext.broadcast(set.map(_.getBytes("UTF-8")))
    val df = Seq(
      (1L, Array("a b c", "m n o")), // overlap
      (2L, Array("m n o", "p q r")), // no overlap
      (3L, Array.empty[String]),     // empty → false
      (4L, null.asInstanceOf[Array[String]]) // null → null
    ).toDF("id", "arr")
    val got = df.select(col("id"),
        SetProbe.overlapBroadcast(bc, col("arr")).as("o"),
        arrays_overlap(col("arr"), typedLit(set.toSeq)).as("ref"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getBoolean(1)),
        if (r.isNullAt(2)) None else Some(r.getBoolean(2)))).toSet
    got.foreach { case (_, o, ref) => assert(o === ref) }
    assert(got.map(t => t._1 -> t._2).toMap ===
      Map(1L -> Some(true), 2L -> Some(false), 3L -> Some(false), 4L -> None))
  }
}

object CellKernelsSpec {

  /** The broadcast-join argmax the `cell_sims` path is checked against:
    * every (vector, centroid) pair, round(sim, 9), then max_by on
    * (sim, -cell), so ties go to the lowest cell. With `on`, only pairs
    * that agree on those columns meet (the two-level leaf rule: a
    * vector ranks only its own level-1 cell's leaves).
    */
  def joinAssign(df: DataFrame, idCol: String, vecCol: String,
                 cents: DataFrame, on: Seq[String] = Nil): DataFrame = {
    val cs = broadcast(cents.withColumn("_cn", Ann.l2norm(col("centroid"))))
    val vs = df.select(Seq(col(idCol), col(vecCol)) ++ on.map(col) :+
      Ann.l2norm(col(vecCol)).as("_vn"): _*)
    (if (on.isEmpty) vs.join(cs) else vs.join(cs, on))
      .withColumn("_sim", round(
        Ann.dot(col(vecCol), col("centroid")) / (col("_vn") * col("_cn")), 9))
      .groupBy(col(idCol))
      .agg(max_by(col("cell"),
        struct(col("_sim"), (-col("cell")).as("_nc"))).as("cell"))
  }

  /** The broadcast-join argmin the `cell_dists` PQ path is checked
    * against: per (vector, subspace) row of `sf` (`sub`, `subvec`),
    * round(Σ(x−c)², 9) against every codebook cell of that subspace,
    * min_by on (dist, cell).
    */
  def joinCodes(sf: DataFrame, idCol: String, codebooks: DataFrame): DataFrame =
    sf.join(broadcast(codebooks), "sub")
      .withColumn("_d", round(aggregate(zip_with(col("subvec"), col("centroid"),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0d), (acc, x) => acc + x), 9))
      .groupBy(col(idCol), col("sub"))
      .agg(min_by(col("cell"), struct(col("_d"), col("cell"))).as("cell"))
}

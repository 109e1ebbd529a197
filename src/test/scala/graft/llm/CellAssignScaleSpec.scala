package graft.llm

import graft.SparkSpec
import graft.functions.CellKernelsSpec.{joinAssign, joinCodes}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Quantizers far past the size where the centroid table would still fit
  * comfortably in a plan literal: more than 262,144 doubles counted as
  * Σ(d + 2) over the table's rows. Each assignment must equal the
  * broadcast-join reference of [[graft.functions.CellKernelsSpec]], and
  * the executed plan must carry only the broadcast handle, not the table.
  */
class CellAssignScaleSpec extends SparkSpec with BeforeAndAfterAll {

  private val Dim = 512
  private val TableDoubles = 262144L
  private val MaxPlanChars = 100000

  /** 2,000 deterministic pseudo-random vectors of `Dim` floats in
    * [-1, 1], generated in the plan (no driver-side literal data).
    */
  private lazy val corpus: DataFrame = spark.range(2000)
    .select(col("id"),
      transform(sequence(lit(1), lit(Dim)), i =>
        ((pmod(xxhash64(col("id"), i), lit(2000001L)) - 1000000) / 1e6)
          .cast("float")).as("vec"))
    .cache()

  override def afterAll(): Unit = {
    corpus.unpersist()
    super.afterAll()
  }

  private def byId(df: DataFrame): Map[Long, Int] =
    df.select(col("id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  private def assertSmallPlan(df: DataFrame, kernel: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(kernel), plan.take(4000))
    assert(plan.length < MaxPlanChars,
      s"the centroid table leaked into the plan: ${plan.length} chars")
  }

  test("Ivf.fit past the old budget: assignments ≡ the broadcast-join " +
    "argmax, and the plan carries only the table handle") {
    val index = Ivf.fit(corpus, "id", "vec", k = 520, iters = 1)
    try {
      assert(index.centroids.count() * (Dim + 2) > TableDoubles)
      val got = byId(index.assignments)
      assert(got.size === 2000)
      assert(got === byId(joinAssign(corpus, "id", "vec", index.centroids)))
      assertSmallPlan(index.assignments, "cell_sims")
      // the public face (streaming ingest) takes the same path
      val viaFace = Ivf.assignCells(corpus, "id", "vec", index.centroids)
      assert(byId(viaFace) === got)
      assertSmallPlan(viaFace, "cell_sims")
    } finally index.unpersist()
  }

  test("Ivf.fitTwoLevel with a leaf table past the old budget: " +
    "hierarchical assignments ≡ the two-step broadcast-join argmax") {
    val index = Ivf.fitTwoLevel(corpus, "id", "vec", targetCellSize = 3,
      iters = 1)
    try {
      assert(index.centroids.count() * (Dim + 2) > TableDoubles)
      val l1 = joinAssign(corpus, "id", "vec",
          index.l1Centroids.withColumnRenamed("l1", "cell"))
        .withColumnRenamed("cell", "l1")
      val ref = joinAssign(corpus.join(l1, "id"), "id", "vec",
        index.centroids, on = Seq("l1"))
      val got = byId(index.assignments)
      assert(got.size === 2000)
      assert(got === byId(ref))
      assertSmallPlan(index.assignments, "cell_sims")
    } finally index.unpersist()
  }

  test("pqFit/pqEncode with codebooks past the old budget: codes ≡ the " +
    "broadcast-join argmin, and the plan carries only the table handle") {
    val m = 2
    val w = Dim / m
    val books = Quant.pqFit(corpus, "id", "vec", m = m, k = 520, iters = 1)
    assert(books.count() * (w + 2) > TableDoubles)
    val codes = Quant.pqEncode(corpus, "id", "vec", books, m)
    val sf = corpus
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("subvec", slice(col("vec"), col("sub") * w + 1, lit(w)))
    val ref = joinCodes(sf, "id", books)
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cell")))),
        x => x.getField("cell")).as("codes"))
    def codeMap(df: DataFrame): Map[Long, Seq[Int]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val got = codeMap(codes)
    assert(got.size === 2000 && got.values.forall(_.size == m))
    assert(got === codeMap(ref))
    assertSmallPlan(codes, "cell_dists")
  }
}

package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class QuantSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
    (2L, Seq(0.002f, -0.004f)),
    (3L, Seq(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")

  test("codes are in [-127, 127] with the max component at ±127") {
    val q = Quant.quantizeInt8(vecs, "embedding")
    val r1 = q.filter(col("vec_id") === 1).select("qvec")
      .collect().head.getSeq[Int](0)
    assert(r1 === Seq(127, -63, 32, 0)) // -0.5→-63.5→floor(-63.0)... half-up
    val all = q.select(explode(col("qvec")).as("c")).as[Int].collect()
    assert(all.forall(c => c >= -127 && c <= 127))
  }

  test("all-zero vectors quantize to zero codes, not NaN/null") {
    val r = Quant.quantizeInt8(vecs, "embedding")
      .filter(col("vec_id") === 3)
      .select("qvec").collect().head.getSeq[Int](0)
    assert(r === Seq(0, 0, 0))
  }

  test("dequantization error is bounded by half a quantization step") {
    val q = Quant.quantizeInt8(vecs, "embedding")
      .withColumn("deq", Quant.dequantize(col("qvec"), col("amax")))
      .withColumn("err", aggregate(
        zip_with(col("embedding"), col("deq"),
          (a, b) => abs(a.cast("double") - b)),
        lit(0.0d), (acc, x) => greatest(acc, x)))
    val rows = q.select("vec_id", "amax", "err")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    rows.foreach { case (_, amax, err) =>
      assert(err <= amax / 254.0 + 1e-12, s"err $err exceeds half-step for amax $amax")
    }
  }

  test("integer dot product matches the manual computation") {
    val df = Seq((Seq(1, -2, 3), Seq(4, 5, -6))).toDF("a", "b")
    val d = df.select(Quant.qdot(col("a"), col("b")).as("d"))
      .as[Long].collect().head
    assert(d === (4 - 10 - 18))
  }

  test("PQ: clustered vectors share codes; ADC ranks the twin first") {
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // two clusters, 4 dims, m=2 subspaces of width 2; ids 0/1 are the
    // md5-stride seeds (stride 1 at this size — every id survives)
    val emb = Seq(
      (0L, v(1, 0, 5, 5)), (2L, v(1.01, 0.01, 5.01, 5.02)),
      (3L, v(0.99, 0.02, 4.99, 5.01)),
      (1L, v(-3, 4, -1, -2)), (10L, v(-3.01, 4.01, -1.02, -2.01)),
      (11L, v(-2.99, 3.98, -0.99, -1.99)))
      .toDF("vec_id", "embedding")
    val books = Quant.pqFit(emb, "vec_id", "embedding", m = 2, k = 2, iters = 2)
    assert(books.count() === 4) // 2 subspaces × 2 cells
    val codes = Quant.pqEncode(emb, "vec_id", "embedding", books, m = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    // cluster members quantize identically, clusters differ
    assert(codes(0L) === codes(2L) && codes(2L) === codes(3L))
    assert(codes(1L) === codes(10L) && codes(10L) === codes(11L))
    assert(codes(0L) !== codes(1L))
    // ADC from a cluster-A query ranks cluster-A members first
    val top = Quant.pqTopK(
        Quant.pqEncode(emb, "vec_id", "embedding", books, 2), books,
        emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
        topK = 2, m = 2)
      .orderBy("rn").collect().map(_.getLong(1))
    assert(top.toSet.subsetOf(Set(2L, 3L)),
      s"same-cluster members must outrank the far cluster: ${top.toSeq}")
  }

  test("PQ: a subvector with a null element gets no code for its subspace") {
    def v(xs: Double*): Seq[java.lang.Float] = xs.map(x => Float.box(x.toFloat))
    val emb = Seq(
      (0L, v(1, 0, 5, 5)), (2L, v(1.01, 0.01, 5.01, 5.02)),
      (1L, v(-3, 4, -1, -2)), (10L, v(-3.01, 4.01, -1.02, -2.01)))
      .toDF("vec_id", "embedding")
    val books = Quant.pqFit(emb, "vec_id", "embedding", m = 2, k = 2, iters = 2)
    val holes = Seq(
      (20L, Seq[java.lang.Float](1.0f, 0.0f, null, 5.0f)), // sub 1 null
      (21L, Seq[java.lang.Float](null, 0.0f, -1.0f, -2.0f))) // sub 0 null
      .toDF("vec_id", "embedding")
    val codes = Quant.pqEncode(emb.union(holes), "vec_id", "embedding",
        books, m = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    // the clean subspace still gets its nearest cell; the null one none
    assert(codes(20L) === List(codes(0L).head))
    assert(codes(21L) === List(codes(1L)(1)))
  }

  test("residual IVFPQ: candidates from probed cells; self-residual distance is 0") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val index = Ivf.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
    val res = Quant.residuals(emb, index, "vec_id", "embedding")
    val books = Quant.pqFit(res, "vec_id", "resid", m = 2, k = 8, iters = 1)
    val codes = Quant.pqEncode(res, "vec_id", "resid", books, m = 2)
    val out = Quant.pqTopKIvfResidual(codes, books, queries, index,
        "vec_id", "embedding", topK = 3, m = 2, nprobe = 2)
      .collect()
    assert(out.nonEmpty)
    val cells = index.assignments.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      assert(r.getDouble(2) >= 0.0)
      assert(cells.contains(r.getLong(1)), "candidate outside the index")
    }
    // a query probed on its own cell reconstructs itself exactly through
    // the codebook it was encoded with: its ADC to itself would be the
    // codebook quantization error — excluded by the self filter, but the
    // twin check holds: results are per-query ranked 1..k
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(3).toLong).sorted.toSeq === (1L to rs.length).toSeq)
    }
  }

  test("IVF-filtered ADC returns a subset of the brute ADC, from probed cells only") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val index = Ivf.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
    val books = Quant.pqFit(emb, "vec_id", "embedding", m = 2, k = 8, iters = 1)
    val codes = Quant.pqEncode(emb, "vec_id", "embedding", books, m = 2)
    val brute = Quant.pqTopK(codes, books, queries, "vec_id", "embedding",
        topK = 50, m = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfpq = Quant.pqTopKIvf(codes, books, queries, index,
        "vec_id", "embedding", topK = 3, m = 2, nprobe = 2)
      .collect()
    assert(ivfpq.nonEmpty)
    // every IVFPQ result carries the SAME adc the brute path computed,
    // and candidates only come from the probed cells
    val cells = index.assignments.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    ivfpq.foreach { r =>
      val (q, c, adc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      brute.get((q, c)).foreach(b => assert(b === adc, s"adc drift for ($q,$c)"))
      assert(cells.contains(c))
    }
  }

  // ---- driver-side codebook training --------------------------------

  /** A codebook frame's schema and its rows in (sub, cell) order, with
    * the centroids as raw double bits.
    */
  private def snapshot(books: DataFrame) = (books.schema,
    books.collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Double](2).map(java.lang.Double.doubleToRawLongBits)))
      .sortBy(t => (t._1, t._2)))

  private def assertSamePq(df: DataFrame, m: Int, k: Int, iters: Int): Unit =
    assert(snapshot(Quant.pqFit(df, "vec_id", "embedding", m, k, iters)) ===
      snapshot(LloydReference.pqFit(df, "vec_id", "embedding", m, k, iters)))

  test("pqFit ≡ the distributed reference on sf0.001 embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assertSamePq(emb, m = 2, k = 8, iters = 2)
    assertSamePq(emb, m = 4, k = 16, iters = 1)
  }

  test("pqFit ≡ the distributed reference on adversarial vectors: ties " +
    "after round(·, 9), dead cells, zero and NaN vectors, a null element") {
    def f(xs: Any*): Seq[java.lang.Float] = xs.map {
      case null => null
      case x: Double => Float.box(x.toFloat)
      case x: Int => Float.box(x.toFloat)
    }
    // seeds are ids 0-3 (stride 1 at this size). Subspace 0: seed 2
    // duplicates seed 1, so its cell dies; (1, 0) ties seeds 0 and 1
    // exactly, (0, 0) ties seeds 0 and 3 after round(·, 9). Subspace 1:
    // seed 2 duplicates seed 0. Id 5 is a zero vector, id 6 holds a NaN
    // in subspace 0, id 7 a null in subspace 0 only.
    val emb = Seq(
      (0L, f(0, 0, 5, 5)), (1L, f(2, 0, -1, -2)), (2L, f(2, 0, 5, 5)),
      (3L, f(0, 1e-5, 3, 3)), (4L, f(1, 0, 4, 4)), (5L, f(0, 0, 0, 0)),
      (6L, f(Double.NaN, 1, -1, -2)), (7L, f(1, null, 5, 6)),
      (8L, f(3, 0, -1, -1)), (9L, f(1, 0, 2, 2)))
      .toDF("vec_id", "embedding")
    assertSamePq(emb, m = 2, k = 4, iters = 2)
    assertSamePq(emb, m = 2, k = 4, iters = 0)
    val books = Quant.pqFit(emb, "vec_id", "embedding", m = 2, k = 4, iters = 1)
    assert(books.filter(col("sub") === 0).count() < 4, "a dead cell in subspace 0")
  }

  test("pqFit and the distributed reference refuse an empty corpus alike") {
    val emb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val got = intercept[IllegalArgumentException](
      Quant.pqFit(emb, "vec_id", "embedding", m = 2, k = 4))
    val ref = intercept[IllegalArgumentException](
      LloydReference.pqFit(emb, "vec_id", "embedding", m = 2, k = 4))
    assert(got.getMessage === ref.getMessage)
  }

  test("job budget: pqFit on sf0.001 starts at most 5 Spark jobs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (books, jobs) = countJobs(Quant.pqFit(emb, "vec_id", "embedding", m = 2, k = 8))
    assert(books.count() > 0)
    assert(jobs <= 5, s"$jobs Spark jobs for one pqFit")
  }
}

package graft.llm

import graft.SparkSpec
import graft.functions.CellTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("IVF: clustered data lands in coherent cells and search finds cluster-mates") {
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // two tight clusters on orthogonal axes; ids 0 and 1 (the smallest,
    // hence the deterministic seeds) sit in different clusters
    val emb = Seq(
      (0L, v(1, 0.01, 0, 0)), (2L, v(0.99, 0.02, 0, 0)), (3L, v(1, 0.03, 0, 0)),
      (1L, v(0, 0.01, 1, 0)), (11L, v(0.01, 0, 0.99, 0)), (12L, v(0, 0.02, 1, 0))
    ).toDF("vec_id", "embedding")
    val index = Ivf.fit(emb, "vec_id", "embedding", k = 2, iters = 2)
    val cells = index.assignments.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Set(cells(0L), cells(2L), cells(3L)).size === 1, "cluster A coherent")
    assert(Set(cells(1L), cells(11L), cells(12L)).size === 1, "cluster B coherent")
    assert(cells(0L) !== cells(1L), "clusters separated")

    val topk = Ivf.topK(emb, emb.filter($"vec_id" === 0L), index,
      "vec_id", "embedding", k = 2, nprobe = 1)
    val got = topk.orderBy("rn").collect().map(_.getAs[Long]("c_id")).toSet
    assert(got === Set(2L, 3L), s"nprobe=1 search stays in the cluster: $got")
  }

  test("IVF: recall vs brute force on real embeddings with nprobe=4 of k=8") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val brute = Ann.cosineTopK(queries, emb, "vec_id", "embedding", 3)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val index = Ivf.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
    val ivf = Ivf.topK(emb, queries, index, "vec_id", "embedding", 3, nprobe = 4)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // probing half the cells must recover a solid share of true neighbors
    assert(recall >= 0.4, s"recall=$recall brute=${brute.size} ivf=${ivf.size}")
  }

  test("knnGraph: every vector gets ranked neighbors; agrees with per-query topK") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val index = Ivf.fit(emb, "vec_id", "embedding", k = 8, iters = 2)
    val g = Ivf.knnGraph(emb, index, "vec_id", "embedding",
      kNeighbors = 3, nprobe = 2).cache()
    // full coverage: every corpus vector appears as a query with rn 1..3
    val perQ = g.groupBy("q_id")
      .agg(count(lit(1)).as("c"), max("rn").as("mx"), min("rn").as("mn"))
      .collect()
    assert(perQ.length.toLong === n)
    perQ.foreach { r =>
      assert(r.getLong(1) <= 3 && r.getInt(3) === 1, s"ranks broken: $r")
    }
    // graph rows for a few queries == topK restricted to the same probes
    val qs = emb.filter($"vec_id" < 5)
    val tk = Ivf.topK(emb, qs, index, "vec_id", "embedding", 3, nprobe = 2)
      .select("q_id", "c_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gg = g.filter($"q_id" < 5)
      .select("q_id", "c_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gg === tk, "corpus-as-queries face diverges from per-query topK")
    g.unpersist()
  }

  test("clusterStats: populations cover the corpus; tight clusters score high") {
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (0L, v(1, 0.01, 0, 0)), (2L, v(0.99, 0.02, 0, 0)), (3L, v(1, 0.03, 0, 0)),
      (1L, v(0, 0.01, 1, 0)), (11L, v(0.01, 0, 0.99, 0)), (12L, v(0, 0.02, 1, 0))
    ).toDF("vec_id", "embedding")
    val index = Ivf.fit(emb, "vec_id", "embedding", k = 2, iters = 2)
    val stats = Ivf.clusterStats(emb, index, "vec_id", "embedding")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
    assert(stats.map(_._2._1).sum === 6L, "every vector belongs to a cell")
    stats.foreach { case (_, (_, cos)) =>
      assert(cos > 0.99, s"tight synthetic clusters must cohere: $cos")
    }
  }

  test("two-level: assignments cover the corpus exactly once, leaf " +
    "cells nest in their level-1 cell, and the fit is deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    // targetCellSize 8 over ~200 vectors → k≈25, k1=5, k2=5: both
    // levels genuinely multi-cell
    val index = Ivf.fitTwoLevel(emb, "vec_id", "embedding",
      targetCellSize = 8, iters = 2)
    assert(index.assignments.count() === n, "every vector assigned")
    assert(index.assignments.select("vec_id").distinct().count() === n,
      "exactly one leaf per vector")
    val leaves = index.centroids.select("cell", "l1").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(leaves.keys.toSeq.sorted === (0 until leaves.size).toSeq,
      "leaf cells densely numbered")
    val l1s = index.l1Centroids.select("l1").collect().map(_.getInt(0)).toSet
    assert(leaves.values.toSet.subsetOf(l1s), "every leaf nests in a level-1 cell")
    // determinism: a second fit reproduces assignments bit-for-bit
    val again = Ivf.fitTwoLevel(emb, "vec_id", "embedding",
      targetCellSize = 8, iters = 2)
    assert(index.assignments.orderBy("vec_id").collect().toSeq ===
      again.assignments.orderBy("vec_id").collect().toSeq)
    // leaf diagnostics cover the corpus exactly
    assert(Ivf.clusterStats(emb, index, "vec_id", "embedding")
      .agg(sum("n_vecs")).head().getLong(0) === n)
    index.unpersist(); again.unpersist()
  }

  test("two-level knnGraph: ranked per-query neighbors with honest " +
    "recall against brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val index = Ivf.fitTwoLevel(emb, "vec_id", "embedding",
      targetCellSize = 16, iters = 2)
    val g = Ivf.knnGraph(emb, index, "vec_id", "embedding",
      kNeighbors = 3, nprobe = 4, nprobe1 = 3).cache()
    val perQ = g.groupBy("q_id")
      .agg(count(lit(1)).as("c"), max("rn").as("mx"), min("rn").as("mn"))
      .collect()
    assert(perQ.length.toLong === n, "every vector queries the graph")
    perQ.foreach { r =>
      assert(r.getLong(1) <= 3 && r.getInt(3) === 1, s"ranks broken: $r")
    }
    assert(g.filter($"q_id" === $"c_id").count() === 0L, "no self pairs")
    assert(g.select("q_id", "c_id").distinct().count() === g.count(),
      "each (q, c) pair exactly once")
    val brute = Ann.cosineTopK(emb, emb, "vec_id", "embedding", 3)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = g.select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.4, s"two-level recall=$recall")
    g.unpersist(); index.unpersist()
  }

  test("two-level topK: agrees with the corpus-as-queries graph face " +
    "on shared probes and recovers brute-force neighbors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = Ivf.fitTwoLevel(emb, "vec_id", "embedding",
      targetCellSize = 16, iters = 2)
    val qs = emb.filter($"vec_id" < 5)
    val tk = Ivf.topK(emb, qs, index, "vec_id", "embedding",
        k = 3, nprobe = 2, nprobe1 = 2)
      .select("q_id", "c_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val g = Ivf.knnGraph(emb, index, "vec_id", "embedding",
        kNeighbors = 3, nprobe = 2, nprobe1 = 2)
      .filter($"q_id" < 5)
      .select("q_id", "c_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(tk === g, "per-query face diverges from corpus-as-queries face")
    // generous probes recover a solid share of the exact neighbors
    val brute = Ann.cosineTopK(qs, emb, "vec_id", "embedding", 3)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = Ivf.topK(emb, qs, index, "vec_id", "embedding",
        k = 3, nprobe = 6, nprobe1 = 3)
      .select("q_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & wide).size.toDouble / brute.size
    assert(recall >= 0.4, s"two-level topK recall=$recall")
    index.unpersist()
  }

  test("two-level hardNegatives: label mismatch filters before the " +
    "rank; generous probes recover the planted infiltrator") {
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (0L, v(1, 0, 0, 0), 1),
      (1L, v(0.99, 0.01, 0, 0), 1),
      (2L, v(0.98, 0.02, 0, 0), 2),   // the hard negative for label 1
      (3L, v(0, 0, 1, 0), 2),
      (10L, v(0, 0.01, 0.99, 0), 1)
    ).toDF("vec_id", "embedding", "label")
    val index = Ivf.fitTwoLevel(emb, "vec_id", "embedding",
      targetCellSize = 2, iters = 2)
    // probe everything: nprobe1/nprobe ≥ cell counts → exact semantics
    val neg = Ivf.hardNegatives(emb, index, "vec_id", "embedding", "label",
        k = 1, nprobe = 16, nprobe1 = 16)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(1), r.getInt(3))))
      .toMap
    assert(neg(0L)._1 === 2L, s"anchor 0 must find the infiltrator: $neg")
    Ivf.hardNegatives(emb, index, "vec_id", "embedding", "label", 3, 16, 16)
      .collect().foreach(r => assert(r.getInt(1) !== r.getInt(3)))
    index.unpersist()
  }

  test("hardNegatives: only different-label neighbors, nearest first") {
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    // label-1 cluster on x-axis with one label-2 infiltrator very close;
    // the infiltrator must outrank the farther label-2 point
    val emb = Seq(
      (0L, v(1, 0, 0, 0), 1),
      (1L, v(0.99, 0.01, 0, 0), 1),
      (2L, v(0.98, 0.02, 0, 0), 2),   // the hard negative for label 1
      (3L, v(0, 0, 1, 0), 2),
      (10L, v(0, 0.01, 0.99, 0), 1)
    ).toDF("vec_id", "embedding", "label")
    val index = Ivf.fit(emb, "vec_id", "embedding", k = 2, iters = 2)
    val neg = Ivf.hardNegatives(emb, index, "vec_id", "embedding", "label",
        k = 1, nprobe = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(1), r.getInt(3))))
      .toMap
    // anchor 0 (label 1): nearest different-label is 2, not 3
    assert(neg(0L)._1 === 2L)
    assert(neg(0L)._2 === 1 && neg(0L)._3 === 2)
    // every emitted pair disagrees on label
    Ivf.hardNegatives(emb, index, "vec_id", "embedding", "label", 3, 2)
      .collect().foreach(r => assert(r.getInt(1) !== r.getInt(3)))
  }

  // ---- driver-side two-level training -------------------------------

  private def bits(xs: Seq[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToRawLongBits)

  /** Every frame of a two-level index, collected in key order, with the
    * centroids as raw double bits.
    */
  private def snapshot(ix: Ivf.Index2) = (
    ix.l1Centroids.schema, ix.centroids.schema, ix.assignments.schema,
    ix.l1Centroids.orderBy("l1").collect().toSeq
      .map(r => (r.getInt(0), bits(r.getSeq[Double](1)))),
    ix.centroids.orderBy("cell").collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), bits(r.getSeq[Double](2)))),
    ix.assignments.orderBy(ix.assignments.columns.head).collect().toSeq)

  private def assertSameFit(df: DataFrame, targetCellSize: Int,
                            iters: Int = 2): Ivf.Index2 = {
    val got = Ivf.fitTwoLevel(df, "vec_id", "embedding", targetCellSize, iters)
    val ref = LloydReference.fitTwoLevel(df, "vec_id", "embedding",
      targetCellSize, iters)
    try assert(snapshot(got) === snapshot(ref))
    finally got.unpersist()
    ref
  }

  test("driver argmax ≡ labelCells on adversarial rows, round9 ≡ Spark " +
    "round(·, 9)") {
    // group 0: cell 1 is a hair off cell 4 (sims tie after round(·, 9),
    // the raw sim of the LOWER cell is smaller), cell 2 duplicates cell 0
    // (exact tie), cell 3 has the wrong length
    val table = Seq(
      (0, 0, Seq(0.5, -0.25, 0.75, 0.1)),
      (0, 1, Seq(1.0, 1e-6, 0.0, 0.0)),
      (0, 2, Seq(0.5, -0.25, 0.75, 0.1)),
      (0, 3, Seq(1.0, 0.0, 0.0)),
      (0, 4, Seq(1.0, 0.0, 0.0, 0.0)),
      (0, 5, Seq(-0.3, 0.9, -0.1, 0.2)),
      (1, 10, Seq(0.0, 1.0, 0.0, 0.0)),
      (1, 11, Seq(0.0, -1.0, 0.5, 0.0)))
    val rnd = new scala.util.Random(17)
    val random = (1 to 200).map(i =>
      (i.toLong, Seq.fill(4)(Float.box(rnd.nextFloat() * 2 - 1)), i % 2))
    def f(xs: Float*): Seq[java.lang.Float] = xs.map(Float.box)
    val adversarial = Seq(
      (1001L, f(1, 0, 0, 0), 0),           // ties cell 4 after rounding
      (1002L, f(0.5f, -0.25f, 0.75f, 0.1f), 0), // exact tie 0 vs 2
      (1003L, f(0, 0, 0, 0), 0),           // zero vector: every sim NaN
      (1004L, f(0, 0, 0, 0), 1),
      (1005L, null.asInstanceOf[Seq[java.lang.Float]], 0), // null vector
      (1006L, Seq[java.lang.Float](1f, null, 0f, 0f), 0), // null element
      (1007L, f(1, 2, 3), 0),              // only cell 3 has its length
      (1008L, f(1, 2, 3, 4, 5), 0),        // no centroid of its length
      (1009L, f(1, 0, 0, 0), 9),           // group absent from the table
      (1010L, f(Float.NaN, 1, 0, 0), 1))   // NaN element
    val df = (random ++ adversarial).toDF("id", "vec", "grp")

    val viaSpark = Ivf.labelCells(df, "vec", col("grp"),
        CellTable.broadcast(spark, table), "cell")
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val host = CellTable(table)
    val viaHost = df.select(col("id"), col("grp"), col("vec").cast("array<double>"))
      .collect().flatMap { r =>
        Ivf.nearestCell(host, r.getInt(1), Ivf.hostVec(r.getSeq[java.lang.Double](2)))
          .map(r.getLong(0) -> _)
      }.toMap
    assert(viaHost === viaSpark)
    assert(viaHost(1001L) === 1 && viaHost(1002L) === 0 &&
      viaHost(1003L) === 0 && viaHost(1004L) === 10 && viaHost(1007L) === 3)
    assert(Seq(1005L, 1006L, 1008L, 1009L).forall(!viaHost.contains(_)))

    val probes = Seq(0.1234567895, -0.1234567895, 5e-10, -5e-10, 4.9999e-10,
        0.9999999995, -0.9999999995, 1.0, -0.0, 1e-300, 0.3333333335,
        Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity) ++
      Seq.fill(500)(rnd.nextDouble() * 2 - 1)
    val rounded = probes.toDF("d").select(round(col("d"), 9)).collect()
      .map(_.getDouble(0))
    probes.zip(rounded).foreach { case (d, r) =>
      assert(java.lang.Double.doubleToRawLongBits(Ivf.round9(d)) ===
        java.lang.Double.doubleToRawLongBits(r), s"round($d, 9)")
    }
  }

  test("driver means ≡ cellMeans: floor of negatives, a one-member cell, " +
    "members of different lengths") {
    val labelled = Seq(
      (0, Seq(-1.0, -0.0000015, 0.25, 1e-7)),
      (0, Seq(-0.5, 0.0000015, -0.25, -1e-7)),
      (0, Seq(0.3, -0.7)),
      (1, Seq(-0.123456789, 2.5, -3.0000001)),
      (2, Seq.empty[Double]))
    val viaSpark = LloydReference.cellMeans(labelled.toDF("cell", "vec"), Seq("cell"), "vec")
      .collect().map(r => r.getInt(0) -> bits(r.getSeq[Double](1))).toMap
    val viaHost = Ivf.hostMeans(labelled.map { case (c, v) => (c, v.toArray) })
      .map { case (c, m) => c -> bits(m) }
    assert(viaHost === viaSpark)
    assert(viaHost.keySet === Set(0, 1), "an all-empty cell yields no mean")
  }

  test("two-level fit ≡ the distributed reference on sf0.001 embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assertSameFit(emb, targetCellSize = 8).unpersist()
  }

  test("two-level fit ≡ the distributed reference with a fallback leaf " +
    "and a dead sub") {
    // nine 2-d vectors (k = 9: k1 = 3 level-1 cells × k2 = 3 subs, one
    // Lloyd sweep): level-1 cell 1 survives its sweep but keeps no
    // sample member, so it becomes a fallback leaf; ids 0 and 8 are the
    // same vector, so the sub seeded by the later one dies
    val pts = Seq((1.879, 0.684), (2.782, 1.124), (-0.875, 0.485),
      (-0.105, 2.998), (-0.572, 2.945), (0.191, 0.982), (-2.741, 1.22),
      (-0.827, 2.884), (1.879, 0.684))
    val emb = pts.zipWithIndex
      .map { case ((x, y), i) => (i.toLong, Seq(x.toFloat, y.toFloat)) }
      .toDF("vec_id", "embedding")
    val ref = assertSameFit(emb, targetCellSize = 1, iters = 1)
    try {
      val leaves = ref.centroids.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      val l1 = ref.l1Centroids.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      val members = ref.assignments.join(ref.centroids, "cell")
        .groupBy("l1").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val leavesPerL1 = leaves.groupBy(_._2).map { case (c, ls) => c -> ls.length }
      assert(l1.size === 3)
      assert(l1.keys.exists(c => !members.contains(c) && leavesPerL1(c) === 1 &&
        leaves.exists(lf => lf._2 == c && lf._3 == l1(c))), "a fallback leaf")
      assert(members.exists { case (c, m) => m >= 3 && leavesPerL1(c) < 3 },
        "a dead sub")
    } finally ref.unpersist()
  }

  test("two-level fit ≡ the distributed reference on an empty corpus") {
    val emb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val ref = assertSameFit(emb, targetCellSize = 8)
    try assert(ref.centroids.isEmpty && ref.assignments.isEmpty)
    finally ref.unpersist()
  }

  test("job budget: a two-level fit on sf0.001 starts at most 6 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.ListenerBridge
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    sc.addSparkListener(counter)
    val index =
      try {
        val ix = Ivf.fitTwoLevel(emb, "vec_id", "embedding", targetCellSize = 8)
        ListenerBridge.drain(sc)
        ix
      } finally sc.removeSparkListener(counter)
    index.unpersist()
    assert(jobs.get <= 6, s"${jobs.get} Spark jobs for one two-level fit")
  }

  test("sample stride: max(1, n/sampleCap), refused past the hex4 range") {
    assert(Ivf.sampleStride(0L, 65536) === 1L)
    assert(Ivf.sampleStride(131071L, 65536) === 1L)
    assert(Ivf.sampleStride(131072L, 65536) === 2L)
    // the last n the default cap accepts: ss = 65,535 keeps hex4 ∈ {0, 65535}
    val lastOk = 65536L * 65536L - 1L
    assert(Ivf.sampleStride(lastOk, 65536) === 65535L)
    val e = intercept[IllegalArgumentException](Ivf.sampleStride(lastOk + 1L, 65536))
    assert(e.getMessage.contains("65536 > 65535"), e.getMessage)
    // a larger cap brings the same corpus back inside the range
    assert(Ivf.sampleStride(lastOk + 1L, 65537) === 65535L)
  }

  // ---- driver-side flat training ------------------------------------

  /** Both frames of a flat index, collected in key order, with the
    * centroids as raw double bits.
    */
  private def snapshot(ix: Ivf.Index) = (
    ix.centroids.schema, ix.assignments.schema,
    ix.centroids.orderBy("cell").collect().toSeq
      .map(r => (r.getInt(0), bits(r.getSeq[Double](1)))),
    ix.assignments.orderBy(ix.assignments.columns.head).collect().toSeq)

  private def assertSameFlatFit(df: DataFrame, k: Int, iters: Int = 2): Ivf.Index = {
    val got = Ivf.fit(df, "vec_id", "embedding", k, iters)
    val ref = LloydReference.fit(df, "vec_id", "embedding", k, iters)
    try assert(snapshot(got) === snapshot(ref))
    finally got.unpersist()
    ref
  }

  test("flat fit ≡ the distributed reference on sf0.001 embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assertSameFlatFit(emb, k = 8).unpersist()
    assertSameFlatFit(emb, k = 24, iters = 3).unpersist()
  }

  test("flat fit ≡ the distributed reference on adversarial vectors: " +
    "ties after round(·, 9), a dead cell, zero and NaN vectors") {
    def f(xs: Double*): Seq[java.lang.Float] = xs.map(x => Float.box(x.toFloat))
    // seeds are ids 0-4 (stride 1 at this size): cell 3 duplicates
    // cell 2, so it dies in the first sweep; cell 4 ties cell 2 after
    // round(·, 9) for (0, 0, 1); (1, 1, 0) and its multiples tie cells
    // 0 and 1 exactly; id 10 is a zero vector and id 11 holds a NaN
    val emb = Seq(
      (0L, f(1, 0, 0)), (1L, f(0, 1, 0)), (2L, f(0, 0, 1)), (3L, f(0, 0, 1)),
      (4L, f(0, 1e-5, 1)), (5L, f(1, 1, 0)), (6L, f(2, 2, 0)), (7L, f(0, 0, 2)),
      (8L, f(0.9, 0.1, 0.2)), (9L, f(0.1, 0.8, 0.3)), (10L, f(0, 0, 0)),
      (11L, f(Double.NaN, 1, 0)), (12L, f(3, 3, 0)), (13L, f(0, 0.2, 1)))
      .toDF("vec_id", "embedding")
    val ref = assertSameFlatFit(emb, k = 5)
    try {
      assert(ref.centroids.count() < 5, "the duplicate seed's cell died")
      val cells = ref.assignments.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(cells(5L) === cells(6L) && cells.size === 14)
    } finally ref.unpersist()
    assertSameFlatFit(emb, k = 5, iters = 0).unpersist()
  }

  test("flat fit ≡ the distributed reference on an empty corpus") {
    val emb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val ref = assertSameFlatFit(emb, k = 4)
    try assert(ref.centroids.isEmpty && ref.assignments.isEmpty)
    finally ref.unpersist()
  }

  test("job budget: a flat fit on sf0.001 starts at most 4 Spark jobs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (index, jobs) = countJobs(Ivf.fit(emb, "vec_id", "embedding", k = 8))
    index.unpersist()
    assert(jobs <= 4, s"$jobs Spark jobs for one flat fit")
  }
}

package graft

import graft.core.Tables
import org.apache.spark.sql.functions._

/** Plan audits — the scan-level properties the 100 TB design depends
  * on, asserted as tests so a regression in an operator's
  * projection/filter shape fails the build rather than silently reading
  * whole rows at scale:
  *  - column pruning must reach the parquet reader (`ReadSchema` carries
  *    only the referenced columns);
  *  - filters must reach the source (`PushedFilters` non-empty for
  *    pushable predicates).
  */
class PlanAuditSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Physical-plan nodes of `df`'s FINAL plan, walking INTO adaptive
    * plans, query stages and cached relations. The frame is run first:
    * before execution an AdaptiveSparkPlanExec's executedPlan is the
    * initial, pre-AQE plan. Node-level counting is immune to the
    * AdaptiveSparkPlan toString printing the same operator twice (once
    * under "== Final Plan ==", once under "== Initial Plan =="), which
    * double-counts substring matches.
    */
  private def planNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case t: InMemoryTableScanExec => walk(t.relation.cachedPlan)
        case o => o.children.flatMap(walk)
      })
    df.collect()
    walk(df.queryExecution.executedPlan)
  }

  private def nodeNames(df: org.apache.spark.sql.DataFrame): Seq[String] =
    planNodes(df).map(_.nodeName)

  /** The one centroid-assignment path, pinned on its final plan: the
    * `kernel` expression (cell_sims / cell_dists) is present, and there
    * is no BroadcastNestedLoopJoin and no max_by/min_by argmax aggregate.
    */
  private def assertKernelAssign(df: org.apache.spark.sql.DataFrame,
                                 kernel: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val nodes = planNodes(df)
    val names = nodes.map(_.nodeName)
    val exprNames = nodes.flatMap(_.expressions.flatMap(_.collect {
      case a: AggregateExpression => a.aggregateFunction.prettyName
      case e => e.prettyName
    }))
    assert(exprNames.contains(kernel), names.mkString("\n"))
    assert(!names.contains("BroadcastNestedLoopJoin"), names.mkString("\n"))
    assert(!exprNames.exists(n => n == "max_by" || n == "min_by"),
      exprNames.distinct.mkString(", "))
  }

  test("langId's documents scan prunes to (doc_id, text)") {
    val docs = Tables(spark, sfDir).documents
    val plan = planOf(graft.llm.TextAnalysis.langId(docs, "doc_id", "text"))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected a 2-column pruned scan:\n$plan")
  }

  test("a source-filtered projection pushes the filter into the scan") {
    val docs = Tables(spark, sfDir).documents
    val plan = planOf(
      docs.filter(col("source") === "web").select("doc_id"))
    assert(plan.contains("PushedFilters: [IsNotNull(source), EqualTo(source,web)]"),
      s"expected the equality pushed to the reader:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"expected only (doc_id, source) read:\n$plan")
  }

  test("an aggregate over two lineitem columns reads exactly those columns") {
    val li = Tables(spark, sfDir).lineitem
    val plan = planOf(
      li.groupBy("l_returnflag").agg(sum("l_quantity").as("q")))
    assert(plan.contains("ReadSchema: struct<l_quantity:") &&
      plan.contains("l_returnflag:string"),
      s"expected a 2-column pruned scan:\n$plan")
    assert(!plan.contains("l_extendedprice"),
      s"unreferenced columns must not be read:\n$plan")
  }

  test("rareTokenProfile reads only (doc_id, text); join is aggregation-shaped") {
    val docs = Tables(spark, sfDir).documents
    val plan = planOf(
      graft.llm.TextAnalysis.rareTokenProfile(docs, "doc_id", "text"))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected a 2-column pruned scan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("fuzzyPairs and triangleStats plan as equi joins — no nested-loop anywhere") {
    val cust = Tables(spark, sfDir).customer
      .select(col("c_custkey").as("id"), col("c_name").as("nm"),
        substring(col("c_name"), 1, 16).as("blk"))
    val pairs = graft.llm.DedupOps.fuzzyPairs(cust, "id", "nm", "blk", maxDist = 1)
    val pairsPlan = planOf(pairs)
    assert(!pairsPlan.contains("BroadcastNestedLoopJoin") &&
      !pairsPlan.contains("CartesianProduct"), pairsPlan)
    // triangleStats: the wedge/closure joins must be equi; the ONE
    // nested-loop allowed is the broadcast single-row (count × wedges)
    // attach at the very end — the accepted 1-row-cross pattern
    // (triangleStats returns collected rows; audit its lazy plan)
    val (tri, cached) = graft.llm.DupGraph.trianglePlan(pairs, "id1", "id2")
    try {
      val triNodes = nodeNames(tri)
      assert(triNodes.count(_ == "BroadcastNestedLoopJoin") <= 1,
        triNodes.mkString("\n"))
      assert(!triNodes.contains("CartesianProduct"), triNodes.mkString("\n"))
      val triPlan = planOf(tri)
      assert(triPlan.contains("LeftSemi"), s"closure must be a semi join:\n$triPlan")
    } finally cached.foreach(_.unpersist())
  }

  test("Ivf.fit / Ivf.assignCells / Quant.pqEncode assign through the " +
    "broadcast-table kernels: no nested-loop join, no argmax aggregate") {
    // a scanned corpus: over an in-memory Seq the optimizer would fold
    // the whole projection into a LocalTableScan
    val emb = Tables(spark, sfDir).embeddings
    val index = graft.llm.Ivf.fit(emb, "vec_id", "embedding", k = 4, iters = 1)
    try {
      assertKernelAssign(index.assignments, "cell_sims")
      assertKernelAssign(graft.llm.Ivf.assignCells(emb, "vec_id", "embedding",
        index.centroids), "cell_sims")
    } finally index.unpersist()
    val books = graft.llm.Quant.pqFit(emb, "vec_id", "embedding", m = 2, k = 4,
      iters = 1)
    assertKernelAssign(graft.llm.Quant.pqEncode(emb, "vec_id", "embedding",
      books, m = 2), "cell_dists")
  }

  test("adaptive fuzzyPairs (band/margin/sub cascade) stays equi-join only") {
    // tiny maxBlock forces every refinement path into the plan: the
    // small-block join, the (block, band, sub) join, and the margin join
    val cust = Tables(spark, sfDir).customer
      .select(col("c_custkey").as("id"), col("c_name").as("nm"),
        concat(lit("n"), col("c_nationkey").cast("string")).as("blk"))
    val plan = planOf(graft.llm.DedupOps.fuzzyPairs(
      cust, "id", "nm", "blk", maxDist = 1, maxBlock = 8))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("paragraphDedup is join/aggregate-shaped with no nested-loop or window") {
    import spark.implicits._
    val docs = Seq((1L, Seq("p q", "r s")), (2L, Seq("p q")))
      .toDF("doc_id", "paras")
    val plan = planOf(graft.llm.DedupOps.paragraphDedup(docs, "doc_id", "paras"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // winner selection must be the partial-aggregatable min, not a window
    assert(!plan.contains("RunningWindowFunction") && !plan.contains("Window"),
      s"hot boilerplate paragraphs would straggle a window:\n$plan")
  }

  test("Merge.upsert keeps the base scan's column pruning through the anti join") {
    val base = Tables(spark, sfDir).customer.select("c_custkey", "c_mktsegment")
    val updates = base.limit(10).withColumn("c_mktsegment", lit("X"))
    val plan = planOf(graft.core.Merge.upsert(base, updates, Seq("c_custkey")))
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>"),
      s"expected a 2-column pruned base scan:\n$plan")
  }

  test("mixture/temperature sampling is a map-side broadcast filter over the corpus") {
    val docs = Tables(spark, sfDir).documents
    val plan = planOf(
      graft.llm.Sampling.temperatureSample(docs, "source", "doc_id"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle for a per-domain threshold join:\n$plan")
  }

  test("pageRank / labelPropagation iterate on equi joins only") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val pr = planOf(graft.llm.DupGraph.pageRank(edges, iterations = 2))
    assert(!pr.contains("BroadcastNestedLoopJoin") &&
      !pr.contains("CartesianProduct"), pr)
    val lp = planOf(graft.llm.DupGraph.labelPropagation(edges, iterations = 2))
    assert(!lp.contains("BroadcastNestedLoopJoin") &&
      !lp.contains("CartesianProduct"), lp)
  }

  test("cmsEstimate probes join the counter grid by broadcast, never a shuffle") {
    import spark.implicits._
    val items = (1 to 500).map(i => s"t${i % 40}").toDF("k")
    val counters = graft.llm.Sketch.cmsCounters(items, "k")
    val probes = Seq("t1", "t2", "t3").toDF("k")
    val plan = planOf(graft.llm.Sketch.cmsEstimate(counters, probes, "k"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"the depth x width grid must broadcast:\n$plan")
  }

  test("containmentPairs candidates form on shingle-key equi joins — no nested loop") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d g h"))
      .toDF("doc_id", "text")
    val out = graft.llm.DedupOps.containmentPairs(docs, "doc_id", "text")
    val plan = planOf(out)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    out.unpersist()
  }

  test("ORC scans get the same filter pushdown and column pruning as parquet") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc_audit_").toFile
    tmp.deleteOnExit()
    val path = s"${tmp.getPath}/orders_orc"
    Tables(spark, sfDir).orders.write.mode("overwrite").orc(path)
    val plan = planOf(spark.read.orc(path)
      .filter(col("o_orderstatus") === "O").select("o_orderkey"))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"),
      s"expected the equality pushed into the ORC reader:\n$plan")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>"),
      s"expected a 2-column pruned ORC scan:\n$plan")
  }

  test("AQE skew-join splits a hot-key SMJ partition; salting stays for aggregations") {
    import spark.implicits._
    // One key carries ~90% of the left side — the mega-facility shape.
    // Thresholds are shrunk so the ~1 MB hot partition counts as skewed
    // at test scale; broadcast is disabled to force the SMJ path AQE
    // optimizes. Skew.saltedCount handles the aggregation face of the
    // same key (Skew scaladoc): AQE cannot split a skewed groupBy.
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    try {
      val left = (1 to 60000)
        .map(i => (if (i % 10 == 0) i.toLong % 97 else 0L, i.toLong))
        .toDF("k", "v")
      val right = (0L to 96L).map(k => (k, k * 2)).toDF("k", "w")
      // the join must be the TERMINAL stage: AQE declines to split skew
      // when a downstream operator (e.g. groupBy on the join key) would
      // reuse the join's partitioning — splitting would force an extra
      // shuffle (that case needs forceOptimizeSkewedJoin, a cost call
      // left to deployments)
      val joined = left.join(right, "k")
      joined.collect() // AQE decides skew splits at runtime — must execute
      val plan = planOf(joined)
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the hot-key join partition skewed:\n$plan")
      // and the salted aggregate gives the same counts as a direct groupBy
      val direct = left.groupBy("k").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val salted = graft.core.Skew.saltedCount(left, "k", col("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(salted === direct)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("encodeDocs prunes the corpus scan and joins the vocab on the token key") {
    val docs = Tables(spark, sfDir).documents
    val vocab = graft.llm.TextAnalysis.buildVocab(docs, "doc_id", "text")
    val plan = planOf(
      graft.llm.TextAnalysis.encodeDocs(docs, "doc_id", "text", vocab))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected a 2-column pruned scan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("incrementalDedup: every candidate join is equi — no nested loop, no cartesian") {
    val docs = Tables(spark, sfDir).documents
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    val index = graft.llm.IncrementalDedup.dedupIndex(corpus, "doc_id", "text")
    val plan = planOf(graft.llm.IncrementalDedup
      .incrementalDedup(index, batch, "doc_id", "text"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("sortedNeighborhoodPairs joins on rank-bands, never a theta-join or global window") {
    val cust = Tables(spark, sfDir).customer
      .select(col("c_custkey").as("id"), col("c_name").as("nm"))
    val plan = planOf(
      graft.llm.DedupOps.sortedNeighborhoodPairs(cust, "id", "nm", 5))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // no Window operator anywhere: the global rank is zipWithIndex-based
    assert(!plan.contains("Window"), s"global-window trap resurfaced:\n$plan")
  }

  test("asofJoinDirected: both RANGE frames share ONE exchange on the key") {
    val ev = Tables(spark, sfDir).events
    val left = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"), col("ts"))
    val right = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
      .withColumn("vts", col("ts"))
    val plan = planOf(graft.core.Temporal.asofJoinDirected(left, right,
      Seq("user_id"), "ts", Seq("view_id", "vts"),
      graft.core.Temporal.AsofDirection.Nearest))
    // all four carried columns must land in ONE Window operator over one
    // user_id-only exchange (the fixture's right-side aggregate owns its
    // own (user_id, ts) exchange — excluded by the single-key pattern)
    val nWindow = plan.split("\\+- Window \\[").length - 1
    assert(nWindow === 1, s"expected ONE fused Window operator, got $nWindow:\n$plan")
    val singleKey = "Exchange hashpartitioning\\(user_id#\\d+L, \\d+\\)".r
    val nExchange = singleKey.findAllIn(plan).length
    assert(nExchange === 1,
      s"expected one user_id-only exchange feeding both frames, got $nExchange:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("epochUpsample and blocklistFlags keep the corpus un-shuffled (broadcast-only joins)") {
    val docs = Tables(spark, sfDir).documents
    val upPlan = planOf(graft.llm.Sampling.epochUpsample(
      docs, "doc_id", "source", Map("src0" -> 25000L)))
    assert(upPlan.contains("BroadcastHashJoin") || upPlan.contains("BroadcastExchange"),
      s"weights must broadcast:\n$upPlan")
    assert(!upPlan.contains("SortMergeJoin") &&
      !upPlan.contains("Exchange hashpartitioning"),
      s"the corpus must not shuffle for an upsample:\n$upPlan")
    val blPlan = planOf(graft.llm.TextAnalysis.blocklistFlags(
      docs, "doc_id", "text", Seq("fast"), 300L))
    assert(blPlan.contains("BroadcastHashJoin"),
      s"the term table must broadcast:\n$blPlan")
    assert(!blPlan.contains("BroadcastNestedLoopJoin") &&
      !blPlan.contains("CartesianProduct"), blPlan)
  }

  test("knnGraph joins cells by shuffle — the corpus-sized probe side must NOT broadcast") {
    val emb = Tables(spark, sfDir).embeddings
    val index = graft.llm.Ivf.fit(emb, "vec_id", "embedding", k = 4, iters = 1)
    val plan = planOf(graft.llm.Ivf.knnGraph(
      emb, index, "vec_id", "embedding", 3, nprobe = 2))
    // nested loops allowed ONLY for k-row broadcast centroid attaches
    // (every vector scores every centroid — centroids are always
    // broadcastable): one in the probe side, one in the assignment
    // lineage while its cache is unmaterialized. Anything more is real.
    assert(plan.split("BroadcastNestedLoopJoin").length - 1 <= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the cell join: probe side shuffles (SMJ/shuffled-hash on cell) —
    // a broadcast there would ship every vector to every task. AQE may
    // pick broadcast at this toy SF; assert the non-AQE plan instead.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val strict = planOf(graft.llm.Ivf.knnGraph(
        emb, index, "vec_id", "embedding", 3, nprobe = 2))
      assert(strict.contains("Exchange hashpartitioning(cell") ||
        strict.contains("SortMergeJoin"),
        s"cell join must be a shuffle join:\n$strict")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("two-level knnGraph: leaf attaches are equi joins on l1, the " +
    "cell join still shuffles, and no real cartesian appears") {
    val emb = Tables(spark, sfDir).embeddings
    val index = graft.llm.Ivf.fitTwoLevel(emb, "vec_id", "embedding",
      targetCellSize = 64, iters = 1)
    val plan = planOf(graft.llm.Ivf.knnGraph(
      emb, index, "vec_id", "embedding", 3, nprobe = 2, nprobe1 = 2))
    // nested loops allowed ONLY for the k1-row level-1 centroid
    // attaches (probe side + uncached assignment lineage); the LEAF
    // attaches join on l1 — an equi key — so they must never appear
    // as nested loops. That equi join is the point of the two level
    // design: a query meets only its own cells' leaves.
    assert(plan.split("BroadcastNestedLoopJoin").length - 1 <= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val strict = planOf(graft.llm.Ivf.knnGraph(
        emb, index, "vec_id", "embedding", 3, nprobe = 2, nprobe1 = 2))
      assert(strict.contains("Exchange hashpartitioning(cell") ||
        strict.contains("SortMergeJoin"),
        s"cell join must be a shuffle join:\n$strict")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    index.unpersist()
  }

  test("sourceOverlap and bigramLogProb plan as equi joins only") {
    val docs = Tables(spark, sfDir).documents
    val ovPlan = planOf(graft.llm.Boilerplate.sourceOverlap(
      docs, "doc_id", "source", "text"))
    assert(!ovPlan.contains("BroadcastNestedLoopJoin") &&
      !ovPlan.contains("CartesianProduct"), ovPlan)
    val lpPlan = planOf(graft.llm.TextAnalysis.bigramLogProb(
      docs, "doc_id", "text"))
    // ONE 1-row cross allowed: the broadcast N attach (the accepted
    // single-row pattern used by unigramLogProb/docFrequency)
    assert(lpPlan.split("BroadcastNestedLoopJoin").length - 1 <= 1, lpPlan)
    assert(!lpPlan.contains("CartesianProduct"), lpPlan)
  }

  test("intervalOverlapPairs and dedupWithin never plan a nested loop") {
    import spark.implicits._
    val mkIv = (u: Long, id: Long, s: Long, e: Long) =>
      (id, u, new java.sql.Timestamp(s * 1000), new java.sql.Timestamp(e * 1000))
    val l = Seq(mkIv(1, 1, 100, 200)).toDF("lid", "user_id", "ls", "le")
    val r = Seq(mkIv(1, 2, 150, 250)).toDF("rid", "user_id", "rs", "re")
    val ovPlan = planOf(graft.core.Temporal.intervalOverlapPairs(l, r,
      Seq("user_id"), "lid", "ls", "le", "rid", "rs", "re", 60L))
    assert(!ovPlan.contains("BroadcastNestedLoopJoin") &&
      !ovPlan.contains("CartesianProduct"),
      s"the theta form resurfaced:\n$ovPlan")
    val ev = Tables(spark, sfDir).events
      .select("event_id", "user_id", "event_type", "ts")
    val ddPlan = planOf(graft.core.Temporal.dedupWithin(ev,
      Seq("user_id", "event_type"), "ts", "event_id", 3600L))
    assert(!ddPlan.contains("BroadcastNestedLoopJoin"), ddPlan)
    // exactly one exchange: the key-partition window
    assert(ddPlan.split("Exchange hashpartitioning").length - 1 === 1, ddPlan)
  }

  test("ohlcBars is ONE partial/final aggregate — no window, no join") {
    val ev = Tables(spark, sfDir).events
    val plan = planOf(graft.core.Temporal.ohlcBars(ev, "user_id", "ts",
      "value", "event_id", "day"))
    assert(!plan.contains("Window"), s"bars must not window:\n$plan")
    assert(!plan.contains("Join"), s"bars must not join:\n$plan")
    // min_by with a struct ordering key plans sort-based, but still as
    // ONE partial/final aggregate pair over ONE exchange — map-side
    // combine happens (partial_min_by before the shuffle)
    assert(plan.split("Exchange hashpartitioning").length - 1 === 1, plan)
    assert(plan.contains("partial_min_by"),
      s"map-side combine missing:\n$plan")
  }

  test("BPE pair selection shuffles the VOCAB frame, never the corpus again") {
    val docs = Tables(spark, sfDir).documents
    val words = graft.llm.Bpe.wordCounts(docs, "text")
      .withColumn("toks", graft.llm.Bpe.charTokens(col("word")))
      .localCheckpoint()
    // after the checkpoint the round's plan must not reference the
    // documents scan at all — rounds run on the vocab frame alone
    val roundPlan = planOf(words
      .select(col("wcount"), explode_outer(col("toks")).as("t")))
    assert(!roundPlan.contains("FileScan"),
      s"a BPE round re-scanned the corpus:\n$roundPlan")
  }

  test("shardPlan's position window rides the writer exchange: hash-partitioned by shard") {
    // the writer path: repartition(shard) + local sort must satisfy the
    // window, so exactly ONE exchange appears in the whole plan
    val docs = Tables(spark, sfDir).documents.select("doc_id")
    val writerShaped = graft.llm.Sampling
      .shardPlan(docs, "doc_id", 8, 42L) // plan face: window defines its own exchange
    val plan = planOf(writerShaped)
    assert(plan.split("Exchange").length - 1 === 1,
      s"expected exactly one exchange (hash by shard):\n$plan")
    assert(plan.contains("hashpartitioning(shard"), plan)
  }

  test("frequentPairs/associationRules: basket equi-join only — no " +
    "nested-loop, no cartesian; support joins broadcast") {
    val li = Tables(spark, sfDir).lineitem
    val pairs = planOf(graft.core.Itemsets.frequentPairs(
      li, "l_orderkey", "l_partkey", minSupport = 2))
    assert(!pairs.contains("BroadcastNestedLoopJoin") &&
      !pairs.contains("CartesianProduct"), pairs)
    val rules = planOf(graft.core.Itemsets.associationRules(
      li, "l_orderkey", "l_partkey", minSupport = 2))
    assert(!rules.contains("CartesianProduct"), rules)
    // item supports and n_baskets attach as BroadcastHashJoin /
    // 1-row BroadcastNestedLoop — the pair frame must never re-sort-
    // merge against anything after the support count
    assert(rules.contains("BroadcastHashJoin"), rules)
  }

  test("kCore rounds plan as equi semi-joins over vertex ids") {
    // the round state is eagerly checkpointed inside kCore (the
    // returned plan reads the final RDD), so audit the ROUND's plan
    // face — the exact alive-filter + both-ends semi-join shape a
    // round builds before its checkpoint
    val li = Tables(spark, sfDir).lineitem
    val e0 = li.select(col("l_orderkey").as("a"),
      (col("l_suppkey") + lit(1000000L)).as("b"))
    val sym = e0.union(e0.select(col("b").as("a"), col("a").as("b"))).distinct()
    val alive = sym.groupBy("a").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2).select(col("a"))
    val round = sym.join(alive, Seq("a"), "left_semi")
      .join(alive.select(col("a").as("b")), Seq("b"), "left_semi")
    val plan = planOf(round)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("zone-map prune touches only the stats frame: one corpus scan " +
    "in build, zero additional scans in the prune") {
    val orders = Tables(spark, sfDir).orders
    val zm = graft.core.ZoneMap.build(orders,
      date_format(col("o_orderdate"), "yyyy-MM"), Seq("o_orderdate"))
    val pruned = graft.core.ZoneMap.pruneRange(zm, "o_orderdate",
      lit("1995-03-01").cast("timestamp"), lit("1995-09-30").cast("timestamp"))
    val plan = planOf(pruned)
    assert(plan.split("FileScan").length - 1 === 1,
      s"prune must not rescan the corpus:\n$plan")
    // the build scan reads only the mapped column
    assert(plan.contains("ReadSchema: struct<o_orderdate:"), plan)
  }

  test("trendLine reads only (user_id, ts, value); all joins are equi") {
    val ev = Tables(spark, sfDir).events
    val plan = planOf(graft.core.Temporal.trendLine(ev, "user_id", "ts", "value"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("event_type"),
      s"unreferenced event columns must not be read:\n$plan")
  }

  test("a partitioned parquet write prunes partitions on read: a " +
    "partition-column predicate becomes a PartitionFilter, not a scan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_partaudit_").toFile
    tmp.deleteOnExit()
    val path = s"${tmp.getPath}/orders_part"
    Tables(spark, sfDir).orders.write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(path)
    val plan = planOf(
      spark.read.parquet(path).filter(col("o_orderstatus") === "O")
        .select("o_orderkey"))
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"expected the status predicate as a partition filter:\n$plan")
    // the data files no longer carry the partition column; nothing to push
    assert(plan.contains("PushedFilters: []"), plan)
  }

  test("searchAll pushes the term filter below the posting shuffle") {
    val docs = Tables(spark, sfDir).documents
    val plan = planOf(graft.llm.TextAnalysis.searchAll(
      docs, "doc_id", "text", Seq("data", "table")))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"expected a 2-column pruned scan:\n$plan")
    // the isin filter must sit under the first Exchange (map side of
    // the distinct), so the shuffle carries only query-term postings
    val firstExchange = plan.indexOf("Exchange")
    val lastFilter = plan.lastIndexOf("Filter")
    assert(firstExchange >= 0 && lastFilter > firstExchange,
      s"term filter should appear below the exchange:\n$plan")
  }

  test("rankShards manifest: every single-partition exchange feeds from an " +
    "aggregate, never raw corpus rows (two-level scan stays two-level)") {
    // the q_pack_rank_shards shape: a sparse composite sort key, where a
    // fixed-width block id would make the "summary" frame corpus-sized
    // and the global window a single-task sort of the corpus (the r10
    // verdict hazard). AQE off so executedPlan is a plain traversable
    // tree (the knnGraph-test convention).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val keyed = Tables(spark, sfDir).documents
        .select((col("n_chars") * (1L << 32) + col("doc_id")).as("k"))
      val out = graft.llm.Packing.rankShardManifest(
        graft.llm.Packing.rankShards(keyed, "k", numShards = 8,
          maxBlocks = 4096L), "k")
      val plan = out.queryExecution.executedPlan
      val single = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.numPartitions == 1 => e
      }
      assert(single.nonEmpty, s"expected the block-summary exchange:\n$plan")
      single.foreach { e =>
        assert(e.child.collect {
          case a if a.nodeName.toLowerCase.contains("aggregate") => a
        }.nonEmpty,
          s"single-partition exchange over a non-aggregated frame:\n$e")
      }
      // and no unpartitioned Window over a frame carrying the raw key
      // rows (the summary window's input is (blk, count) only)
      val logical = out.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      logical.foreach(w => assert(!w.child.output.map(_.name).contains("k"),
        s"global window over corpus rows:\n$w"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("suppressToK's null-safe multi-column anti join stays hash-based — no BNLJ") {
    // the <=> conjunction over a 3-column quasi key must plan as
    // hash-join keys (EqualNullSafe IS a supported equi-join key), not
    // degrade to a BroadcastNestedLoopJoin that goes quadratic at
    // corpus scale; both realistic shapes: small risky side (AQE
    // broadcast) and a near-unique quasi tuple (risky ≈ corpus, must
    // shuffle, still hash)
    val cust = Tables(spark, sfDir).customer
    val coarse = planOf(graft.reports.Privacy.suppressToK(
      cust, Seq("c_nationkey", "c_mktsegment"), k = 10))
    assert(!coarse.contains("BroadcastNestedLoopJoin") &&
      !coarse.contains("CartesianProduct"), coarse)
    assert(coarse.contains("LeftAnti"), s"expected an anti join:\n$coarse")
    val nearUnique = planOf(graft.reports.Privacy.suppressToK(
      cust, Seq("c_custkey", "c_nationkey", "c_name"), k = 2))
    assert(!nearUnique.contains("BroadcastNestedLoopJoin") &&
      !nearUnique.contains("CartesianProduct"), nearUnique)
    assert(nearUnique.contains("LeftAnti"), s"expected an anti join:\n$nearUnique")
  }

  test("r11 curation ops: all-equi joins, no NLJ/cartesian, no global " +
      "data-row windows") {
    val docs = Tables(spark, sfDir).documents
    val emb = Tables(spark, sfDir).embeddings

    // shingleNovelty: two content-keyed shuffles, equi joins only
    val novelty = planOf(graft.llm.TextAnalysis.shingleNovelty(
      docs, "doc_id", "text", k = 3))
    assert(!novelty.contains("BroadcastNestedLoopJoin") &&
      !novelty.contains("CartesianProduct"), novelty)
    assert(!novelty.contains("Window"), s"novelty needs no window:\n$novelty")

    // survivorship: winner semi-joins stay hash-based
    val surv = planOf(graft.llm.DedupOps.survivorship(
      docs, "doc_id", "text", "source"))
    assert(!surv.contains("BroadcastNestedLoopJoin") &&
      !surv.contains("CartesianProduct"), surv)
    assert(surv.contains("LeftSemi"), s"expected semi joins:\n$surv")

    // mrrByLabel: the label joins are equi joins on the bounded ranked
    // list — the ONLY nested-loop node allowed is cosineTopK's own
    // broadcast theta-join (tiny query side by design, q_id =!= c_id)
    val mrr = planOf(graft.llm.Ann.mrrByLabel(
      graft.llm.Ann.cosineTopK(emb.filter(col("vec_id") < 4), emb,
        "vec_id", "embedding", 3),
      emb, "vec_id", "label"))
    assert(mrr.split("BroadcastNestedLoopJoin").length - 1 <= 1, mrr)
    assert(!mrr.contains("CartesianProduct"), mrr)

    // chunkSourceStats: aggregation only — no window anywhere past the
    // offsets machinery (whose only unpartitioned window is the
    // block-summary scan, pinned separately)
    val tok = docs.select(col("doc_id"),
      graft.llm.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n"))
    val cs = graft.llm.Packing.chunkSourceStats(
      graft.llm.Packing.tokenStreamPack(tok, "doc_id", "n",
        capacity = 512L, blockSize = 64L),
      docs.select("doc_id", "source"), "doc_id", "source", capacity = 512L)
    val csLogical = cs.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    csLogical.foreach(w => assert(
      !w.child.output.map(_.name).contains("doc_id"),
      s"global window over corpus rows:\n$w"))
  }

  test("curriculumStages rides the two-level rank: single-partition " +
      "exchanges feed aggregates, never corpus rows") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = graft.llm.Sampling.curriculumStages(
        Tables(spark, sfDir).documents.select("doc_id", "n_chars"),
        "doc_id", "n_chars", stages = 4, maxBlocks = 64L)
      val plan = out.queryExecution.executedPlan
      val single = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.numPartitions == 1 => e
      }
      assert(single.nonEmpty, s"expected the block-summary exchange:\n$plan")
      single.foreach { e =>
        assert(e.child.collect {
          case a if a.nodeName.toLowerCase.contains("aggregate") => a
        }.nonEmpty,
          s"single-partition exchange over a non-aggregated frame:\n$e")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("RankStats rides the distinct-value two-level scan: single-partition " +
    "exchanges feed aggregates only, and no global window sees raw rows") {
    // mannWhitney/ksTest/spearman (and binPack's bucket ranks, the
    // per-group KM risk sets) rank a corpus without one-task sorts:
    // the ordered prefix runs over per-value counts blocked by
    // withBoundedBlocks, so every unpartitioned exchange/window input
    // must be an aggregate (block- or value-summary) frame
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables(spark, sfDir).documents
        .filter(col("lang").isin("en", "de"))
      for (out <- Seq(
          graft.llm.RankStats.mannWhitney(docs, "n_chars", "lang",
            maxBlocks = 64L),
          graft.llm.RankStats.ksTest(docs, "n_chars", "lang",
            maxBlocks = 64L),
          graft.llm.RankStats.spearman(
            Tables(spark, sfDir).documents.select("doc_id", "n_chars"),
            "doc_id", "n_chars", maxBlocks = 64L),
          graft.llm.RankStats.mannWhitneyPerSlice(
            Tables(spark, sfDir).documents, "n_chars", "lang",
            maxBlocks = 64L),
          graft.llm.RankStats.ksPerSlice(
            Tables(spark, sfDir).documents, "n_chars", "lang",
            maxBlocks = 64L),
          graft.llm.RankStats.wasserstein1(docs, "n_chars", "lang",
            maxBlocks = 64L),
          graft.llm.RankStats.exactQuantiles(
            Tables(spark, sfDir).documents.select("n_chars"),
            "n_chars", Seq(500L, 900L), maxBlocks = 64L),
          graft.llm.Packing.binPack(Tables(spark, sfDir).documents,
            "doc_id", "n_chars", capacity = 2048L, maxBlocks = 64L),
          graft.llm.Survival.kaplanMeierByGroup(
            docs.withColumn("e", col("doc_id") % 2L), "n_chars", "e",
            "lang", maxBlocks = 64L))) {
        val plan = out.queryExecution.executedPlan
        val single = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.outputPartitioning.numPartitions == 1 => e
        }
        single.foreach { e =>
          assert(e.child.collect {
            case a if a.nodeName.toLowerCase.contains("aggregate") => a
          }.nonEmpty,
            s"single-partition exchange over a non-aggregated frame:\n$e")
        }
        val logical = out.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        logical.foreach(w =>
          assert(!w.child.output.map(_.name).exists(n =>
            n == "_v" || n == "n_chars"),
            s"global window over raw value rows:\n$w"))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("InfoStats prunes scans to the referenced columns and keeps every " +
    "join aggregation-shaped (no nested loops over token frames)") {
    val docs = Tables(spark, sfDir).documents
    val miPlan = planOf(
      graft.llm.InfoStats.mutualInformation(docs, "lang", "source"))
    assert(miPlan.contains("ReadSchema: struct<lang:string,source:string>"),
      s"expected a 2-column pruned scan:\n$miPlan")
    // the only nested loops are the two broadcast crosses of 1-ROW
    // entropy aggregates (the house 1-row-cross pattern)
    assert(miPlan.split("BroadcastNestedLoopJoin").length - 1 <= 2 &&
      !miPlan.contains("CartesianProduct"), miPlan)
    val jsdPlan = planOf(
      graft.llm.InfoStats.tokenJsdBySlice(docs, "source", "text"))
    // the (slice, token) frame joins global counts on the TOKEN key
    // (equi) and slice totals by broadcast; the single allowed nested
    // loop is the 1-row corpus-total cross — a nested loop anywhere
    // else would be |tokens|x|slices| at corpus scale
    assert(jsdPlan.split("BroadcastNestedLoopJoin").length - 1 <= 1 &&
      !jsdPlan.contains("CartesianProduct"), jsdPlan)
    assert(jsdPlan.contains("ReadSchema: struct<text:string,source:string>"),
      s"expected a 2-column pruned scan:\n$jsdPlan")
    val essPlan = planOf(
      graft.llm.InfoStats.essWeights(docs, "lang", "n_chars"))
    assert(essPlan.contains("ReadSchema: struct<lang:string,n_chars:bigint>"),
      s"expected a 2-column pruned scan:\n$essPlan")
  }

  test("Bootstrap.replicateStats: explode feeds a map-side partial " +
    "aggregate — one exchange, broadcast replicate cross, no cartesian") {
    val docs = Tables(spark, sfDir).documents.select("doc_id", "n_chars")
    val plan = planOf(
      graft.llm.Bootstrap.replicateStats(docs, "doc_id", Seq("n_chars"),
        b = 16))
    // the b-row replicate frame crosses by BROADCAST nested loop (the
    // sanctioned tiny-side cross), never a CartesianProduct
    assert(plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // partial aggregation must run in the explode's stage: exactly one
    // shuffle (the final agg), with partial sums before it — b x corpus
    // rows must never cross the wire
    assert(plan.split("Exchange hashpartitioning").length - 1 === 1, plan)
    assert(plan.contains("partial_sum"), s"no map-side combine:\n$plan")
  }

  test("EmbeddingOps.secondMoments: one fused moment aggregate, no " +
    "corpus-sized explode, no self-join") {
    val emb = Tables(spark, sfDir).embeddings
    val plan = planOf(
      graft.llm.EmbeddingOps.secondMoments(emb, "embedding", 64))
    // r14: the d(d+1)/2-struct-per-row explode + decimal hash aggregate
    // is one TriMomentsAgg pass; the only Generate left re-materializes
    // the 2,080-cell grid ABOVE the aggregate (bounded, not corpus-sized)
    assert(plan.contains("partial_tri_moments"),
      s"no map-side combine:\n$plan")
    assert(plan.indexOf("Generate") < plan.indexOf("ObjectHashAggregate") ||
      plan.indexOf("Generate") === -1,
      s"the corpus-side explode should be fused into the aggregate:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashJoin"),
      s"covariance must not self-join the corpus:\n$plan")
    assert(plan.contains("ReadSchema: struct<embedding:array<float>>"),
      s"expected a 1-column pruned scan:\n$plan")
  }

  test("EmbeddingOps.linearCka: the returned plan is ONE corpus scan, " +
    "one tagged cell aggregate, ZERO joins (first moments ride back " +
    "as collected literals)") {
    val emb = Tables(spark, sfDir).embeddings.withColumn("coarse",
      transform(col("embedding"),
        v => floor(v.cast("double") * lit(4.0d)) / lit(4.0d)))
    val plan = planOf(
      graft.llm.EmbeddingOps.linearCka(emb, "embedding", "coarse", 64, 64))
    // the naive five-frame composition re-scanned the corpus per moment
    // frame (9 scans; pushed-down family filters defeat ReusedExchange)
    val scans = plan.split("Scan parquet").length - 1
    assert(scans === 1, s"expected exactly 1 corpus scan, got $scans:\n$plan")
    assert(!plan.contains("Join"), s"CKA needs no joins at all:\n$plan")
    // r14: the 8,256-struct-per-row explode + decimal hash aggregate is
    // now ONE fused moment aggregate (CkaMomentsAgg) — still map-side
    // partial (partial_cka_moments under ObjectHashAggregate), and the
    // per-row Generate explosion is gone entirely
    assert(plan.contains("partial_cka_moments"),
      s"no map-side combine:\n$plan")
    assert(!plan.contains("Generate"),
      s"the scatter-cell explode should be fused into the aggregate:\n$plan")
  }

  test("SpanCorrupt.maskSpans is a pure projection — zero shuffles") {
    val docs = Tables(spark, sfDir).documents
      .select(col("doc_id"), (length(col("text")) / 5).cast("long").as("n"))
    val plan = planOf(
      graft.llm.SpanCorrupt.maskSpans(docs, "doc_id", "n"))
    assert(!plan.contains("Exchange"),
      s"mask layout must not shuffle:\n$plan")
    assert(plan.contains("Generate explode"), plan)
  }

  test("conformalQuantile / ecdfNormalize ride the two-level scan — " +
    "no corpus-keyed row_number window, scans pruned") {
    val ev = Tables(spark, sfDir).events
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 1000).cast("long").as("s_m"))
    val plan = planOf(graft.llm.RankStats.conformalQuantile(
      ev, "s_m", "event_type"))
    // ranks come from per-(key, block) prefixes over DISTINCT values;
    // a row_number over the raw rows would sort a hot group on one task
    assert(!plan.contains("row_number"), s"row-level rank window:\n$plan")
    val ePlan = planOf(graft.llm.RankStats.ecdfNormalize(
      Tables(spark, sfDir).documents, "n_chars", "source"))
    assert(!ePlan.contains("row_number"), s"row-level rank window:\n$ePlan")
    assert(ePlan.contains("ReadSchema: struct<source:string,n_chars:bigint>"),
      s"expected a 2-column pruned scan:\n$ePlan")
  }

  test("cooccurrencePmi tokenizes the corpus exactly three times " +
    "(pairs, marginals via ONE melted join, their total) — the floor " +
    "without materializing the pair matrix") {
    val docs = Tables(spark, sfDir).documents
    val plan = planOf(graft.llm.TextAnalysis.cooccurrencePmi(docs, "text"))
    // two marginal joins would each re-evaluate the corpus-tokenizing
    // marg subplan and push this to 4
    val scans = plan.split("Scan parquet").length - 1
    assert(scans === 3, s"expected exactly 3 corpus scans, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("kendallTau: the within-block dominance join is hash/merge on the " +
    "block id (no BNLJ, no cartesian), and single-partition exchanges " +
    "feed aggregates only") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables(spark, sfDir).documents.select(
        expr("n_chars div 100").as("x"),
        (col("n_chars") % 37L).as("y"))
      val out = graft.llm.RankStats.kendallTau(docs, "x", "y",
        maxBlocks = 16L)
      val plan = out.queryExecution.executedPlan
      val planStr = plan.toString
      assert(!planStr.contains("CartesianProduct"), planStr)
      // the within-block dominance join must be an equi join on the
      // dense block id (the x'<x ∧ y'<y residual rides it) — a plain
      // theta join here would be cells² regardless of blocking
      assert(
        "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[_bid#".r
          .findFirstIn(planStr).isDefined,
        s"expected a hash/merge join keyed on _bid:\n$planStr")
      // nested-loop nodes are legal ONLY as 1-row broadcast merges (the
      // withBoundedBlocks span stats + the scalar aggregate cross
      // joins): every build side must be a grand aggregate (or reuse
      // one already checked)
      plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.foreach { j =>
        val scalarBuild = j.right.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
              if a.groupingExpressions.isEmpty => a
        }.nonEmpty || j.right.collect {
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
        }.nonEmpty
        assert(scalarBuild,
          s"BroadcastNestedLoopJoin over a non-scalar build side:\n$j")
      }
      val single = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.numPartitions == 1 => e
      }
      single.foreach { e =>
        assert(e.child.collect {
          case a if a.nodeName.toLowerCase.contains("aggregate") => a
        }.nonEmpty,
          s"single-partition exchange over a non-aggregated frame:\n$e")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("Survival rides the distinct-duration two-level scan: " +
    "single-partition exchanges feed aggregates only (the KM curve's " +
    "one global window sees the grid-bounded times frame, never subjects)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ev = Tables(spark, sfDir).events
      val subj = ev.select(
        (col("event_id") % 97L).as("t"),
        (col("event_id") % 2L).as("e"),
        concat(lit("arm_"), (col("user_id") % 2L).cast("string")).as("g"))
      for (out <- Seq(
          graft.llm.Survival.kaplanMeier(subj, "t", "e", maxBlocks = 16L),
          graft.llm.Survival.logRank(subj, "t", "e", "g",
            maxBlocks = 16L),
          graft.llm.Survival.kaplanMeierByGroup(subj, "t", "e", "g",
            maxBlocks = 16L),
          graft.llm.Survival.cumulativeIncidence(
            subj.withColumn("k", col("e") * (col("t") % 2L + 1L)),
            "t", "k", maxBlocks = 16L))) {
        val plan = out.queryExecution.executedPlan
        val single = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.outputPartitioning.numPartitions == 1 => e
        }
        single.foreach { e =>
          assert(e.child.collect {
            case a if a.nodeName.toLowerCase.contains("aggregate") => a
          }.nonEmpty,
            s"single-partition exchange over a non-aggregated frame:\n$e")
        }
        assert(!plan.toString.contains("CartesianProduct"), plan.toString)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("DedupIndex consumers read the pair STORE — zero shingle " +
    "explosions, one pairs scan, equi joins only") {
    val docs = Tables(spark, sfDir).documents
    val dir = java.nio.file.Files.createTempDirectory("dupstore").toFile
    try {
      val path = new java.io.File(dir, "pairs").getPath
      graft.llm.DedupIndex.writePairStore(docs, "doc_id", "text", path)
      val stored = graft.llm.DedupIndex.readPairs(spark, path)
      val plan = planOf(graft.llm.DedupIndex.sourceMatrix(
        stored, docs, "doc_id", "source"))
      // the r11 cost finding: each dup-family consumer re-ran the full
      // shingle→MinHash→LSH→Jaccard chain. From the store, the matrix
      // must contain NO token/shingle explosion at all and exactly one
      // scan of the pair parquet.
      assert(!plan.contains("Generate"),
        s"matrix over the store must not re-explode shingles:\n$plan")
      assert(plan.split("Scan parquet").length - 1 === 3,
        s"expected pairs scan + two source-label scans:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      val split = planOf(graft.llm.DedupIndex.splitLeakage(
        stored, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      assert(!split.contains("Generate") && !split.contains("Join"),
        s"leakage audit is pure pair-frame expressions:\n$split")
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(dir)
    }
  }

  test("the INCREMENTAL pair store serves consumers with the same " +
    "store-read plan shape — no shingle re-explosion, no cartesian") {
    val docs = Tables(spark, sfDir).documents
    val dir = java.nio.file.Files.createTempDirectory("incrstore").toFile
    try {
      val store = new java.io.File(dir, "store").getPath
      graft.llm.DedupIndex.appendPairBatch(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", store, 0L)
      graft.llm.DedupIndex.appendPairBatch(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", store, 1L)
      val stored = graft.llm.DedupIndex.readPairStore(spark, store)
      val plan = planOf(graft.llm.DedupIndex.sourceMatrix(
        stored, docs, "doc_id", "source"))
      // the corpus-append lifecycle must not cost its consumers
      // anything: reading the live store is the same pairs-sized
      // matrix plan as the one-shot store — the chain ran at APPEND
      // time, never at read time
      assert(!plan.contains("Generate"),
        s"matrix over the incremental store must not re-explode:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(dir)
    }
  }

  test("q_evt_asof_* bodies leave the session planner alone") {
    // a query body that registers rules or strategies on the shared
    // session would change how every later query in it is planned
    def graftRules = (spark.experimental.extraOptimizations ++
      spark.experimental.extraStrategies).map(_.getClass.getName)
      .filter(_.startsWith("graft."))
    val optimizations = spark.experimental.extraOptimizations
    val strategies = spark.experimental.extraStrategies
    Seq("q_evt_asof_join", "q_evt_asof_fwd", "q_evt_asof_nearest").foreach {
      face =>
        val got = SparkEntry.queries(face)(spark, sfDir).collect().toSeq
        assert(spark.experimental.extraOptimizations === optimizations, face)
        assert(spark.experimental.extraStrategies === strategies, face)
        assert(graftRules.isEmpty, s"$face: $graftRules")
        assert(got.nonEmpty, face)
    }
  }
}

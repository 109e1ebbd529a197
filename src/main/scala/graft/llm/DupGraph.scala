package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** Duplicate-cluster resolution: near-dup PAIRS (DedupOps.nearDupPairs,
  * embeddingNearDups, ...) are only half of dedup — a usable training
  * corpus needs each doc mapped to its duplicate CLUSTER and one
  * canonical representative kept per cluster. The pair graph's clusters
  * are its connected components.
  *
  * Algorithm: min-label propagation with pointer jumping. Every node
  * starts labeled with its own id; each round does
  *   (1) spread:   comp(v) ← min(comp(v), min over neighbors comp(u))
  *   (2) shortcut: comp(v) ← comp(comp(v))
  * Step 2 is the classic path-halving trick: labels chase the component
  * minimum through the LABEL graph, not the edge graph, so convergence
  * is O(log n) rounds even on a path graph — plain propagation is
  * O(diameter), which on a 100 TB corpus with chained near-dups (doc A ~
  * B ~ C ~ ...) is unbounded. Each round is two shuffles (neighbor-min
  * aggregate + label self-join), both on the id key.
  *
  * Scale notes: label state is one (id, component) row per VERTEX OF THE
  * PAIR GRAPH — near-dup vertices only, typically a small fraction of
  * the corpus; unpaired docs never enter the iteration and are attached
  * as singletons afterwards (dupClusters). Lineage is truncated per
  * round with an eager checkpoint (the round-i plan must not re-execute
  * rounds 1..i-1), and convergence is detected by the label-sum
  * invariant — labels only ever decrease, so sum(comp) is strictly
  * decreasing until the fixpoint; one cheap aggregate per round, no
  * changed-row join.
  *
  * Storage lifecycle: every intermediate checkpoint is released as soon
  * as its sole consumer has materialized — the edge list once `sym`
  * exists, round i−1's labels once round i's are checkpointed, `sym`
  * when the loop exits. Only the RETURNED labels frame stays persisted
  * (the caller still has to read it); release it with
  * `CheckpointBridge.unpersistCheckpoint` once consumed. Without the
  * per-round release a 20-round run pinned ~40 block sets for the rest
  * of the session (the round-3 bench regression).
  *
  * Durability: the default `localCheckpoint` stores blocks on executors
  * WITHOUT replication — fast, but losing one executor mid-iteration
  * kills the job, which on a 100 TB corpus is the difference between a
  * restartable job and a lost night. Pass `checkpointDir` (an HDFS/S3
  * path) to switch every round to a reliable `checkpoint()`: each
  * round's state is written to the shared filesystem and the job
  * survives executor loss. Checkpoint files accumulate for the ≤maxIter
  * rounds of one call; the caller owns deleting the directory afterwards
  * (or sets spark.cleaner.referenceTracking.cleanCheckpoints=true).
  */
object DupGraph {

  private def ckpt(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)

  /** Materialize a STATIC frame that every iteration joins on `key`:
    * default = repartition on the key + cache — InMemoryTableScan
    * PRESERVES the cached partitioning, so each sweep's sort-merge join
    * reuses the layout instead of re-shuffling the big static side.
    * (localCheckpoint wraps a LogicalRDD that DROPS outputPartitioning:
    * plan-audited, the edge frame re-entered Exchange every iteration.
    * At toy scale AQE hides this by broadcasting the rank side; at
    * cluster scale the per-vertex state outgrows broadcast and the
    * static side's repeated shuffle becomes the iteration bottleneck.)
    * `reliable` keeps the checkpoint path — durability beats the
    * re-shuffle when executor loss must be survivable. Returns the
    * frame and its release action.
    */
  private def staticFrame(df: DataFrame, key: String,
                          reliable: Boolean): (DataFrame, () => Unit) =
    if (reliable) {
      val c = df.checkpoint(eager = true)
      (c, () => { CheckpointBridge.unpersistCheckpoint(c); () })
    } else {
      val c = df.repartition(col(key)).cache()
      c.count()
      (c, () => { c.unpersist(); () })
    }

  /** Sets `checkpointDir` as the checkpoint directory when given; true
    * when it is, so rounds checkpoint reliably (see the durability note
    * above).
    */
  private def checkpointing(edges: DataFrame,
                            checkpointDir: Option[String]): Boolean = {
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    checkpointDir.isDefined
  }

  /** `edges` as an undirected simple graph (a, b): self loops dropped,
    * each remaining edge in both directions, once.
    */
  private def undirected(edges: DataFrame, src: String,
                         dst: String): DataFrame = {
    val e0 = edges.select(col(src).as("a"), col(dst).as("b"))
      .filter(col("a") =!= col("b"))
    e0.union(e0.select(col("b").as("a"), col("a").as("b"))).distinct()
  }

  /** Connected components of the undirected pair graph. Input: one row
    * per edge (src, dst). Output: (id, component) for every endpoint,
    * component = min id reachable. Deterministic for any partitioning.
    * `checkpointDir`: see the durability note above.
    */
  def connectedComponents(edges: DataFrame, src: String = "id1",
                          dst: String = "id2", maxIter: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = {
    val reliable = checkpointing(edges, checkpointDir)
    // materialize the edge list ONCE before fanning out: the union below
    // references it twice and every round joins it — without the eager
    // checkpoint an expensive upstream DAG (e.g. the whole MinHash-LSH
    // near-dup pipeline) would execute once per reference
    val e = ckpt(edges.select(col(src).as("a"), col(dst).as("b")), reliable)
    // laid out on the per-round join key b (see staticFrame): every
    // spread step joins sym("b") = labels("id") — without the layout
    // the full edge list re-entered Exchange every round
    val (sym, releaseSym) = staticFrame(
      e.union(e.select(col("b").as("a"), col("a").as("b"))).distinct(),
      "b", reliable)
    CheckpointBridge.unpersistCheckpoint(e) // sym holds its own blocks now
    var labels = ckpt(sym.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("component")), reliable)
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = sym.join(labels, sym("b") === labels("id"))
        .groupBy(col("a")).agg(min("component").as("nmin"))
      val spread = labels.join(nbrMin, labels("id") === nbrMin("a"), "left")
        .select(labels("id"),
          least(col("component"), coalesce(col("nmin"), col("component")))
            .as("component"))
      // components are always node ids (min only selects ids), so the
      // shortcut self-join is total: every comp value has a label row
      val ptr = spread.select(col("id").as("p_id"), col("component").as("p_comp"))
      val next = ckpt(spread.join(ptr, spread("component") === ptr("p_id"))
        .select(spread("id"), col("p_comp").as("component")), reliable)
      val s = next.agg(sum(col("component").cast("decimal(38,0)")).as("s"))
        .first().getDecimal(0)
      // null sum = EMPTY label frame (no edges at all): already a
      // fixpoint — without this case the loop would burn all maxIter
      // rounds of joins/checkpoints doing nothing
      converged = (s == null) ||
        (prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      // round i is safely in next's own blocks/files — release round i-1
      CheckpointBridge.unpersistCheckpoint(labels)
      labels = next
      it += 1
    }
    releaseSym()
    labels
  }

  /** Per-document cluster view over the WHOLE corpus: docs absent from
    * the pair graph are their own singleton component. `is_canonical`
    * marks the kept representative (min id of the cluster).
    */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                  src: String = "id1", dst: String = "id2",
                  checkpointDir: Option[String] = None): DataFrame = {
    val comps = connectedComponents(pairs, src, dst, checkpointDir = checkpointDir)
      .withColumnRenamed("id", "_cc_id")
    docs.join(comps, docs(idCol) === comps("_cc_id"), "left")
      .withColumn("component", coalesce(col("component"), docs(idCol)))
      .withColumn("is_canonical", col("component") === docs(idCol))
      .drop("_cc_id")
  }

  /** The deduplicated corpus: one doc per cluster (the min-id
    * representative), all unpaired docs untouched. The anti-join drops
    * exactly the non-canonical members.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, pairs: DataFrame,
                  src: String = "id1", dst: String = "id2",
                  checkpointDir: Option[String] = None): DataFrame =
    dupClusters(docs, idCol, pairs, src, dst, checkpointDir)
      .filter(col("is_canonical"))
      .drop("component", "is_canonical")

  /** Quality-aware cluster representative: instead of the min id,
    * keep each cluster's highest-`scoreCol` member (ties → lowest id) —
    * the practical dedup policy (keep the longest / best-quality copy,
    * drop the rest). Output: one row per cluster with the kept doc's
    * columns plus its `component`.
    *
    * The pick is two partial/final aggregates on the SAME component
    * key (best score, then min id among the score-tied rows — ties
    * break low for ANY orderable id type; the previous `-id` struct
    * trick silently null-casted string ids and picked an arbitrary
    * representative), then a semi-join pulls the winners' rows. No
    * window over the corpus: the shuffle carries one (component,
    * candidate) row per doc, and only clustered docs at that
    * (singletons pass through the aggregate with themselves as the
    * only candidate).
    */
  def bestPerCluster(docs: DataFrame, idCol: String, scoreCol: String,
                     pairs: DataFrame,
                     src: String = "id1", dst: String = "id2",
                     checkpointDir: Option[String] = None): DataFrame = {
    val clustered = dupClusters(docs, idCol, pairs, src, dst, checkpointDir)
    // winners derives FROM clustered — rename its columns so the join
    // predicate resolves against distinct attributes (a same-name ref
    // would collapse to the trivially-true self-comparison)
    val top = clustered.groupBy(col("component"))
      .agg(max(col(scoreCol)).as("_best"))
      .withColumnRenamed("component", "_bc")
    val winners = clustered
      .join(top, col("component") === col("_bc") &&
        col(scoreCol) === col("_best"))
      .groupBy(col("component")).agg(min(col(idCol)).as("_keep"))
      .withColumnRenamed("component", "_wc")
    clustered
      .join(winners,
        col("component") === col("_wc") && col(idCol) === col("_keep"))
      .select(col("component") +: docs.columns.map(col): _*)
  }

  /** Triangle count + global clustering coefficient of the pair graph —
    * the graph-shape diagnostic for a dedup/similarity graph (a high
    * coefficient means near-dup clusters are cliquey, so transitive
    * closure is safe; a low one means chains, where CC over-merges).
    *
    * Forward algorithm, joins only: orient every edge from its
    * lower-(degree, id) endpoint to the higher one, build wedges by
    * self-joining the oriented list on the source, close them with a
    * semi join on the (ordered) third edge. Each triangle is counted
    * exactly once (its nodes appear in total order), and the self-join
    * cost is Σ out-degree² = O(m^1.5) — the hub that would explode a
    * naive wedge join emits almost nothing because high-degree nodes
    * have tiny OUT-degree under degree orientation. Wedge total is
    * Σ d(d−1)/2 over raw degrees (exact integers).
    *
    * EAGER: the whole graph computation runs inside this call. The
    * one-row result comes back as a local frame (no lineage, no cache
    * entry), and the intermediates cached for the computation are
    * released before returning.
    */
  def triangleStats(pairs: DataFrame, src: String = "id1",
                    dst: String = "id2"): DataFrame = {
    val (out, cached) = trianglePlan(pairs, src, dst)
    materialize(out, cached)
  }

  /** [[triangleStats]] before materialization: the lazy one-row frame
    * and the intermediates it caches, which the caller must unpersist
    * once the frame has run (PlanAuditSpec audits this plan).
    */
  private[graft] def trianglePlan(pairs: DataFrame, src: String,
                                  dst: String): (DataFrame, Seq[DataFrame]) = {
    // cached: e0 is referenced SIX ways below (deg twice via the
    // union, withDeg, w1/w2 through fwd, the semi-join probe) and the
    // upstream pairs frame can be arbitrarily expensive (q_er_triangles
    // feeds the blocked-levenshtein cascade — uncached, its plan
    // re-expanded per reference to a 3,600-operator tree that both
    // re-planned and re-executed the cascade; r14 measure-first note).
    val e0 = pairs
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .cache()
    val deg = e0.select(col("a").as("v"))
      .union(e0.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = e0
      .join(deg.select(col("v").as("a"), col("d").as("_da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("_db")), "b")
    val fwd = withDeg.select(
      when(col("_da") < col("_db") ||
        (col("_da") === col("_db") && col("a") < col("b")),
        struct(col("a").as("s"), col("b").as("t"),
          col("_da").as("ds"), col("_db").as("dt")))
        .otherwise(struct(col("b").as("s"), col("a").as("t"),
          col("_db").as("ds"), col("_da").as("dt")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
      .cache() // three consumers below: w1, w2, the semi-join right side
    val w1 = fwd.select(col("s"), col("t").as("y"), col("dt").as("dy"))
    val w2 = fwd.select(col("s"), col("t").as("z"), col("dt").as("dz"))
    val wedges = w1.join(w2, "s")
      .filter(col("dy") < col("dz") ||
        (col("dy") === col("dz") && col("y") < col("z")))
    val tri = wedges.join(
        fwd.select(col("s").as("y"), col("t").as("z")), Seq("y", "z"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wtotal = deg.agg(
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val out = tri.crossJoin(broadcast(wtotal))
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          round(col("n_triangles") * 3 / col("n_wedges"), 6))
          .otherwise(lit(0.0)).as("clustering"))
    (out, Seq(e0, fwd))
  }

  /** Run a small result frame, release the intermediates cached for it,
    * and return its rows as a local frame. A long-lived session calling
    * the graph reports repeatedly then accumulates no storage: neither
    * the pinned intermediates nor a cached result the caller would have
    * to unpersist.
    */
  private def materialize(out: DataFrame, cached: Seq[DataFrame]): DataFrame = {
    val rows = try out.collect() finally cached.foreach(_.unpersist())
    out.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Integer-exact PageRank in micro-units (rank 1.0 ≡ 1,000,000).
    *
    * The usual floating-point PageRank is NOT cross-engine (or even
    * cross-partitioning) reproducible: the per-iteration Σ contrib is a
    * double sum whose value depends on addition order. This variant
    * keeps every quantity a non-negative Long and replaces each real
    * operation with its floor counterpart, so the result is bit-exact
    * for any partitioning and replayable in plain SQL:
    *
    *   contrib(v) = Σ_{u→v} rank(u) div outdeg(u)
    *   rank'(v)   = (1−d)·10⁶ + (dNum · contrib(v)) div dDen
    *
    * with damping d = dNum/dDen (default 17/20 = 0.85). The floor
    * divisions leak ≤1 micro-unit per edge per iteration, bounding the
    * drift vs the real-valued fixpoint at outdeg·iters micro-units —
    * noise at rank scale 10⁶, and identical noise in both engines.
    *
    * Semantics: `edges` is a DIRECTED multigraph; parallel edges are
    * collapsed. Dangling mass (nodes with no out-edges) evaporates, as
    * in the uniform-teleport formulation without dangling redistribution
    * — callers wanting the undirected behavior pass a symmetric edge
    * list (then no dangling nodes exist). Nodes receiving no in-links in
    * an iteration hold the teleport floor (1−d)·10⁶.
    *
    * Scale: the edge list joins the rank state on `src` each iteration
    * — the classic Pregel-on-DataFrame shape. Edges (with out-degree
    * attached) are checkpointed ONCE and reused; rank state is one
    * (id, rank) row per vertex, checkpointed per iteration so iteration
    * i's plan never re-executes 1..i−1 (same lineage discipline and
    * storage lifecycle as [[connectedComponents]]; same `checkpointDir`
    * durability escape hatch). Fixed iteration count — PageRank at
    * corpus scale runs a budgeted number of sweeps, not to convergence.
    */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
               iterations: Int = 5, dampNum: Long = 17L, dampDen: Long = 20L,
               checkpointDir: Option[String] = None): DataFrame =
    pageRankImpl(edges, src, dst, iterations, dampNum, dampDen, None,
      checkpointDir)

  /** Personalized PageRank: identical floor recurrence, but the
    * teleport mass lands ONLY on the `seeds` set — rank measures
    * proximity/relevance to the seeds rather than global centrality
    * (the "more like these trusted documents" ranking over a link or
    * similarity graph). Seeds start at 10⁶ micro-units, everyone else
    * at 0; a node unreachable from the seeds decays to exactly 0.
    * Bit-exact and SQL-replayable like [[pageRank]].
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           src: String = "src", dst: String = "dst",
                           idCol: String = "id", iterations: Int = 5,
                           dampNum: Long = 17L, dampDen: Long = 20L,
                           checkpointDir: Option[String] = None): DataFrame =
    pageRankImpl(edges, src, dst, iterations, dampNum, dampDen,
      Some(seeds.select(col(idCol).as("id")).distinct()), checkpointDir)

  private def pageRankImpl(edges: DataFrame, src: String, dst: String,
                           iterations: Int, dampNum: Long, dampDen: Long,
                           seeds: Option[DataFrame],
                           checkpointDir: Option[String]): DataFrame = {
    require(iterations >= 1 && dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"bad pageRank config: iterations=$iterations damping=$dampNum/$dampDen")
    val reliable = checkpointing(edges, checkpointDir)
    val teleport = 1000000L - (dampNum * 1000000L) / dampDen
    val e0 = edges.select(col(src).as("s"), col(dst).as("d")).distinct()
    val outdeg = e0.groupBy("s").agg(count(lit(1)).as("od"))
    // (s, d, od) materialized once, LAID OUT on the iteration join key —
    // every sweep scans it without another Exchange (see staticFrame)
    val (g, releaseG) = staticFrame(e0.join(outdeg, "s"), "s", reliable)
    val allNodes = e0.select(col("s").as("id"))
      .union(e0.select(col("d").as("id"))).distinct()
    // personalized: seeds flagged (teleport target), off-graph seeds kept
    val (nodes, releaseNodes) = staticFrame(seeds match {
      case None => allNodes.select(col("id"), lit(true).as("_tp"))
      case Some(sd) => allNodes.join(sd.select(col("id"), lit(true).as("_tp")),
          Seq("id"), "full")
        .select(col("id"), coalesce(col("_tp"), lit(false)).as("_tp"))
    }, "id", reliable)
    val tpCol = when(col("_tp"), lit(teleport)).otherwise(lit(0L))
    var ranks = ckpt(nodes.select(col("id"),
      when(col("_tp"), lit(1000000L)).otherwise(lit(0L)).as("rank")), reliable)
    for (_ <- 1 to iterations) {
      val contrib = g.join(ranks, g("s") === ranks("id"))
        .select(col("d"), expr("rank div od").as("c"))
        .groupBy("d").agg(sum("c").as("cb"))
      val next = ckpt(
        nodes.join(contrib, nodes("id") === contrib("d"), "left")
          .select(col("id"),
            (tpCol + expr(s"($dampNum * coalesce(cb, 0L)) div $dampDen"))
              .as("rank")),
        reliable)
      CheckpointBridge.unpersistCheckpoint(ranks)
      ranks = next
    }
    releaseG()
    releaseNodes()
    ranks.select(col("id"), col("rank").as("rank_micro"))
  }

  /** Multi-source BFS hop distances over an undirected graph: for every
    * node within `maxHops` of ANY source, the minimum hop count to the
    * nearest source. The reachability/radius primitive — "how far is
    * every document from a trusted seed set", contamination blast
    * radius over a link graph, cluster diameter probes.
    *
    * Algorithm: `maxHops` rounds of dense relaxation,
    * dist(v) ← min(dist(v), min over neighbors dist(u) + 1) — all
    * integer, deterministic, one equi join + min-aggregate per round on
    * the node key. Nodes beyond the budget simply don't appear (their
    * distance is unknown, not ∞). The frontier-delta optimization
    * (relax only newly-settled nodes) is deliberately skipped: it saves
    * work only when the frontier is a small fraction of the reached
    * set, and the dense form keeps every round replayable as one SQL
    * recurrence. Same per-round checkpoint lineage/storage discipline
    * as [[connectedComponents]].
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
                   src: String = "src", dst: String = "dst",
                   idCol: String = "id", maxHops: Int = 3,
                   checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val reliable = checkpointing(edges, checkpointDir)
    // laid out on the per-round join key b (see staticFrame)
    val (sym, releaseSym) =
      staticFrame(undirected(edges, src, dst), "b", reliable)
    var dist = ckpt(sources.select(col(idCol).as("id")).distinct()
      .select(col("id"), lit(0L).as("dist")), reliable)
    for (_ <- 1 to maxHops) {
      val relaxed = sym.join(dist, sym("b") === dist("id"))
        .select(col("a").as("id"), (col("dist") + 1L).as("dist"))
      val next = ckpt(dist.union(relaxed)
        .groupBy("id").agg(min("dist").as("dist")), reliable)
      CheckpointBridge.unpersistCheckpoint(dist)
      dist = next
    }
    releaseSym()
    dist
  }

  /** Synchronous label propagation (community detection), deterministic.
    *
    * Every node starts in its own community (label = id). Each round,
    * every node adopts the most frequent label among its NEIGHBORS,
    * breaking count ties by the smallest label; isolated opinions don't
    * drift (a node with no neighbors keeps its label). Classic LPA is
    * run asynchronously with random tie-breaks — useless as an oracle
    * target and irreproducible across partitionings; the synchronous
    * min-tie variant is fully deterministic and SQL-replayable, at the
    * cost of the known bipartite-oscillation mode (mitigated by the
    * fixed iteration budget — callers pick odd/even sweeps, not a
    * fixpoint).
    *
    * `edges` is treated as undirected (symmetrized internally). Each
    * round is two key shuffles: (node, neighbor-label) count, then the
    * argmax window over that reduced frame — the window input is at most
    * one row per (node, distinct neighbor label), never the raw edge
    * fan-out. Same per-round checkpoint lineage/storage discipline as
    * [[connectedComponents]].
    */
  def labelPropagation(edges: DataFrame, src: String = "src",
                       dst: String = "dst", iterations: Int = 3,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val reliable = checkpointing(edges, checkpointDir)
    // laid out on the per-sweep join key b (see staticFrame)
    val (sym, releaseSym) =
      staticFrame(undirected(edges, src, dst), "b", reliable)
    var labels = ckpt(sym.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl")), reliable)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(col("n").desc, col("lbl").asc)
    for (_ <- 1 to iterations) {
      val votes = sym.join(labels, sym("b") === labels("id"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("n"))
      val winner = votes.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("a").as("id"), col("lbl").as("wl"))
      val next = ckpt(
        labels.join(winner, Seq("id"), "left")
          .select(col("id"), coalesce(col("wl"), col("lbl")).as("lbl")),
        reliable)
      CheckpointBridge.unpersistCheckpoint(labels)
      labels = next
    }
    releaseSym()
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** k-core peeling: repeatedly drop vertices whose degree in the
    * CURRENT subgraph is < k (with all their edges), `rounds` times.
    * At a fixed point the survivors are exactly the k-core — the
    * maximal subgraph of minimum degree k, the standard dense-region /
    * spam-farm / bot-cluster detector (a review ring where everyone
    * co-reviews everyone survives a deep core; organic long-tail
    * activity peels away in the first rounds). Bounded `rounds` keeps
    * the operator deterministic and oracle-replayable whether or not
    * the peel has converged; callers wanting the true core iterate
    * until the edge count stops changing (kCoreSpec pins the fixpoint
    * on a known graph).
    *
    * Plan per round: one degree aggregate + two semi joins (edge ends
    * against the surviving vertex set) — all equi-shuffles on vertex
    * ids, no broadcast of anything vertex-sized, state checkpointed
    * per sweep like the other iterative graph ops (lineage stays flat
    * at any round count). Edges symmetrized+distinct'd once up front,
    * so "degree" counts distinct neighbors regardless of input
    * direction or duplication. Output: surviving `id` with `deg` in
    * the surviving subgraph.
    */
  def kCore(edges: DataFrame, k: Int, src: String = "src",
            dst: String = "dst", rounds: Int = 3,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val reliable = checkpointing(edges, checkpointDir)
    var cur = ckpt(undirected(edges, src, dst), reliable)
    for (_ <- 1 to rounds) {
      val alive = cur.groupBy("a").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("a"))
      val next = ckpt(
        cur.join(alive, Seq("a"), "left_semi")
          .join(alive.select(col("a").as("b")), Seq("b"), "left_semi"),
        reliable)
      CheckpointBridge.unpersistCheckpoint(cur)
      cur = next
    }
    // cur's last checkpoint stays live — the result reads through it
    // (same convention as labelPropagation's final labels frame)
    cur.groupBy("a").agg(count(lit(1)).cast("long").as("deg"))
      .select(col("a").as("id"), col("deg"))
  }

  /** Degree-distribution profile: vertices binned by ⌊log₂(degree)⌋
    * with per-bin count, exact degree range, and the (truncated) mean
    * NEIGHBOR degree — the one-page shape report for any graph: a
    * straight-line count column is a power law, and mean-neighbor-
    * degree falling as degree rises is disassortativity (hubs talk to
    * leaves — the bipartite/social signature; bot rings show the
    * opposite). The bin is `length(bin(deg)) − 1` — pure integer, no
    * libm log₂ whose rounding could flip a 2^k boundary between
    * engines. Cost: one degree aggregate, one neighbor-degree join
    * (equi, on the edge key), one |bins|-row summary; Σdeg arithmetic
    * stays in Longs.
    *
    * EAGER, like [[triangleStats]]: the profile is computed inside this
    * call and returned as a local |bins|-row frame, with the cached
    * intermediates already released.
    */
  def degreeProfile(edges: DataFrame, src: String = "src",
                    dst: String = "dst"): DataFrame = {
    // sym feeds both the degree aggregate and the neighbor join, and
    // deg feeds the join plus the final profile — cached so the
    // upstream edge derivation (q_graph_degree_profile's orders ⋈
    // lineitem distinct) runs once, not four times (recomputable,
    // unlike a checkpoint)
    val sym = undirected(edges, src, dst).cache()
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg")).cache()
    val nbr = sym
      .join(deg.select(col("a").as("b"), col("deg").as("_dd")), Seq("b"))
      .groupBy("a").agg(sum("_dd").as("_nds"))
    val out = deg.join(nbr, Seq("a"))
      .groupBy((length(bin(col("deg"))) - 1).cast("long").as("deg_bin"))
      .agg(count(lit(1)).cast("long").as("n_vertices"),
        min("deg").cast("long").as("deg_min"),
        max("deg").cast("long").as("deg_max"),
        expr("sum(_nds) div sum(deg)").cast("long").as("mean_nbr_deg"))
    materialize(out, Seq(sym, deg))
  }
}

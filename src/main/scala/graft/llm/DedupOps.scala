package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over a document corpus, all bucketed — no
  * all-pairs/crossJoin anywhere:
  *
  *  - exact: hash-groupBy on content hash (one shuffle on the hash key);
  *  - MinHash + LSH banding: shingle → per-permutation min-hash →
  *    band-key self-join (pairs only form inside a bucket) → exact
  *    Jaccard verification of candidates;
  *  - SimHash: 16-bit parity sketch, hammimg-near docs share the value.
  *
  * Scale: signatures are one explode+groupBy per corpus pass; the
  * candidate join's cost is sum(bucket²) not corpus², which LSH keeps
  * tiny when band width matches the target similarity threshold.
  * MinHash permutations are md5(seed||shingle) with lexicographic min —
  * a portable, deterministic hash family (identical in any engine with
  * md5).
  */
object DedupOps {

  /** Exact dedup: keep the lowest id per identical content; also usable
    * as stats (n vs n_distinct).
    */
  def exactDedupKeep(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_h", md5(col(textCol)))
      .groupBy("_h").agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))
      .drop("_h")

  /** Distinct (id, shingle) pairs — the set representation used by both
    * MinHash and exact-Jaccard verification.
    */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    TextAnalysis.explodeShingles(df, textCol, k, col(idCol))
      .distinct()

  /** MinHash signatures: numHashes permutations, permutation i =
    * min over shingles of md5("<i>|" || shingle). Output columns mh1..mhN.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 8, k: Int = 3): DataFrame = {
    // No distinct(): min over the shingle multiset equals min over the
    // set, so the dedup shuffle shingleSet pays is pure waste here —
    // one explode + one partial/final min-aggregate is the whole job.
    // The n independent min(md5) aggregates stay inside WholeStageCodegen;
    // measured FASTER at sf0.1 (3.9s) than a custom one-pass
    // TypedImperativeAggregate sketch of all n minima (6.8s), because
    // ObjectHashAggregate's interpreted per-row path costs more than
    // the digest-reuse saves.
    val sets = TextAnalysis.explodeShingles(df, textCol, k, col(idCol))
    val aggs = (1 to numHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("s")))).as(s"mh$i"))
    sets.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: band b covers permutations [b*rows+1 .. (b+1)*rows];
    * band key = md5 of the concatenated minhashes. Output
    * (id, band_id, band_key).
    */
  def lshBands(sigs: DataFrame, idCol: String, numHashes: Int = 8,
               rowsPerBand: Int = 4): DataFrame = {
    // posexplode over an array of band keys: ONE pass over the
    // signatures (a per-band union would recompute the signature
    // aggregation once per band — no exchange to reuse between branches).
    val numBands = numHashes / rowsPerBand
    val bandKeys = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand + 1 to (b + 1) * rowsPerBand)
        .map(i => col(s"mh$i"))
      md5(concat(cols: _*))
    }
    sigs.select(col(idCol),
      posexplode(array(bandKeys: _*)).as(Seq("band_id", "band_key")))
  }

  /** Candidate pairs: ids sharing any band bucket (id1 < id2). The join
    * key is (band_id, band_key) — a bucket-local join, never all-pairs.
    */
  def candidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col("band_id"), col("band_key"), col(idCol).as("id1"))
    val b = bands.select(col("band_id"), col("band_key"), col(idCol).as("id2"))
    a.join(b, Seq("band_id", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Equality blocking with a width guard: candidate pairs form inside
    * (blockCol, sub-block), where any block wider than `maxBlock`
    * members is re-split into ceil(n/maxBlock) deterministic sub-blocks
    * by an md5 hash of the id (portable — the oracle reproduces it).
    * Unguarded equality blocking is the classic blow-up: block cost is
    * Σ block², and a blocking key with heavy ties at corpus scale (many
    * documents share a length) turns one hot block quadratic. The cap
    * bounds every block at `maxBlock`, trading recall on oversized
    * blocks (cross-sub pairs are missed — the same trade LSH banding
    * makes) for a hard Σ block² ≤ n·maxBlock bound.
    */
  def blockedPairs(df: DataFrame, idCol: String, blockCol: String,
                   maxBlock: Int = 1024): DataFrame = {
    val counts = df.groupBy(col(blockCol)).agg(count(lit(1)).as("_bn"))
    val keyed = df.join(counts, Seq(blockCol))
      .withColumn("_nsplit",
        expr(s"(_bn + ${maxBlock - 1}) div $maxBlock"))
      // first 4 md5 hex digits as an int — same portable stride hash as
      // Ivf.fit's seeding; non-negative, so % is safe
      .withColumn("_sub",
        conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
          .cast("long") % col("_nsplit"))
      .select(col(blockCol), col("_sub"), col(idCol))
    val a = keyed.select(col(blockCol), col("_sub"), col(idCol).as("id1"))
    val b = keyed.select(col(blockCol), col("_sub"), col(idCol).as("id2"))
    a.join(b, Seq(blockCol, "_sub"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
  }

  /** Exact-substring deduplication at token granularity (the
    * ExactSubstr pass of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): find every token n-gram window that
    * occurs ≥ 2 times ACROSS THE CORPUS, keep its first occurrence
    * (lowest (doc, position) — the same keep-first convention as
    * [[paragraphDedup]]), and scrub every other occurrence's span from
    * its document. Doc-level dedup can't express this: a boilerplate
    * passage pasted into thousands of otherwise-distinct documents
    * survives every whole-doc and near-dup gate, and this is the
    * operator that removes it.
    *
    * Not a literal suffix array (the paper's tool): a fixed-width
    * sliding window at stride 1 finds exactly the duplicated substrings
    * of length ≥ n tokens (a repeat of length L ≥ n is covered by its
    * L−n+1 duplicated windows, whose union is the full repeated span),
    * at the cost of missing shorter repeats — n IS the minimum-match
    * length parameter, same as the paper's. The window is hashed (md5)
    * so the corpus-wide frequency shuffle moves 32-byte keys, not
    * n-token strings.
    *
    * Scale shape: one positional-window explode (corpus × 1 row per
    * window), a partial-aggregatable min(struct)+count per window hash
    * (hot boilerplate windows are ONE group each — never a window
    * function over occurrences), covered-position explode bounded by
    * n · dup-occurrences, and per-document reassembly via
    * sort_array(collect_list) — grouped by doc, so no global sort.
    *
    * Output per input doc: n_tokens, tokens_removed, n_spans (maximal
    * scrubbed runs), text_scrubbed (surviving tokens space-joined —
    * whitespace is normalized by reassembly, as in [[paragraphDedup]]).
    */
  def dupSpanScrub(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    require(n >= 1, s"window must be >= 1 token: $n")
    val id = col(idCol)
    val toks = df
      .withColumn("_toks", TextAnalysis.tokens(col(textCol)))
      .select(id, col("_toks"))
    // positional windows, 1-based start p covering tokens p .. p+n-1
    val wins = toks
      .select(id, posexplode(TextAnalysis.shingles(col("_toks"), n))
        .as(Seq("_i", "_w")))
      .select(id, (col("_i") + 1).as("_p"), md5(col("_w")).as("_wh"))
    val firsts = wins.groupBy("_wh").agg(
      min(struct(id.as("id"), col("_p").as("p"))).as("_first"),
      count(lit(1)).as("_df"))
    val dupOcc = wins.join(firsts, "_wh")
      .filter(col("_df") >= 2 &&
        !(id === col("_first.id") && col("_p") === col("_first.p")))
    val covered = dupOcc
      .select(id, explode(sequence(col("_p"), col("_p") + (n - 1))).as("_cp"))
      .distinct()
    // span count: maximal runs of covered positions (islands by p - rn)
    val islands = covered
      .withColumn("_rn", row_number().over(
        Window.partitionBy(id).orderBy(col("_cp"))))
      .groupBy(id)
      .agg(countDistinct(col("_cp") - col("_rn")).as("n_spans"),
        count(lit(1)).as("tokens_removed"))
    val ptoks = toks.select(id,
      posexplode(col("_toks")).as(Seq("_tp", "_t")))
      .select(id, (col("_tp") + 1).as("_cp"), col("_t"))
    val scrubbed = ptoks
      .join(covered, Seq(idCol, "_cp"), "left_anti")
      .groupBy(id)
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("_cp"), col("_t")))),
          x => x("_t"))).as("text_scrubbed"))
    toks.select(id, size(col("_toks")).cast("long").as("n_tokens"))
      .join(islands, Seq(idCol), "left")
      .join(scrubbed, Seq(idCol), "left")
      .na.fill(0L, Seq("n_spans", "tokens_removed"))
      .na.fill("", Seq("text_scrubbed"))
      .select(id, col("n_tokens"), col("tokens_removed"), col("n_spans"),
        col("text_scrubbed"))
  }

  /** Sorted-neighborhood blocking (record linkage): candidate pairs are
    * rows within `window` positions of each other in the GLOBAL order by
    * (sortKey, id) — the classic complement to equality blocking
    * ([[blockedPairs]]): equality blocking misses matches whose keys
    * differ slightly; sorted neighborhood catches anything whose keys
    * SORT near each other (typo'd prefixes, zero-padded ids, date
    * drift), at exactly `window`·n candidate pairs.
    *
    * Scale shape — the naive formulation (`row_number() OVER (ORDER BY
    * key)`) is the single-partition-window trap. Here the global rank
    * is computed distributed: range-repartition + partition-local sort
    * (one shuffle, the same one any global sort pays), then per-
    * partition offsets via `zipWithIndex` (driver sees one count per
    * partition, never rows). Pair generation is then a BUCKETED
    * equi-join on rank-bands of width `window` (a pair at distance ≤ w
    * lives in the same or adjacent band, so the a-side duplicates into
    * both bands) — never a theta-join on rank ranges.
    *
    * Envelope: non-null sort keys (Spark sorts nulls FIRST ascending,
    * DuckDB/ANSI last — normalize or filter nulls before calling).
    * Output (id1, id2, rank_dist) with id1 the lower-RANK side,
    * 1 ≤ rank_dist ≤ window.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
                              sortKeyCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val spark = df.sparkSession
    val sorted = df.select(col(idCol).as("_id"), col(sortKeyCol).as("_k"))
      .repartitionByRange(col("_k"), col("_id"))
      .sortWithinPartitions("_k", "_id")
    val schema = sorted.schema
      .add("_rnk", org.apache.spark.sql.types.LongType, nullable = false)
    val ranked = spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
      }, schema)
    val band = expr(s"(_rnk - 1) div $window")
    val a = ranked.select(col("_id").as("id1"), col("_rnk").as("_r1"),
        explode(array(band, band + 1)).as("_g"))
    val b = ranked.select(col("_id").as("id2"), col("_rnk").as("_r2"),
        band.as("_g"))
    a.join(b, "_g")
      .filter(col("_r2") > col("_r1") && col("_r2") <= col("_r1") + window)
      .select(col("id1"), col("id2"), (col("_r2") - col("_r1")).as("rank_dist"))
  }

  /** The refined candidate-group streams behind [[fuzzyPairs]] /
    * [[fuzzyGroupSizes]] — one source of truth for the adaptive keying.
    *
    * - `small`: rows of blocks within `maxBlock` — keyed by the block
    *   alone (the classic path; bit-identical to pre-adaptive output).
    * - `within`: rows of OVERSIZED blocks — keyed by (block, length
    *   band of width `bandW`, measured hash sub-split).
    * - `mTop` / `mBot`: the band-boundary margins of oversized blocks
    *   (strings within `maxDist` of a band edge) — keyed by (block,
    *   boundary index, measured hash sub-split); a cross join of the
    *   two sides recovers every pair banding would otherwise cut.
    */
  private case class FuzzyStreams(small: DataFrame, within: DataFrame,
                                  mTop: DataFrame, mBot: DataFrame,
                                  bandW: Int)

  private def fuzzyRefine(df: DataFrame, idCol: String, strCol: String,
                          blockCol: String, maxDist: Int,
                          maxBlock: Int): FuzzyStreams = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(maxBlock >= 2, s"maxBlock must be >= 2: $maxBlock")
    // band width: > maxDist guarantees a matching pair spans at most
    // adjacent bands; 8× keeps the boundary margins (width maxDist per
    // side) a thin slice of each band instead of half of it
    val w = 8 * (maxDist + 1)
    val subOf = (nsplitCol: Column) =>
      conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
        .cast("long") % nsplitCol
    // ceil-div in exact integer arithmetic (Column./ would go double)
    val nsplitOf = (nColName: String) =>
      expr(s"($nColName + ${maxBlock - 1}) div $maxBlock")
    val counts = df.groupBy(col(blockCol)).agg(count(lit(1)).as("_bn"))
    val base = df.select(col(blockCol), col(idCol), col(strCol))
      .join(counts, Seq(blockCol))
    val small = base.filter(col("_bn") <= maxBlock)
      .select(col(blockCol), col(idCol), col(strCol))
    val big = base.filter(col("_bn") > maxBlock)
      .withColumn("_len", length(col(strCol)))
      .withColumn("_band", expr(s"_len div $w"))
    val bandCounts = big.groupBy(col(blockCol), col("_band"))
      .agg(count(lit(1)).as("_gn"))
    val within = big.join(bandCounts, Seq(blockCol, "_band"))
      .withColumn("_sub", subOf(nsplitOf("_gn")))
      .select(col(blockCol), col("_band"), col("_sub"), col(idCol), col(strCol))
    // margins: top slice of band g (len in [(g+1)w − maxDist, (g+1)w − 1])
    // meets the bottom slice of band g+1 (len in [(g+1)w, (g+1)w + maxDist − 1])
    // at boundary g+1 — together they hold every adjacent-band pair
    val mTop0 = big.filter(col("_len") % w >= w - maxDist)
      .select(col(blockCol), (col("_band") + 1).as("_mb"), col(idCol), col(strCol))
    val mBot0 = big.filter(col("_len") % w < maxDist)
      .select(col(blockCol), col("_band").as("_mb"), col(idCol), col(strCol))
    val mCounts = mTop0.select(col(blockCol), col("_mb"))
      .unionAll(mBot0.select(col(blockCol), col("_mb")))
      .groupBy(col(blockCol), col("_mb")).agg(count(lit(1)).as("_mn"))
    def subbed(m: DataFrame) = m.join(mCounts, Seq(blockCol, "_mb"))
      .withColumn("_sub", subOf(nsplitOf("_mn")))
      .select(col(blockCol), col("_mb"), col("_sub"), col(idCol), col(strCol))
    FuzzyStreams(small, within, subbed(mTop0), subbed(mBot0), w)
  }

  /** Blocked fuzzy-match pairs (record linkage / entity resolution):
    * candidate pairs form inside equality blocks and survive iff edit
    * distance ≤ `maxDist`. Two pair-killers run in cost order: the
    * length pre-filter (|len a − len b| > maxDist can never match, a
    * free column compare) before the edit distance, and the edit
    * distance itself runs through Spark's thresholded
    * `levenshtein(l, r, k)` which abandons a pair as soon as its
    * running minimum exceeds k — O(k·len) per pair instead of O(len²).
    *
    * Scale safety is a measured, ADAPTIVE cascade keyed off the actual
    * block cardinalities (one tiny aggregate per level):
    *  1. blocks ≤ `maxBlock`: plain within-block self-join (recall
    *     bounded only by the caller's blocking key, as always);
    *  2. oversized blocks refine by a LENGTH BAND of width
    *     8·(maxDist+1) — LOSSLESS, because a pair at distance ≤
    *     maxDist differs in length by ≤ maxDist < band width, so it is
    *     either within one band or recovered by the boundary-margin
    *     join (the `maxDist`-wide slices either side of a band edge);
    *     a length band is chosen over a longer blocking prefix because
    *     a prefix extension silently drops any pair whose edit sits
    *     inside the added prefix — banding drops nothing;
    *  3. a (block, band) or margin group STILL over `maxBlock` hash
    *     sub-splits on the id (the only lossy step, now two refinement
    *     levels deep instead of the first resort; pairs straddling
    *     sub-splits of a same-length pileup are the documented miss).
    * Candidate cost is therefore ≤ Σ group·maxBlock with every group
    * measured, never assumed — see [[fuzzyGroupSizes]] for the audit.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                 blockCol: String, maxDist: Int,
                 maxBlock: Int = 1024): DataFrame = {
    val st = fuzzyRefine(df, idCol, strCol, blockCol, maxDist, maxBlock)
    def half(d: DataFrame, n: Int) = d.select(
      d.columns.dropRight(2).map(col) :+
        col(idCol).as(s"id$n") :+ col(strCol).as(s"_s$n"): _*)
    val smallPairs = half(st.small, 1).join(half(st.small, 2), Seq(blockCol))
      .filter(col("id1") < col("id2"))
    val withinPairs = half(st.within, 1)
      .join(half(st.within, 2), Seq(blockCol, "_band", "_sub"))
      .filter(col("id1") < col("id2"))
    // margin roles are disjoint bands, so each pair appears once;
    // canonicalize the id order (levenshtein is symmetric — strings stay)
    val marginPairs = half(st.mTop, 1).join(half(st.mBot, 2), Seq(blockCol, "_mb", "_sub"))
      .select(least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"), col("_s1"), col("_s2"))
    (smallPairs.select("id1", "id2", "_s1", "_s2")
      unionAll withinPairs.select("id1", "id2", "_s1", "_s2")
      unionAll marginPairs)
      .filter(abs(length(col("_s1")) - length(col("_s2"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("_s1"), col("_s2"), maxDist).cast("long"))
      .filter(col("dist") >= 0) // thresholded form returns -1 past maxDist
      .select("id1", "id2", "dist")
  }

  /** The scale audit for [[fuzzyPairs]]: per refinement path, how many
    * candidate groups exist and the largest one — `max_rows` ≤
    * `maxBlock` on `band_sub` and `margin` rows is the bounded-work
    * guarantee (the `block` path is only ever populated by blocks the
    * cascade left alone). One row per path that has any groups:
    * (path, n_groups, max_rows, rows_total).
    */
  def fuzzyGroupSizes(df: DataFrame, idCol: String, strCol: String,
                      blockCol: String, maxDist: Int,
                      maxBlock: Int = 1024): DataFrame = {
    val st = fuzzyRefine(df, idCol, strCol, blockCol, maxDist, maxBlock)
    def sizes(d: DataFrame, path: String, keys: Seq[String]) =
      d.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
        .agg(count(lit(1)).as("n_groups"), max(col("_n")).as("max_rows"),
          sum(col("_n")).as("rows_total"))
        .select(lit(path).as("path"), col("n_groups"), col("max_rows"),
          col("rows_total"))
        .filter(col("n_groups") > 0)
    sizes(st.small, "block", Seq(blockCol))
      .unionAll(sizes(st.within, "band_sub", Seq(blockCol, "_band", "_sub")))
      .unionAll(sizes(
        st.mTop.unionAll(st.mBot), "margin", Seq(blockCol, "_mb", "_sub")))
  }

  /** Split-leakage audit — eval integrity's other half: verified
    * near-duplicate pairs that STRADDLE train/val/test splits. Doc-
    * level decontamination ([[Decontam]]) guards against a KNOWN
    * benchmark; this catches contamination the split itself creates —
    * a test document whose near-copy landed in train inflates eval
    * exactly like benchmark leakage. Pairs come from the bucketed
    * MinHash-LSH path ([[nearDupPairs]] — LSH candidates, exact
    * Jaccard ≥ num/den verify), and the split labels attach as PURE
    * EXPRESSIONS of the ids ([[Sampling.splitLabel]]) — no join back
    * to the corpus. Inherits nearDupPairs' cached-frame contract:
    * release via `.unpersist()`/releaseAll when done.
    */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   splits: Seq[(String, Double)],
                   thresholdNum: Int = 8, thresholdDen: Int = 10,
                   numHashes: Int = 8, rowsPerBand: Int = 4,
                   k: Int = 3): DataFrame =
    DedupIndex.splitLeakage(
      nearDupPairs(df, idCol, textCol, numHashes, rowsPerBand, k),
      splits, thresholdNum, thresholdDen)

  /** The FIX for what [[splitLeakage]] measures: split assignment by
    * near-dup CLUSTER, not by document — every member of a connected
    * near-dup component hashes the component's min id, so a duplicate
    * pair can never straddle train/val/test (zero leakage BY
    * CONSTRUCTION, not by audit). Singleton docs hash their own id,
    * i.e. exactly the plain [[Sampling.splitLabel]] assignment — the
    * corpus-wide split proportions drift only by the (small) mass of
    * multi-doc clusters.
    *
    * Shape: the same LSH+Jaccard pair machinery as [[nearDupPairs]] +
    * DupGraph's O(log n) pointer-jumping components + a pure hash
    * expression for the label — no extra corpus-sized shuffle beyond
    * the dedup stack itself.
    *
    * GROWTH-STABILITY CAVEAT: this is a FROZEN-corpus operator. The
    * component id is the cluster's min doc id, so re-running on a grown
    * corpus can migrate whole clusters across splits — a later-ingested
    * doc with a lower id (or one bridging two clusters) changes the min
    * and re-hashes everyone. Zero leakage still holds per run, but
    * train/val membership is NOT stable across corpus versions. For a
    * growing corpus use [[IncrementalSplit]] /
    * [[graft.streaming.SplitStream]]: assignments persist, new docs
    * inherit their cluster's split, merges keep the oldest assignment,
    * and only genuinely new clusters hash fresh.
    */
  def leakFreeSplit(df: DataFrame, idCol: String, textCol: String,
                    splits: Seq[(String, Double)],
                    thresholdNum: Int = 8, thresholdDen: Int = 10,
                    numHashes: Int = 8, rowsPerBand: Int = 4,
                    k: Int = 3): DataFrame =
    DedupIndex.leakFreeSplit(
      nearDupPairs(df, idCol, textCol, numHashes, rowsPerBand, k),
      df, idCol, splits, thresholdNum, thresholdDen)

  /** Exact Jaccard verification of candidate pairs, as integer
    * numerator/denominator (|A∩B|, |A∪B|) — exact across engines, the
    * caller applies the threshold (e.g. n*10 >= d*8 for 0.8).
    */
  def jaccardVerify(pairs: DataFrame, sets: DataFrame, idCol: String): DataFrame = {
    val sizes = sets.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val sa = sets.select(col(idCol).as("id1"), col("s"))
    val sb = sets.select(col(idCol).as("id2"), col("s"))
    val inter = pairs
      .join(sa, "id1").join(sb, Seq("id2", "s"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("jaccard_n"))
    pairs
      .join(inter, Seq("id1", "id2"), "left")
      .na.fill(0L, Seq("jaccard_n"))
      .join(sizes.withColumnRenamed("sz", "sz1").withColumnRenamed(idCol, "id1"), "id1")
      .join(sizes.withColumnRenamed("sz", "sz2").withColumnRenamed(idCol, "id2"), "id2")
      .select(col("id1"), col("id2"), col("jaccard_n"),
        (col("sz1") + col("sz2") - col("jaccard_n")).as("jaccard_d"))
  }

  /** End-to-end MinHash-LSH near-dup pairs with verified Jaccard. The
    * distinct shingle set is computed once and cached — it feeds both
    * the signature aggregation (min over the SET equals min over the
    * multiset, so using the deduped set is exact) and the Jaccard
    * verification, saving a full shingle-explosion pass over the corpus.
    *
    * Storage lifecycle: the shingle cache is function-scoped — the
    * verified pairs (a bounded candidate set, tiny next to the shingle
    * explosion) are materialized eagerly into their own cache and the
    * shingle blocks released before returning. The returned frame is a
    * plain cached DataFrame: evict it with `.unpersist()` when done
    * (recompute-on-eviction stays correct, just uncached).
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 8, rowsPerBand: Int = 4, k: Int = 3): DataFrame = {
    val sets = shingleSet(df, idCol, textCol, k).cache()
    val aggs = (1 to numHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("s")))).as(s"mh$i"))
    val sigs = sets.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val pairs = candidatePairs(lshBands(sigs, idCol, numHashes, rowsPerBand), idCol)
    val out = jaccardVerify(pairs, sets, idCol).cache()
    out.count() // materialize: every consumer of `sets` has now run
    sets.unpersist()
    out
  }

  /** Cross-source duplication matrix — WHICH sources mirror which:
    * verified near-dup pairs ([[nearDupPairs]], Jaccard ≥ 0.8 by
    * integer cross-multiply) rolled up to unordered source pairs. A
    * heavy off-diagonal cell says one source republishes another
    * (dedup them jointly, or drop the mirror); a heavy diagonal says
    * the source self-duplicates (templating/boilerplate). The rollup
    * is two id-keyed equi-joins over the pairs frame (pairs-sized,
    * ≪ corpus) + one keyed aggregate. NULL sources raise — least/
    * greatest SKIP NULLs, so a cross-source (A, NULL) pair would
    * silently collapse onto the (A, A) diagonal and flip the verdict
    * from "mirrored" to "templating". Inherits nearDupPairs'
    * cached-frame contract: release via `.unpersist()`/releaseAll
    * when done.
    */
  def dupSourceMatrix(df: DataFrame, idCol: String, textCol: String,
                      srcCol: String): DataFrame =
    DedupIndex.sourceMatrix(nearDupPairs(df, idCol, textCol), df, idCol,
      srcCol)

  /** Asymmetric containment near-duplicates: pairs where one document's
    * shingle set is (nearly) CONTAINED in the other's —
    * containment(a⊆b) = |S(a)∩S(b)| / |S(a)|. The inclusion complement
    * of [[nearDupPairs]]: a short document quoted whole inside a long
    * one has low Jaccard (tiny intersection over a big union) but
    * containment ≈ 1, so MinHash-LSH — whose collision probability IS
    * Jaccard — structurally misses it. Candidates instead form on
    * SHARED RARE SHINGLES: only shingles with document frequency ≤
    * `maxDf` join, the same hot-key exclusion as winnowOverlapPairs, so
    * candidate cost is bounded by Σ df² ≤ maxDf · |postings| — linear
    * in the corpus for fixed maxDf, never all-pairs. Recall trade,
    * stated honestly: pairs sharing ONLY corpus-hot boilerplate
    * shingles are excluded by design (boilerplate containment is
    * [[graft.llm.Boilerplate]]'s job).
    *
    * Output: (id1, id2, inter_n, sz1, sz2, cont1_bp, cont2_bp) with
    * containments in integer basis points (exact cross-engine, no
    * doubles); kept iff either direction ≥ `thresholdBp`. Shingle cache
    * is function-scoped, same lifecycle as [[nearDupPairs]].
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, maxDf: Int = 64,
                       thresholdBp: Long = 8000L): DataFrame = {
    val sets = shingleSet(df, idCol, textCol, k).cache()
    val sdf = sets.groupBy(col("s")).agg(count(lit(1)).as("_df"))
    // rare/hot PARTITION the shingle space, so the pair intersection
    // decomposes as |∩| = |rare∩| + |hot∩|. Counting each side on its
    // own postings subset avoids the naive plan (candidate pairs
    // re-joined against the FULL postings list), which re-walks both
    // documents' entire shingle sets per pair — measured 17.4s → the
    // split form at sf0.1. rare∩ falls out of the candidate self-join
    // itself (one aggregate, no distinct pass); hot∩ touches only
    // surviving candidates × the small hot postings slice.
    val flagged = sets.join(sdf, Seq("s"))
      .select(col(idCol), col("s"), (col("_df") <= maxDf).as("_rare"))
      .cache()
    val rare = flagged.filter(col("_rare")).select(col(idCol), col("s"))
    val hot = flagged.filter(!col("_rare")).select(col(idCol), col("s"))
    val rareInter = rare.select(col(idCol).as("id1"), col("s"))
      .join(rare.select(col(idCol).as("id2"), col("s")), Seq("s"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("_n_rare"))
    val hotInter = rareInter.select("id1", "id2")
      .join(hot.select(col(idCol).as("id1"), col("s")), Seq("id1"))
      .join(hot.select(col(idCol).as("id2"), col("s")), Seq("id2", "s"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("_n_hot"))
    val sizes = sets.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val out = rareInter
      .join(hotInter, Seq("id1", "id2"), "left")
      .select(col("id1"), col("id2"),
        (col("_n_rare") + coalesce(col("_n_hot"), lit(0L))).as("inter_n"))
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), Seq("id1"))
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("inter_n"), col("sz1"), col("sz2"),
        expr("inter_n * 10000 div sz1").as("cont1_bp"),
        expr("inter_n * 10000 div sz2").as("cont2_bp"))
      .filter(col("cont1_bp") >= thresholdBp || col("cont2_bp") >= thresholdBp)
      .cache()
    out.count() // materialize: every consumer of the caches has now run
    flagged.unpersist()
    sets.unpersist()
    out
  }

  /** Signature width sized to the corpus: floor(log₂(n / targetBucket)),
    * clamped to [1, 16], so the EXPECTED bucket width stays ≈targetBucket
    * as n grows — candidate-join cost ≈ tables · n · targetBucket, linear
    * in n. A fixed width is quadratic: n²/2^bits pairs. Computed with
    * exact integer shift comparisons (portable to any SQL engine — float
    * log2 could flip a ceil/floor by one ULP at exact powers of two).
    */
  def deriveBits(n: Long, targetBucket: Long = 64L): Int =
    math.max(1, (1 to 16).count(b => (1L << b) * targetBucket <= n))

  /** Embedding-cosine near-duplicates: pairs of vectors whose cosine
    * similarity exceeds `threshold`, found via the multi-table
    * hyperplane LSH buckets (candidates only form inside a shared
    * bucket — never all-pairs) and verified with the exact cosine.
    * The embedding-space complement of MinHash near-dup: catches
    * semantic duplicates that share no shingles.
    *
    * `bits` defaults to [[deriveBits]] of the corpus count: expected
    * bucket width stays constant as the corpus grows. Per-table recall
    * for similarity s is p^bits (p = 1 - arccos(s)/π), OR'd across
    * `tables` — at near-dup thresholds (≥0.95, p≈0.9) recall stays high;
    * widen `tables` rather than shrinking `bits` if more is needed.
    *
    * At scale pass `corpusCount` (usually already known to the caller)
    * to skip the sizing count; the vector dimension probe is a limit-1
    * read of the narrow vecCol projection, not a corpus pass. The bucket
    * cache is function-scoped: the verified pairs are materialized
    * eagerly and the bucket blocks released before returning — the
    * returned frame is a plain cached DataFrame, `.unpersist()` it when
    * consumed.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95,
                        bits: Option[Int] = None, tables: Int = 4,
                        corpusCount: Option[Long] = None): DataFrame = {
    val nBits = bits.getOrElse(deriveBits(corpusCount.getOrElse(df.count())))
    // empty (or fully pre-filtered) corpus: no pairs — return an empty,
    // correctly-typed frame instead of crashing on the dimension probe
    // (the Quant.pqFit headOption idiom)
    val dimOpt = df.select(size(col(vecCol)).as("_d")).limit(1).collect()
      .headOption.map(_.getInt(0))
    if (dimOpt.isEmpty)
      return df.select(col(idCol).as("id1"), col(idCol).as("id2"),
        lit(0.0).as("cosine")).limit(0)
    val dim = dimOpt.get
    // cache the bucket table: it feeds BOTH sides of the pair self-join
    // (uncached it would recompute the posexplode+aggregate twice)
    val buckets = Ann.lshBucketsMulti(df, idCol, vecCol, dim, nBits, tables)
      .cache()
    // pair up IDS ONLY inside buckets — narrow rows through the join and
    // the dedup shuffle; vectors re-attach afterwards, once per side.
    // Carrying the d-dim arrays through the candidate join is the
    // anti-pattern this avoids.
    val a = buckets.select(col("table_id"), col("bucket"), col(idCol).as("id1"))
    val b = buckets.select(col("table_id"), col("bucket"), col(idCol).as("id2"))
    val pairs = a.join(b, Seq("table_id", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val vecs = df.select(col(idCol),
      col(vecCol).as("_v"), Ann.l2norm(col(vecCol)).as("_n"))
    val out = pairs
      .join(vecs.select(col(idCol).as("id1"), col("_v").as("v1"), col("_n").as("n1")), "id1")
      .join(vecs.select(col(idCol).as("id2"), col("_v").as("v2"), col("_n").as("n2")), "id2")
      .withColumn("cosine",
        round(Ann.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
      .cache()
    out.count() // materialize: the candidate join has consumed the buckets
    buckets.unpersist()
    out
  }

  /** SemDeDup-style SEMANTIC deduplication: partition the corpus with
    * the IVF coarse quantizer's k-means cells ([[Ivf.fit]] — the
    * clustered locality that hyperplane buckets approximate), then
    * inside each cell drop every vector that has a LOWER-id neighbor
    * with cosine ≥ `threshold`. Returns one row per vector:
    * (idCol, cell, keep) — `keep=false` rows are the semantic dups a
    * curation pipeline removes (arXiv:2303.09540's recipe, with the
    * engine's keep-lowest-id convention from [[exactDedupKeep]]).
    *
    * The drop rule is per-PAIR, not a transitive closure: a kept doc is
    * one with no smaller-id near-neighbor in its cell, matching
    * SemDeDup's practice of thresholding within clusters (cross-cluster
    * near-dups are the quantizer's recall loss, same as IVF search).
    * Deterministic end-to-end (deterministic k-means + round(cos,4)),
    * so the whole pipeline is SQL-expressible — q_llm_semantic_dedup
    * carries the full fit+dedup DuckDB oracle.
    *
    * Scale shape: the pair join keys on `cell` — Σ cell² work, the same
    * envelope as every bucketed candidate generator here; k sizes the
    * cells (k ≈ n/targetCellWidth keeps expected width constant, the
    * [[deriveBits]] argument in cluster form). Ids-only rows go through
    * the join; vectors attach once per side. A skewed cell (one giant
    * semantic cluster) is the hazard — raise k or pre-split hot cells
    * the way blockedPairs re-splits wide blocks.
    */
  def semanticDedup(df: DataFrame, index: Ivf.Index, idCol: String,
                    vecCol: String, threshold: Double = 0.95): DataFrame = {
    val assigned = df.join(index.assignments, idCol)
      .select(col(idCol), col(vecCol), col("cell"))
    // ids-only candidate join (each id lives in exactly ONE cell, so the
    // pairs are already unique — no dedup shuffle); vectors re-attach
    // once per side, the embeddingNearDups discipline
    val idsA = assigned.select(col("cell"), col(idCol).as("id1"))
    val idsB = assigned.select(col("cell"), col(idCol).as("id2"))
    val pairs = idsA.join(idsB, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
    val vecs = df.select(col(idCol),
      col(vecCol).as("_v"), Ann.l2norm(col(vecCol)).as("_n"))
    val drops = pairs
      .join(vecs.select(col(idCol).as("id1"), col("_v").as("v1"), col("_n").as("n1")), "id1")
      .join(vecs.select(col(idCol).as("id2"), col("_v").as("v2"), col("_n").as("n2")), "id2")
      .withColumn("cosine",
        round(Ann.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("id2").as(idCol)).distinct()
    assigned.select(col(idCol), col("cell").cast("long").as("cell"))
      .join(drops.withColumn("_drop", lit(true)), Seq(idCol), "left")
      .withColumn("keep", col("_drop").isNull)
      .drop("_drop")
  }

  /** Distinct (id, token-md5) rows — the vote source for both SimHash
    * widths.
    */
  private def tokenHashes(df: DataFrame, idCol: String, textCol: String) =
    df.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .distinct()
      .withColumn("h", md5(col("t")))

  /** Hex digit p (0-based) of the token md5, as 0..15. */
  private def hexDigit(p: Int): Column =
    expr(s"instr('0123456789abcdef', substring(h, ${p + 1}, 1)) - 1")

  /** 16-bit SimHash from token md5s: bit i = sign of the sum over
    * distinct tokens of ±1, where the vote is the parity of hex digit
    * i of md5(token). Integer votes → engines agree exactly.
    *
    * The votes aggregate as 16 parallel `sum()` columns over the
    * (id, token) rows — NOT an explode to (id, bit) rows: the wide-agg
    * shape shuffles one 16-long partial per doc per input partition
    * (map-side combine) instead of 16× the token stream through a
    * (doc, bit) exchange. Measured 7.0s → sub-second at sf0.1 on the
    * 64-bit variant below.
    */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val votes = (0 until 16).map { i =>
      sum(when(hexDigit(i) % 2 === 0, 1).otherwise(-1)).as(s"_v$i")
    }
    val v = tokenHashes(df, idCol, textCol)
      .groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sketch = (0 until 16)
      .map(i => when(col(s"_v$i") > 0, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    v.select(col(idCol), sketch.as("simhash"))
  }

  /** 64-bit SimHash as four 16-bit chunks (`sh0..sh3`) — the width that
    * makes Hamming-distance blocking usable at corpus scale (16-bit
    * [[simhash16]] has only 2¹⁶ values per chunk-of-4, so its blocks go
    * quadratic; 16-bit chunks of a 64-bit sketch give 65,536 bucket
    * values per chunk). Bit i ∈ [0,64) votes with bit (i mod 4) of hex
    * digit ⌊i/4⌋ of md5(token): +1 if set, −1 if clear; sketch bit = 1
    * iff the distinct-token vote sum is positive. All-integer votes, so
    * any engine with md5 reproduces the chunks exactly. Docs with zero
    * tokens produce no row.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // 64 parallel sum() vote columns over the distinct (id, token) rows —
    // same wide-agg shape as simhash16 (and minhashSignatures): no
    // per-bit row explosion, one partial/final aggregate on the id key.
    val votes = (0 until 64).map { i =>
      sum(when(shiftright(hexDigit(i / 4), i % 4).bitwiseAND(lit(1)) === 1,
        1).otherwise(-1)).as(s"_v$i")
    }
    val v = tokenHashes(df, idCol, textCol)
      .groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val chunks = (0 until 4).map { c =>
      (0 until 16)
        .map(j => when(col(s"_v${16 * c + j}") > 0, lit(1L << j)).otherwise(0L))
        .reduce(_ + _).as(s"sh$c")
    }
    v.select(col(idCol) +: chunks: _*)
  }

  /** SimHash Hamming near-duplicates: pairs whose 64-bit sketches differ
    * in at most `maxDist` ≤ 3 bits — the bag-of-words complement of
    * MinHash (SimHash weights repeated tokens once here, catches
    * small-perturbation dups cheaply). Candidate generation is the
    * classic pigeonhole blocking: Hamming ≤ 3 over four 16-bit chunks
    * forces at least one chunk to match EXACTLY, so candidates only form
    * inside a shared (chunk_id, chunk_value) bucket — never all-pairs —
    * and recall is total, not probabilistic. Verification is
    * bit_count(xor) per chunk, codegen'd integer ops.
    *
    * Scale shape: the sketch table is ids + four ints (narrow); the
    * candidate join keys on (chunk_id, value) with 2¹⁶ values per chunk,
    * buckets shrink as corpora diversify; sketches re-attach to the
    * deduped candidate ids once per side. The sketch cache is
    * function-scoped — released after the verified pairs materialize.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "4 chunks of 16 bits guarantee recall only for maxDist <= 3")
    hammingNearDupsChunked(simhash64(df, idCol, textCol), idCol,
      Seq("sh0", "sh1", "sh2", "sh3"), maxDist)
  }

  /** Pigeonhole Hamming near-dup over ANY chunked bit sketch (SimHash
    * text sketches, perceptual image hashes, …): pairs whose
    * concatenated chunks differ in at most `maxDist` bits, where
    * `maxDist < |chunks|` forces at least one chunk to match EXACTLY —
    * so candidates only form inside shared (chunk_id, value) buckets
    * (total recall, never all-pairs) and verification is
    * bit_count(xor) per chunk, codegen'd integer ops.
    *
    * The sketch frame is cached function-scoped (candidate join + two
    * re-attach joins consume it) and released once the verified pairs
    * materialize; the returned frame is cached — `.unpersist()` when
    * done.
    */
  def hammingNearDupsChunked(sketchDf: DataFrame, idCol: String,
                             chunkCols: Seq[String], maxDist: Int): DataFrame = {
    val nc = chunkCols.size
    require(nc >= 2 && maxDist >= 0 && maxDist < nc,
      s"$nc chunks guarantee total recall only for maxDist < $nc")
    val sh = sketchDf.cache()
    val chunks = sh.select(col(idCol),
      posexplode(array(chunkCols.map(col): _*)).as(Seq("chunk_id", "cv")))
    val a = chunks.select(col("chunk_id"), col("cv"), col(idCol).as("id1"))
    val b = chunks.select(col("chunk_id"), col("cv"), col(idCol).as("id2"))
    val cand = a.join(b, Seq("chunk_id", "cv"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    def side(n: Int) = sh.select(col(idCol).as(s"id$n") +:
      (0 until nc).map(c => col(chunkCols(c)).as(s"_${n}c$c")): _*)
    val hamming = (0 until nc)
      .map(c => bit_count(col(s"_1c$c").bitwiseXOR(col(s"_2c$c"))))
      .reduce(_ + _)
    val out = cand.join(side(1), "id1").join(side(2), "id2")
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxDist)
      .select("id1", "id2", "hamming")
      .cache()
    out.count() // materialize: candidate + re-attach joins consumed `sh`
    sh.unpersist()
    out
  }

  /** Paragraph-level exact dedup (the CCNet / RefinedWeb line-dedup
    * pass): a paragraph occurrence survives iff it is the FIRST
    * occurrence of that exact paragraph corpus-wide, ordered by
    * (doc id, position); each document is then reassembled from its
    * surviving paragraphs in original order. Removes boilerplate that
    * document-level dedup can't see (headers/footers shared across
    * otherwise-distinct pages).
    *
    * Input: `parasCol` is an array<string> of the document's
    * paragraphs (the caller picks the segmentation — '\n' split for
    * natural text, fixed-token windows for unstructured blobs).
    * Output: one row per input doc — n_paras, n_kept, text_dedup
    * (surviving paragraphs joined with '\n'; empty string when the
    * whole document was boilerplate).
    *
    * Shape: explode → groupBy(paragraph).min(struct(id, pos)) → equi
    * join back → groupBy(id) reassembly. The winner is found with a
    * partial-aggregatable MIN, not a row_number window: hot
    * boilerplate paragraphs (millions of copies at 100 TB) would make
    * a window's per-paragraph partition a straggler, while min(struct)
    * combines map-side so the shuffle carries one row per distinct
    * paragraph per mapper. Two shuffles total (paragraph key, then doc
    * id); no driver collect.
    */
  def paragraphDedup(docs: DataFrame, idCol: String,
                     parasCol: String): DataFrame = {
    val exploded = docs
      .select(col(idCol), posexplode(col(parasCol)).as(Seq("pos", "para")))
    val winners = exploded
      .groupBy(col("para"))
      .agg(min(struct(col(idCol), col("pos"))).as("_w"))
    val kept = exploded.join(winners, "para")
      .filter(col(idCol) === col("_w")(idCol) && col("pos") === col("_w.pos"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s("para")), "\n").as("text_dedup"))
    docs.select(col(idCol), size(col(parasCol)).cast("long").as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Filter a near-dup pair list to pairs that CROSS a group boundary
    * (language, source, split …), with both group labels attached —
    * the generic face behind cross-lingual duplicate detection (two
    * languages sharing an embedding-space near-dup are translation
    * candidates: decide to keep one, align them, or dedup) and behind
    * split-leakage audits. Two id-keyed broadcast-able equi-joins on
    * an already-bounded pair list; never corpus².
    */
  def crossGroupPairs(pairs: DataFrame, meta: DataFrame, idCol: String,
                      groupCol: String): DataFrame = {
    // LEFT joins + loud null checks: an inner join would silently DROP
    // pairs whose id is missing from meta, and a NULL group label would
    // vanish through the <> filter — in the leakage-audit use that
    // UNDERSTATES leakage with no error, the exact silent failure this
    // operator exists to catch (the chunkSourceStats stance)
    def guarded(side: String) = when(col(s"group$side").isNull,
      raise_error(concat(
        lit(s"crossGroupPairs: missing/NULL $groupCol for id$side "),
        col(s"id$side").cast("string"))))
      .otherwise(col(s"group$side"))
    val m1 = meta.select(col(idCol).as("id1"), col(groupCol).as("group1"))
    val m2 = meta.select(col(idCol).as("id2"), col(groupCol).as("group2"))
    pairs.join(m1, Seq("id1"), "left").join(m2, Seq("id2"), "left")
      .withColumn("group1", guarded("1"))
      .withColumn("group2", guarded("2"))
      .filter(col("group1") =!= col("group2"))
      .select(pairs.columns.map(col) ++ Seq(col("group1"), col("group2")): _*)
  }

  /** Dedup survivorship by group (source/domain/language): for each
    * group, how many documents survive (a) exact-content dedup and
    * (b) whitespace/case-normalized dedup — the per-source attrition
    * report a curation run publishes so downstream mixture weights can
    * be re-balanced against what dedup actually removed.
    *
    * Survivor rule = [[exactDedupKeep]]'s (keep the LOWEST id per
    * identical content, GLOBALLY — a doc whose twin lives in another
    * source still loses, which is why per-group survival can drop far
    * below the global distinct ratio). Normalized pass: lower-case +
    * whitespace runs collapsed to one space + trim, a strictly coarser
    * key, so n_norm <= n_exact per group structurally.
    *
    * Shape: two content-keyed min-aggregates (the winners frames,
    * partial-agg friendly) + one id-keyed semi-join back per pass +
    * one groupBy on the group key — every join on content hash or id,
    * nothing corpus²; at 100 TB this is three shuffles of the corpus,
    * all map-side combinable. Ratios round(6).
    */
  def survivorship(df: DataFrame, idCol: String, textCol: String,
                   groupCol: String): DataFrame = {
    val normText = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    def winners(key: Column): DataFrame =
      df.select(col(idCol), key.as("_k"))
        .groupBy("_k").agg(min(col(idCol)).as(idCol))
        .select(idCol)
    val base = df.select(col(idCol), col(groupCol))
    val exact = base.join(winners(md5(col(textCol))), Seq(idCol), "left_semi")
      .groupBy(col(groupCol)).agg(count(lit(1)).as("n_exact"))
    val norm = base.join(winners(md5(normText)), Seq(idCol), "left_semi")
      .groupBy(col(groupCol)).agg(count(lit(1)).as("n_norm"))
    base.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .join(exact, Seq(groupCol), "left")
      .join(norm, Seq(groupCol), "left")
      .na.fill(0L, Seq("n_exact", "n_norm"))
      .select(col(groupCol), col("n_docs"), col("n_exact"), col("n_norm"),
        round(col("n_exact").cast("double") / col("n_docs"), 6)
          .as("exact_survival"),
        round(col("n_norm").cast("double") / col("n_docs"), 6)
          .as("norm_survival"))
  }
}

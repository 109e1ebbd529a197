package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),  // near dup of 1
    (4L, "completely different text about spark engines here"),
    (5L, "short text")                                      // < 3 tokens after shingling guard
  ).toDF("doc_id", "text")

  test("exact dedup keeps the lowest id and counts copies") {
    val out = DedupOps.exactDedupKeep(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("identical documents have identical minhash signatures") {
    val sigs = DedupOps.minhashSignatures(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val s1 = sigs.find(_.getLong(0) == 1L).get
    val s2 = sigs.find(_.getLong(0) == 2L).get
    (1 to 8).foreach(i => assert(s1.getAs[String](s"mh$i") === s2.getAs[String](s"mh$i")))
    // doc 5 has < 3 tokens → no shingles → absent from signatures
    assert(!sigs.exists(_.getLong(0) == 5L))
  }

  test("LSH candidates include the exact pair; jaccard verification is exact") {
    val verified = DedupOps.nearDupPairs(docs, "doc_id", "text").collect()
    val pair12 = verified.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair12.isDefined, "exact duplicates must be LSH candidates")
    // identical docs: intersection == union
    assert(pair12.get.getAs[Long]("jaccard_n") === pair12.get.getAs[Long]("jaccard_d"))
    // no candidate pair may involve doc 4 with jaccard >= 0.8
    verified.filter(r => r.getLong(0) == 4L || r.getLong(1) == 4L).foreach { r =>
      assert(r.getAs[Long]("jaccard_n") * 10 < r.getAs[Long]("jaccard_d") * 8)
    }
  }

  test("near-dup pair 1-3 has high but non-1 jaccard when it buckets together") {
    // 1 and 3 share 5 of their shingles; whether they band-collide depends
    // on the minhash draw — but IF present, the n/d must be exact:
    // shingles(1)=7, shingles(3)=7, shared=5 → n=5, d=9
    val verified = DedupOps.nearDupPairs(docs, "doc_id", "text").collect()
    verified.find(r => r.getLong(0) == 1L && r.getLong(1) == 3L).foreach { r =>
      assert(r.getAs[Long]("jaccard_n") === 5L)
      assert(r.getAs[Long]("jaccard_d") === 9L)
    }
  }

  test("embedding-cosine near-dup finds near-identical vectors, not orthogonal ones") {
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (1L, v(1, 0, 0, 0)),
      (2L, v(0.999, 0.01, 0, 0)), // near-dup of 1
      (3L, v(0, 1, 0, 0)),        // orthogonal
      (4L, v(0.999, 0.011, 0, 0)) // near-dup of 1 and 2
    ).toDF("vec_id", "embedding")
    val pairs = DedupOps.embeddingNearDups(emb, "vec_id", "embedding",
        threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)) && pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("semanticDedup keeps the lowest id of each within-cell near-dup group") {
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val emb = Seq(
      (1L, v(1, 0, 0, 0)),
      (2L, v(0.999, 0.01, 0, 0)),  // semantic dup of 1
      (3L, v(0, 1, 0, 0)),         // distinct direction → kept
      (4L, v(0.999, 0.011, 0, 0)), // dup of 1 and 2
      (5L, v(0, 0.999, 0.01, 0))   // dup of 3
    ).toDF("vec_id", "embedding")
    val index = Ivf.fit(emb, "vec_id", "embedding", k = 2, iters = 2)
    // near-dup directions always share a cell (identical argmax), so the
    // keep map is clustering-independent: drop iff a smaller-id near
    // neighbor co-locates
    val out = DedupOps.semanticDedup(emb, index, "vec_id", "embedding",
        threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out === Map(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> false))
    index.unpersist()
  }

  test("blockedPairs: width guard bounds candidates on a pathological same-length corpus") {
    // 3000 docs all sharing one blocking value: unguarded equality
    // blocking forms C(3000,2) ≈ 4.5M pairs; with maxBlock=64 the block
    // re-splits into ceil(3000/64)=47 md5 sub-blocks and candidates stay
    // ≈ C(3000,2)/47 — the hard Σblock² bound, paid in cross-sub recall
    val docs = spark.range(3000).selectExpr("id AS doc_id", "100 AS n_chars")
    val cnt = DedupOps.blockedPairs(docs, "doc_id", "n_chars", maxBlock = 64).count()
    assert(cnt > 0L && cnt < 300000L, s"expected bounded candidates, got $cnt")
    // narrow blocks are untouched: default cap degenerates to full C(n,2)
    val small = spark.range(10).selectExpr("id AS doc_id", "7 AS n_chars")
    assert(DedupOps.blockedPairs(small, "doc_id", "n_chars").count() === 45L)
  }

  test("simhash: identical docs equal, disjoint docs differ, 16-bit range") {
    val sh = DedupOps.simhash16(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(4L))
    sh.values.foreach(v => assert(v >= 0L && v < 65536L))
  }

  test("simhash64: chunk range, identical docs equal, token order ignored") {
    val extra = Seq(
      (6L, "dog lazy the over jumps fox brown quick the")) // doc 1 permuted
      .toDF("doc_id", "text")
    val sh = DedupOps.simhash64(docs.union(extra), "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        (0 until 4).map(c => r.getAs[Long](s"sh$c"))).toMap
    sh.values.flatten.foreach(v => assert(v >= 0L && v < 65536L))
    assert(sh(1L) === sh(2L))
    // bag-of-words sketch: permuting tokens cannot change any chunk
    assert(sh(1L) === sh(6L))
    assert(sh(1L) !== sh(4L))
  }

  test("simhashNearDups finds exact pairs at distance 0 and respects maxDist") {
    val out = DedupOps.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
    val pairs = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out.unpersist()
    assert(pairs((1L, 2L)) === 0L)
    pairs.values.foreach(h => assert(h >= 0L && h <= 3L))
    // disjoint-vocabulary docs must not pair with the fox cluster
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
    // one-word-changed near dup lands within a few bits of its original:
    // every surviving pair's hamming is the TRUE sketch distance (the
    // pigeonhole blocking guarantees total recall for maxDist <= 3)
    val sh = DedupOps.simhash64(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        (0 until 4).map(c => r.getAs[Long](s"sh$c"))).toMap
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    pairs.foreach { case ((a, b), h) => assert(ham(sh(a), sh(b)) === h) }
    if (ham(sh(1L), sh(3L)) <= 3) assert(pairs.contains((1L, 3L)))
  }

  test("paragraphDedup: first occurrence survives, docs reassemble in order, all-dup doc empties") {
    val docs = Seq(
      (1L, Seq("alpha beta", "shared footer", "gamma")),
      (2L, Seq("shared footer", "delta")),       // footer already seen in doc 1
      (3L, Seq("shared footer")),                // nothing left
      (4L, Seq[String]()))                       // empty doc
      .toDF("doc_id", "paras")
    val got = DedupOps.paragraphDedup(docs, "doc_id", "paras")
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 3L, 3L, "alpha beta\nshared footer\ngamma"),
      (2L, 2L, 1L, "delta"),
      (3L, 1L, 0L, ""),
      (4L, 0L, 0L, "")))
  }

  test("paragraphDedup winner ties break by (doc_id, pos) — same doc repeats keep the first") {
    val docs = Seq((7L, Seq("x", "x", "y", "x"))).toDF("doc_id", "paras")
    val got = DedupOps.paragraphDedup(docs, "doc_id", "paras")
      .as[(Long, Long, Long, String)].collect().head
    assert(got === ((7L, 4L, 2L, "x\ny")))
  }

  test("fuzzyPairs: within-block edit-distance matches, cross-block pairs never form") {
    val df = Seq(
      (1L, "smith john", "s"), (2L, "smith jonn", "s"), (3L, "smith jane", "s"),
      (4L, "smyth john", "t"), // 1 edit from id 1 but different block
      (5L, "completely other", "s"))
      .toDF("id", "nm", "blk")
    val got = DedupOps.fuzzyPairs(df, "id", "nm", "blk", maxDist = 1)
      .orderBy("id1", "id2").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1L))) // jane is 2 edits; id 4 blocked away
  }

  test("fuzzyPairs: maxDist 2 widens matches and reports exact distances") {
    val df = Seq((1L, "abcdef", "b"), (2L, "abcxxf", "b"), (3L, "abcdef", "b"))
      .toDF("id", "nm", "blk")
    val got = DedupOps.fuzzyPairs(df, "id", "nm", "blk", maxDist = 2)
      .orderBy("id1", "id2").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 2L), (1L, 3L, 0L), (2L, 3L, 2L)))
  }

  test("fuzzyPairs adaptive: oversized block refines by length band losslessly " +
       "— cross-band pair recovered via the boundary margin") {
    // block "b" has 6 rows > maxBlock=4 → band path (W=16); after
    // banding every group is ≤ 4, so the result must equal the naive
    // within-block pairs at dist ≤ 1 — including (1,3) which spans
    // bands 0 (len 15) and 1 (len 16) and only the margin join can see
    val df = Seq(
      (1L, "0123456789abcde", "b"),        // len 15, band 0 (top margin)
      (2L, "0123456789abcdX", "b"),        // len 15, dist 1 from id 1
      (3L, "0123456789abcdef", "b"),       // len 16, band 1, dist 1 from id 1
      (4L, "aaaaaaaaaaaaaaaaaaaa", "b"),   // len 20, band 1
      (5L, "aaaaaaaaaaaaaaaaaaab", "b"),   // len 20, dist 1 from id 4
      (6L, "zzzzzzzzzzzzzzzzzzzzzz", "b")) // len 22, no partner
      .toDF("id", "nm", "blk")
    val got = DedupOps.fuzzyPairs(df, "id", "nm", "blk", maxDist = 1, maxBlock = 4)
      .orderBy("id1", "id2").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 1L), (1L, 3L, 1L), (4L, 5L, 1L)))
  }

  test("fuzzyGroupSizes: same-length pileup sub-splits to bounded groups; " +
       "small blocks stay on the block path") {
    // 50 same-length rows in one block: banding can't separate them, so
    // the measured hash sub-split must cap every candidate group
    val pileup = (1 to 50).map(i => (i.toLong, f"aaaaaaaaaaaaaaaaaaa$i%02d", "hot"))
    val small = (100 to 103).map(i => (i.toLong, s"bbbbbbbb$i", "cold"))
    val df = (pileup ++ small).toDF("id", "nm", "blk")
    val sizes = DedupOps.fuzzyGroupSizes(df, "id", "nm", "blk",
        maxDist = 1, maxBlock = 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (nG, mx) = sizes("band_sub")
    assert(nG >= 2, s"pileup must sub-split: $sizes")
    assert(mx <= 16, s"sub-split groups must stay near maxBlock: $sizes")
    assert(sizes("block") === ((1L, 4L)), s"small block untouched: $sizes")
    // and the pairs it DOES emit are all genuine dist<=1 neighbours
    val pairs = DedupOps.fuzzyPairs(df, "id", "nm", "blk", maxDist = 1, maxBlock = 8)
      .collect()
    assert(pairs.nonEmpty && pairs.forall(_.getLong(2) <= 1))
  }

  test("splitLeakage: a cross-split near-dup pair is flagged; same-split pairs are not") {
    // md5 buckets (80/10/10): ids 1,2 → train; id 3 → test. Plant a
    // train/test near-dup (1,3) and a train/train near-dup (1,2).
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base), (2L, base + " extra"), (3L, base + " other"),
      (7L, "completely different content with no shared shingles at all here"))
      .toDF("doc_id", "text")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val leaks = DedupOps.splitLeakage(docs, "doc_id", "text", splits)
      .orderBy("id1", "id2")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSeq
    // (2,3) leaks too: they share base's 18 shingles, J = 18/20 >= 0.8;
    // the train/train pair (1,2) must NOT appear
    assert(leaks === Seq((1L, 3L, "train", "test"), (2L, 3L, "train", "test")))
  }

  test("leakFreeSplit: cluster members share one split (zero leakage by " +
      "construction); singletons keep the plain hash-split label") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base), (2L, base + " extra"), (3L, base + " other"),
      (7L, "completely different content with no shared shingles at all here"))
      .toDF("doc_id", "text")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = DedupOps.leakFreeSplit(docs, "doc_id", "text", splits)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2))).toMap
    // docs 1,2,3 form one near-dup cluster (splitLeakage's fixture) →
    // all inherit component 1 and ONE split; 7 is a singleton
    assert(got.keySet === Set(1L, 2L, 3L, 7L))
    assert(Set(1L, 2L, 3L).map(got(_)._1) === Set(1L))
    assert(Set(1L, 2L, 3L).map(got(_)._2).size === 1)
    assert(got(7L)._1 === 7L)
    // singleton label == the plain per-doc hash split
    val plain = docs.filter(col("doc_id") === 7L)
      .select(Sampling.splitLabel(col("doc_id"), splits)).head.getString(0)
    assert(got(7L)._2 === plain)
    // and the audit over these labels finds nothing: every near-dup
    // pair is within one split by construction
    val pairs = DedupOps.nearDupPairs(docs, "doc_id", "text")
      .filter(col("jaccard_n") * 10 >= col("jaccard_d") * 8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(got(a)._2 === got(b)._2, s"leak between $a and $b")
    }
  }

  test("containmentPairs: catches the quoted-inclusion pair Jaccard misses") {
    val short = "alpha beta gamma delta epsilon"
    val long = s"intro words here then $short and plenty of trailing " +
      "commentary tokens that keep the union large one two three four five"
    val docs = Seq((1L, short), (2L, long),
      (3L, "totally unrelated content with different words entirely"))
      .toDF("doc_id", "text")
    val got = DedupOps.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5), r.getLong(6)))
    // pair (1,2): all of doc1's shingles appear in doc2 → cont1 = 10000
    assert(got.length === 1)
    val (id1, id2, cont1, cont2) = got.head
    assert((id1, id2) === ((1L, 2L)))
    assert(cont1 === 10000L && cont2 < 8000L)
    // the same pair fails the 0.8-Jaccard near-dup gate (small ∩ vs big ∪)
    val jac = DedupOps.nearDupPairs(docs, "doc_id", "text")
      .filter(col("jaccard_n") * 10 >= col("jaccard_d") * 8).count()
    assert(jac === 0L)
  }

  test("containmentPairs: hot shingles (df > maxDf) never generate candidates") {
    // every doc shares one hot shingle; no rare shingle is shared
    val docs = (1L to 9L).map(i => (i, s"common shared shingle unique$i tail$i end$i"))
      .toDF("doc_id", "text")
    assert(DedupOps.containmentPairs(docs, "doc_id", "text", maxDf = 2).count() === 0L)
  }

  test("dupSpanScrub: shared passages removed from later docs, first occurrence kept") {
    def run(lo: Int, hi: Int, pre: String) =
      (lo until hi).map(i => s"$pre$i").mkString(" ")
    val docs = Seq(
      // doc 1: 20 unique tokens — the FIRST occurrence of the passage
      1L -> run(0, 20, "a"),
      // doc 2: 5 fresh + the 12-token passage a0..a11 + 5 fresh
      2L -> (run(0, 5, "b") + " " + run(0, 12, "a") + " " + run(0, 5, "c")),
      // doc 3: exact copy of doc 1 — fully scrubbed
      3L -> run(0, 20, "a"),
      // doc 4: an 8-gram repeated WITHIN the doc, separated by one token
      4L -> (run(0, 8, "d") + " x " + run(0, 8, "d")),
      // doc 5: shorter than the window — untouchable
      5L -> "tiny doc here").toDF("doc_id", "text")
    val got = DedupOps.dupSpanScrub(docs, "doc_id", "text", n = 8)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    // doc 1 keeps everything (it owns every first occurrence)
    assert(got(1L) === ((20L, 0L, 0L, run(0, 20, "a"))))
    // doc 2 loses exactly the 12 shared-passage tokens as ONE span
    assert(got(2L) === ((22L, 12L, 1L, run(0, 5, "b") + " " + run(0, 5, "c"))))
    // doc 3 is scrubbed whole
    assert(got(3L) === ((20L, 20L, 1L, "")))
    // doc 4's second in-doc copy goes; the separator and first copy stay
    assert(got(4L) === ((17L, 8L, 1L, run(0, 8, "d") + " x")))
    // doc 5 has no windows at all
    assert(got(5L) === ((3L, 0L, 0L, "tiny doc here")))
  }

  test("sortedNeighborhoodPairs: exact window-w pairs of the global order, across partitions") {
    // 500 rows, keys with heavy ties (50 distinct), ids shuffled so the
    // input order disagrees with the sort order; >1 range partition
    val rows = (0L until 500L).map(i => ((i * 7919) % 500, s"k${"%02d".format(i % 50)}"))
    val df = rows.toDF("id", "nm").repartition(8)
    val got = DedupOps.sortedNeighborhoodPairs(df, "id", "nm", 4)
      .as[(Long, Long, Long)].collect().toSet
    // brute-force reference: global rank by (key, id), pairs within 4
    val ranked = rows.sortBy { case (id, k) => (k, id) }.map(_._1).zipWithIndex
    val want = (for {
      (id1, r1) <- ranked
      (id2, r2) <- ranked if r2 > r1 && r2 <= r1 + 4
    } yield (id1, id2, (r2 - r1).toLong)).toSet
    assert(got.size === want.size && got === want)
    // candidate budget is exactly w·n − w(w+1)/2
    assert(got.size === 4 * 500 - 4 * 5 / 2)
  }

  test("survivorship: global winners, per-source attrition, and the " +
      "norm <= exact containment") {
    val docs = Seq(
      (1L, "s1", "same"),
      (2L, "s2", "same"),          // exact twin of 1 -> loses globally
      (3L, "s2", "A  B"),          // normalizes to "a b"
      (4L, "s2", "a b")            // exact-distinct, norm twin of 3
    ).toDF("doc_id", "source", "text")
    val got = DedupOps.survivorship(docs, "doc_id", "text", "source")
      .orderBy("source").collect()
    val s1 = got(0)
    assert(s1.getAs[Long]("n_docs") === 1L &&
      s1.getAs[Long]("n_exact") === 1L && s1.getAs[Long]("n_norm") === 1L)
    val s2 = got(1)
    assert(s2.getAs[Long]("n_docs") === 3L)
    assert(s2.getAs[Long]("n_exact") === 2L, "doc 2 lost to doc 1 cross-source")
    assert(s2.getAs[Long]("n_norm") === 1L, "doc 4 also lost to doc 3")
    assert(s2.getAs[Double]("exact_survival") === 0.666667)
    assert(s2.getAs[Double]("norm_survival") === 0.333333)
    got.foreach(r => assert(
      r.getAs[Long]("n_norm") <= r.getAs[Long]("n_exact")))
  }

  test("crossGroupPairs: same-group pairs drop, labels ride along, " +
      "extra pair columns survive") {
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.8), (2L, 3L, 0.7))
      .toDF("id1", "id2", "cosine")
    val meta = Seq((1L, "en"), (2L, "en"), (3L, "fr"))
      .toDF("doc_id", "lang")
    val got = DedupOps.crossGroupPairs(pairs, meta, "doc_id", "lang")
      .orderBy("id1", "id2").collect()
    assert(got.length === 2)
    assert(got.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"),
      r.getAs[String]("group1"), r.getAs[String]("group2"))).toSeq ===
      Seq((1L, 3L, "en", "fr"), (2L, 3L, "en", "fr")))
    assert(got(0).getAs[Double]("cosine") === 0.8)
  }

  test("crossGroupPairs raises on a pair id missing from meta instead " +
      "of silently understating leakage") {
    val pairs = Seq((1L, 3L, 0.8)).toDF("id1", "id2", "cosine")
    val meta = Seq((1L, "en")).toDF("doc_id", "lang") // id 3 missing
    val e = intercept[Exception] {
      DedupOps.crossGroupPairs(pairs, meta, "doc_id", "lang").collect()
    }
    assert(e.toString.contains("missing/NULL") ||
      Option(e.getCause).exists(_.toString.contains("missing/NULL")),
      e.toString)
  }

  test("dupSourceMatrix: near-dup pairs roll up to unordered source pairs") {
    // two exact-dup docs across sources A/B, one within A, one unique
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "A"),
      (2L, "alpha beta gamma delta epsilon zeta", "B"),
      (3L, "alpha beta gamma delta epsilon zeta", "A"),
      (4L, "totally different words entirely here now", "C")
    ).toDF("doc_id", "text", "source")
    val m = DedupOps.dupSourceMatrix(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // pairs: (1,2) A-B, (1,3) A-A, (2,3) A-B
    assert(m === Map(("A", "A") -> 1L, ("A", "B") -> 2L))
  }
}

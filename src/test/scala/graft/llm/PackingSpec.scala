package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("withStreamOffsets: exclusive prefix matches a single-window oracle " +
      "across block boundaries, sparse ids, and zero-length drops") {
    // sparse ids spanning several blockSize=4 blocks; one zero-length doc
    val docs = Seq((1L, 10L), (2L, 7L), (6L, 0L), (9L, 5L), (14L, 3L),
      (15L, 8L), (31L, 2L)).toDF("id", "n")
    val got = Packing.withStreamOffsets(docs, "id", "n", blockSize = 4L)
      .select("id", "start_off").as[(Long, Long)].collect().sortBy(_._1)
    // manual exclusive prefix over (1,10)(2,7)(9,5)(14,3)(15,8)(31,2)
    assert(got === Array((1L, 0L), (2L, 10L), (9L, 17L), (14L, 22L),
      (15L, 25L), (31L, 33L)))
  }

  test("withStreamOffsets: no global data-row window — the only " +
      "unpartitioned window runs on block summaries") {
    val docs = (0L until 64L).map(i => (i, i % 7L + 1L)).toDF("id", "n")
    val wins = Packing.withStreamOffsets(docs, "id", "n", blockSize = 8L)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins.nonEmpty)
    // any unpartitioned window must run over the block-summary frame
    // (no per-row _id in scope), never the data rows — THE one-task
    // hazard this operator exists to avoid
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(!w.child.output.map(_.name).contains("_id"),
        s"unpartitioned window over data rows:\n$w")
    }
    // and the intra-block scan is keyed (parallel) on the block id
    assert(wins.exists(w => w.partitionSpec.nonEmpty &&
      w.partitionSpec.flatMap(_.references.map(_.name)).contains("_blk")))
  }

  test("tokenStreamPack + streamChunkStats: chunk spans, boundary docs, " +
      "and full-chunk invariant on a handcrafted stream") {
    // stream: 5,5,6 with capacity 8 → offsets 0,5,10; doc 2 spans
    // chunks 0-1, doc 3 spans 1-2 (ends at 16 exactly → last=15 div 8=1)
    val docs = Seq((1L, 5L), (2L, 5L), (3L, 6L)).toDF("id", "n")
    val packed = Packing.tokenStreamPack(docs, "id", "n", capacity = 8L,
      blockSize = 2L)
    val rows = packed.select("id", "start_off", "chunk_first", "chunk_last",
        "n_chunks_spanned").as[(Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(rows === Array((1L, 0L, 0L, 0L, 1L), (2L, 5L, 0L, 1L, 2L),
      (3L, 10L, 1L, 1L, 1L)))
    val chunks = Packing.streamChunkStats(packed, capacity = 8L)
      .select("chunk_id", "n_docs", "n_boundary_docs", "tokens_in_chunk")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // chunk 0: docs 1,2 (2 crosses); chunk 1: docs 2,3; totals 8 and 8
    assert(chunks === Array((0L, 2L, 1L, 8L), (1L, 2L, 1L, 8L)))
  }

  test("binPack: capacity guarantee holds on randomized lengths and every " +
      "doc is assigned exactly once") {
    val rnd = new scala.util.Random(42)
    val docs = (0L until 500L).map(i => (i, rnd.nextInt(200).toLong + 1L))
      .toDF("id", "n")
    val cap = 128L
    val assign = Packing.binPack(docs, "id", "n", cap)
    val binTotals = assign.filter(col("fits"))
      .groupBy("len_bucket", "bin_idx").agg(sum("len").as("t"))
      .select("t").as[Long].collect()
    assert(binTotals.nonEmpty && binTotals.forall(_ <= cap),
      s"overfull bin: ${binTotals.max}")
    // partition: fits + oversize counts = all positive-length docs
    val n = assign.count()
    assert(n === 500L)
    val oversize = assign.filter(!col("fits"))
    assert(oversize.count() ===
      docs.filter(col("n") > cap).count())
    assert(oversize.select("len_bucket").distinct().as[Long].collect()
      .toSeq === Seq(-1L))
  }

  test("binPack: two-level per-bucket rank (tiny maxBlocks) equals the " +
      "single-window assignment — a one-bucket-dominated corpus included") {
    // every doc in ONE length bucket (the r10 ADVICE hazard shape: a
    // plain per-bucket ROW_NUMBER sorts the whole corpus on one task);
    // maxBlocks=4 forces multi-key blocks so the offset+intra-block
    // composition is genuinely exercised
    val docs = (0L until 200L).map(i => (i * 97L + 3L, 30L + (i % 2)))
      .toDF("id", "n")
    val twoLevel = Packing.binPack(docs, "id", "n", 128L, maxBlocks = 4L)
      .select("id", "len_bucket", "bin_idx").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    // oracle: rank in id order within the (single) bucket, div k
    val k = 128L / 32L // bucket 4 (lens 30-31): k = cap div 2^(4+1) = 4
    val expected = docs.as[(Long, Long)].collect().sortBy(_._1)
      .zipWithIndex.map { case ((id, _), r) => (id, 4L, r / k) }
    assert(twoLevel === expected)
  }

  test("rankShards: SPARSE composite keys (span >> count) still rank " +
      "exactly with a tiny summary budget") {
    // keys like score·2³²+id — the shape where a fixed-width `div`
    // blocking degenerates to one block per key (corpus-sized summary)
    val rnd = new scala.util.Random(11)
    val keys = rnd.shuffle((0L until 100L).map(i =>
      (i % 13) * (1L << 32) + i).toVector)
    val sharded = Packing.rankShards(keys.map(Tuple1(_)).toDF("k"), "k",
      numShards = 4, maxBlocks = 8L)
    val got = sharded.select("k", "rank").as[(Long, Long)].collect()
    assert(got.sortBy(_._1).map(_._2).toSeq === (0L until 100L),
      "ranks must be the exact key-order positions")
  }

  test("rankShards: exact key-order ranks, ±1-balanced shards, and a " +
      "non-overlapping ordered manifest") {
    val rnd = new scala.util.Random(7)
    val keys = rnd.shuffle((0L until 103L).map(_ * 13L + 5L).toVector)
    val df = keys.map(Tuple1(_)).toDF("k")
    val sharded = Packing.rankShards(df, "k", numShards = 4, maxBlocks = 8L)
    val got = sharded.select("k", "rank", "shard")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // rank = position in sorted key order
    assert(got.map(_._2).toSeq === (0L until 103L))
    // shards balanced within ±1 and monotone in key order
    val sizes = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.values.max - sizes.values.min <= 1)
    assert(got.map(_._3).toSeq === got.map(_._3).toSeq.sorted)
    val manifest = Packing.rankShardManifest(sharded, "k")
      .select("shard", "n_rows", "key_lo", "key_hi")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(manifest.map(_._1).toSeq === (0L until 4L))
    // ranges ordered and disjoint: each shard's lo is past the prior hi
    manifest.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 > a._4, s"overlap: $a vs $b")
    }
  }

  test("greedyChunks: hand-traced greedy cuts, overflow segments, zero " +
      "filtering, and the empty-array doc") {
    // cap 10: doc 1 [4,5,2,9] → {4,5},{2},{9}… greedy: 4+5=9, +2>10 cut,
    //   2+9>10 cut → 3 chunks; doc 2 [12,1] → 12 overflows alone, then 1
    //   → 2 chunks, 1 overflow; doc 3 [0,3] → zero dropped → 1 chunk;
    //   doc 4 [] → 0 segments, 0 chunks
    val docs = Seq(
      (1L, Seq(4L, 5L, 2L, 9L)), (2L, Seq(12L, 1L)),
      (3L, Seq(0L, 3L)), (4L, Seq.empty[Long])
    ).toDF("id", "segc")
    val got = Packing.greedyChunks(docs, "id", "segc", capacity = 10L)
      .select("id", "n_segments", "n_tokens", "n_chunks", "n_overflow_segments")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 4L, 20L, 3L, 0L), (2L, 2L, 13L, 2L, 1L),
      (3L, 1L, 3L, 1L, 0L), (4L, 0L, 0L, 0L, 0L)))
  }

  test("greedyChunks: map-side only — no Exchange in the plan") {
    val docs = Seq((1L, Seq(4L, 5L))).toDF("id", "segc")
    val plan = Packing.greedyChunks(docs, "id", "segc", 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("binPackStats: hand-checked buckets, waste, and the oversize row") {
    // cap 16: lens 4,5 → bucket 2 (k=2); 9 → bucket 3 (k=1); 20 → oversize
    val docs = Seq((1L, 4L), (2L, 5L), (3L, 4L), (4L, 9L), (5L, 20L))
      .toDF("id", "n")
    val stats = Packing.binPackStats(
        Packing.binPack(docs, "id", "n", 16L), 16L)
      .select("len_bucket", "n_docs", "n_bins", "filled", "waste", "fill_rate")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(stats === Array(
      (-1L, 1L, 0L, 0L, 0L, 0.0),
      // bucket 2: docs 1,2 in bin 0 (9 tokens), doc 3 in bin 1 (4) →
      // 2 bins, filled 13, waste 32-13=19
      (2L, 3L, 2L, 13L, 19L, 0.40625),
      (3L, 1L, 1L, 9L, 7L, 0.5625)))
  }

  test("chunkSourceStats: boundary docs split their tokens across " +
      "chunks; dominant tie breaks to the smaller source name") {
    // ids 1,2,3 len 4 each, capacity 6: chunk0 = id1(A,4)+id2(B,2),
    // chunk1 = id2(B,2)+id3(A,4)
    val docs = Seq((1L, 4L), (2L, 4L), (3L, 4L)).toDF("doc_id", "n")
    val meta = Seq((1L, "A"), (2L, "B"), (3L, "A")).toDF("doc_id", "src")
    val packed = Packing.tokenStreamPack(docs, "doc_id", "n",
      capacity = 6L, blockSize = 2L)
    val got = Packing.chunkSourceStats(packed, meta, "doc_id", "src",
        capacity = 6L)
      .orderBy("chunk_id").collect()
    assert(got.length === 2)
    for (r <- got) {
      assert(r.getAs[Long]("n_docs") === 2L)
      assert(r.getAs[Long]("n_sources") === 2L)
      assert(r.getAs[Long]("tokens_in_chunk") === 6L)
      assert(r.getAs[String]("dominant_src") === "A")
      assert(r.getAs[Long]("dominant_tokens") === 4L)
      assert(r.getAs[Double]("dom_share") === 0.666667)
    }
    // exact tie: B(2) vs A(2) in one chunk -> lexicographically
    // smaller source wins deterministically
    val tie = Packing.chunkSourceStats(
      Packing.tokenStreamPack(
        Seq((1L, 2L), (2L, 2L)).toDF("doc_id", "n"), "doc_id", "n",
        capacity = 4L, blockSize = 2L),
      Seq((1L, "B"), (2L, "A")).toDF("doc_id", "src"),
      "doc_id", "src", capacity = 4L).collect().head
    assert(tie.getAs[String]("dominant_src") === "A")
    assert(tie.getAs[Long]("dominant_tokens") === 2L)
  }

  test("chunkSourceStats fails loudly on a packed doc with no meta row " +
      "instead of silently shrinking the chunk") {
    val docs = Seq((1L, 4L), (2L, 4L)).toDF("doc_id", "n")
    val meta = Seq((1L, "A")).toDF("doc_id", "src") // doc 2 missing
    val packed = Packing.tokenStreamPack(docs, "doc_id", "n",
      capacity = 8L, blockSize = 2L)
    val e = intercept[Exception] {
      Packing.chunkSourceStats(packed, meta, "doc_id", "src",
        capacity = 8L).collect()
    }
    assert(e.toString.contains("no meta row") ||
      Option(e.getCause).exists(_.toString.contains("no meta row")),
      e.toString)
  }

  test("rankShards tieCols: equal keys share a block and tie-break on " +
      "the tie column — matches the composed-key rank without its " +
      "id-range constraint") {
    // many duplicate keys + huge tie ids (would overflow a 2^32 shift)
    val rows = for (k <- 0L until 6L; r <- 0L until 3L)
      yield (k, (1L << 40) + k * 100 + r)
    val df = rows.toDF("k", "id")
    val got = Packing.rankShards(df, "k", numShards = 3, maxBlocks = 4L,
        tieCols = Seq("id"))
      .select("k", "id", "rank", "shard")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3).toSeq
    // exact (k, id) order
    assert(got.map(t => (t._1, t._2)) === rows.sortBy(identity).toSeq)
    assert(got.map(_._3) === (0L until 18L))
    // balanced shards of 6
    assert(got.groupBy(_._4).view.mapValues(_.size).toMap ===
      Map(0L -> 6, 1L -> 6, 2L -> 6))
  }

  test("rankShards tieCols: a MODAL key (90% of rows) still ranks " +
      "exactly, split across tie blocks — no one-task group sort") {
    // 90 rows share key 5; 10 rows spread over other keys; tiny
    // maxBlocks forces both the key blocks and the tie blocks to split
    val rows = (0L until 90L).map(i => (5L, 1000L + i * 7)) ++
      (0L until 10L).map(i => (i % 5 * 2, 5000L + i))
    val df = rows.toDF("k", "id")
    val got = Packing.rankShards(df, "k", numShards = 4, maxBlocks = 8L,
        tieCols = Seq("id"))
      .select("k", "id", "rank").as[(Long, Long, Long)]
      .collect().sortBy(_._3).toSeq
    val expect = rows.sortBy(identity).toSeq
    assert(got.map(t => (t._1, t._2)) === expect)
    assert(got.map(_._3) === rows.indices.map(_.toLong))
  }

  test("prefixScan equals a driver-side running sum: global, keyed and " +
      "withSuccessor, on a sparse key at maxBlocks = 4 with one hot key " +
      "spanning several blocks") {
    val rnd = new scala.util.Random(11)
    // values ~10^6 apart (sparse), unique across keys; "hot" holds most rows
    val rows = (0 until 60).map { i =>
      val k = if (i % 5 == 0) "b" else if (i % 7 == 0) "c" else "hot"
      (k, i.toLong * 1000003L - 7L, (rnd.nextInt(9) + 1).toLong)
    }
    val blocked = Packing.withBoundedBlocks(rows.toDF("k", "_v", "m"), "_v", 4L)
    assert(blocked.filter(col("k") === "hot").select("_blk").distinct()
      .count() >= 3, "the hot key must span several blocks")
    // exclusive running sum of m in _v order, and the next _v, per group
    def running(g: Seq[(String, Long, Long)]): Map[Long, (Long, Option[Long])] = {
      val s = g.sortBy(_._2)
      s.indices.map(i =>
        s(i)._2 -> ((s.take(i).map(_._3).sum, s.lift(i + 1).map(_._2)))).toMap
    }
    val global = Packing.prefixScan(blocked, Nil, "_v", Seq("m"))
      .select("_v", "_pre_m").as[(Long, Long)].collect().toMap
    assert(global === running(rows).map { case (v, (pre, _)) => v -> pre })
    val keyed = Packing.prefixScan(blocked, Seq("k"), "_v", Seq("m"),
        withSuccessor = true)
      .select("_v", "_pre_m", "_nextV").as[(Long, Long, Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(keyed === rows.groupBy(_._1).values.flatMap(running).toMap)
  }

  test("withBoundedBlocks raises on a key span that overflows Long " +
      "(sentinel keys), instead of silently mis-blocking") {
    val df = Seq(Long.MinValue, 0L, 42L).toDF("k")
    val e = intercept[Exception] {
      Packing.rankShards(df, "k", numShards = 2, maxBlocks = 4L).collect()
    }
    assert(e.toString.contains("overflows Long") ||
      Option(e.getCause).exists(_.toString.contains("overflows Long")),
      e.toString)
  }
}

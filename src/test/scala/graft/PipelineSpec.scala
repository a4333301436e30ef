package graft

import graft.pipeline.{Curation, Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Pipeline-plane behavior tests: near-dup recall on planted
  * duplicates, fingerprint determinism, similarity ranking sanity,
  * multimodal plumbing shape.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001).cache()

  /** Planted near-dups: append noise to a base text — jaccard and
    * minhash must find the pair, simhash must collide or be close. */
  private lazy val planted = {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 5
    Seq(
      (9001L, base.trim, "en", "srcX", base.trim.length.toLong),
      (9002L, (base + "extra tail words here").trim, "en", "srcX", 1L),
      (9003L, "completely different content about spark shuffles and parquet footers", "en", "srcX", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("jaccardPairs finds planted near-dup and not the unrelated doc") {
    val pairs = Dedup.jaccardPairs(planted, k = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((9001L, 9002L)))
    assert(!pairs.exists(p => p._1 == 9003L || p._2 == 9003L))
  }

  test("jaccard is consistent over the capped universe: boilerplate shingle drops from sizes AND intersections") {
    // "common" appears in 6 docs > maxDf=5, so it leaves the universe.
    // Docs 1/2 share it plus {x1,x2}: capped jaccard = 2/(3+3-2) = 0.5
    // — reported. The old full-set sizes would have scored the pair
    // 2/(4+4-2) = 0.333 and silently dropped it below the threshold.
    val docs = (Seq(
      (1L, "common x1 x2 x3"),
      (2L, "common x1 x2 x4")) ++
      (3L to 6L).map(i => (i, s"common f${i}a f${i}b")))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val capped = Dedup.jaccardPairs(docs, k = 1, threshold = 0.5, maxDf = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == Set((1L, 2L, 0.5)))
    // with the cap lifted, the same pair scores the true jaccard 3/5
    val uncapped = Dedup.jaccardPairs(docs, k = 1, threshold = 0.5, maxDf = 1000)
      .as[(Long, Long, Double)].collect().toSet
    assert(uncapped.contains((1L, 2L, 0.6)))
  }

  test("minhashError: identical docs score est=true=10000; near-dups carry the exact true jaccard") {
    val r = Dedup.minhashError(planted)
      .as[(Long, Long, Long, Long, Long)].collect().map(x => (x._1, x._2) -> x).toMap
    // 9001 is a 12-token phrase repeated 5x -> exactly 12 DISTINCT
    // 3-shingles (start position mod 12); the tail-extended 9002 adds
    // 4 new shingles at the seam -> 16. true = 12/(12+16-12) =
    // 12*10000 div 16 = 7500
    assert(r.contains((9001L, 9002L)), s"planted pair missing: ${r.keys}")
    val (_, _, est, tru, err) = r((9001L, 9002L))
    assert(tru == 7500L, s"true jaccard should be 7500, got $tru")
    assert(err == (est - tru).abs, "err_q must be |est_q - true_q|")
    assert(est % (10000L / Dedup.NumHashes) == 0L, "estimate must be NumHashes-granular")
    // an exact duplicate pair: signatures identical by construction
    val twins = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 1L),
      (2L, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = Dedup.minhashError(twins).as[(Long, Long, Long, Long, Long)].collect()
    assert(t.toSeq == Seq((1L, 2L, 10000L, 10000L, 0L)), t.mkString(","))
  }

  test("clusterSizes: histogram restores singletons and sizes a planted 3-cluster") {
    val txt = (1 to 10).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, txt, "en", "s", 1L), (2L, txt, "en", "s", 1L), (3L, txt, "en", "s", 1L),
      (4L, "lonely words that match nothing else in this corpus at all", "en", "s", 1L),
      (5L, "another solitary document with its own private vocabulary entirely", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val h = Dedup.clusterSizes(docs).as[(Long, Long)].collect().toSet
    assert(h == Set((3L, 1L), (1L, 2L)), h.toString)
  }

  test("entropy: uniform doc scores ln(n); constant doc scores 0") {
    val d = Seq(
      (1L, (1 to 8).map(i => s"u$i").mkString(" "), "en", "s", 1L), // 8 distinct
      (2L, Seq.fill(16)("same").mkString(" "), "en", "s", 1L)) // 1 word
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.entropy(d).as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 8L, BigDecimal(math.log(8.0)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(r(2L) == ((2L, 16L, 0.0)))
  }

  test("dimStats: exact integer stats on a hand-built embedding pair") {
    val e = Seq(
      (1L, Array(0.5f, -1.0f), 0),
      (2L, Array(0.25f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.dimStats(e)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    // dim 0: q = 500, 250 -> sum 750, sum2 312500, mean_mq 750*1000 div 2
    assert(r(0L) == ((0L, 2L, 250L, 500L, 750L, 312500L, 375000L)), r(0L).toString)
    // dim 1: q = -1000, 1000 -> sum 0, sum2 2000000, mean 0
    assert(r(1L) == ((1L, 2L, -1000L, 1000L, 0L, 2000000L, 0L)), r(1L).toString)
  }

  test("sourceOverlap counts straddling candidate pairs under the unordered source key") {
    // one text duplicated across srcB/srcA (unordered key -> (A,B)),
    // another duplicated within srcC, a singleton in srcD
    val txt1 = (1 to 10).map(i => s"w$i").mkString(" ")
    val txt2 = (11 to 20).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, txt1, "en", "srcB", 1L), (2L, txt1, "en", "srcA", 1L),
      (3L, txt2, "en", "srcC", 1L), (4L, txt2, "en", "srcC", 1L),
      (5L, "unrelated totally distinct words nothing shared at all here", "en", "srcD", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = Dedup.sourceOverlap(docs).as[(String, String, Long)].collect().toSet
    assert(m == Set(("srcA", "srcB", 1L), ("srcC", "srcC", 1L)), m.toString)
  }

  test("spanPairs finds the planted shared paragraph at exact offsets and excludes the unrelated doc") {
    // doc A carries the paragraph at token 6, doc B at token 4; the
    // only shingles they share are fully inside it (prefixes/suffixes
    // differ, so boundary shingles don't match) -> exactly one maximal
    // run of 10 shingles = 12 tokens
    val para = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (9101L, s"pa1 pa2 pa3 pa4 pa5 $para ta1 ta2"),
      (9102L, s"qb1 qb2 qb3 $para ub1"),
      (9103L, "totally unrelated text about catalyst plans and shuffle files"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val spans = Dedup.spanPairs(docs, k = 3, minRun = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((9101L, 9102L, 6L, 4L, 12L)))
  }

  test("spanPairs df blacklist: corpus-wide boilerplate runs leave the index; unique spans survive") {
    // the boilerplate run sits in 4 docs > maxDf=3, so every one of its
    // interior shingles is blacklisted (df counts DISTINCT docs) and no
    // boilerplate-only span is reported; the unique paragraph shared by
    // 9201/9202 is still found at its exact offsets
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val para = (1 to 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (9201L, s"$boiler x1 x2 x3 $para"),
      (9202L, s"$para y1 $boiler"),
      (9203L, s"z1 $boiler z2"),
      (9204L, s"w1 w2 $boiler"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val spans = Dedup.spanPairs(docs, k = 3, minRun = 10, maxDf = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((9201L, 9202L, 16L, 1L, 12L)))
  }

  test("removeSpans excises the shared run from the higher-id doc only; unaffected docs byte-identical") {
    val para = (1 to 12).map(i => s"s$i").mkString(" ")
    val textA = s"pa1 pa2 pa3 pa4 pa5 $para ta1 ta2"
    val textB = s"qb1 qb2 qb3 $para ub1"
    val textC = "totally unrelated text about catalyst plans and shuffle files"
    val docs = Seq((9101L, textA), (9102L, textB), (9103L, textC))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.removeSpans(docs, k = 3, minRun = 10)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // lower id keeps its copy byte-identically
    assert(out(9101L) == (textA, 0L))
    // higher id loses exactly the 12 paragraph tokens at positions 4..15
    assert(out(9102L) == ("qb1 qb2 qb3 ub1", 12L))
    // untouched doc passes through the original string, not a rebuild
    assert(out(9103L) == (textC, 0L))
  }

  test("removeSpans unions overlapping drop ranges (doc paired with two others)") {
    // doc 3 shares tokens 1..12 with doc 1 and tokens 4..15 with doc 2:
    // the union 1..15 is removed once, not double-counted
    val p = (1 to 15).map(i => s"v$i").mkString(" ")   // v1..v15
    val head12 = (1 to 12).map(i => s"v$i").mkString(" ")
    val tail12 = (4 to 15).map(i => s"v$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $head12"),
      (2L, s"b1 b2 b3 $tail12"),
      (3L, s"$p z1 z2"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.removeSpans(docs, k = 3, minRun = 10)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._2 == 0L && out(2L)._2 == 0L)
    assert(out(3L) == ("z1 z2", 15L), s"got ${out(3L)}")
  }

  test("removeSpans actually dedups: re-running spanPairs on the cleaned corpus finds no original pair's run") {
    val before = Dedup.spanPairs(docs).as[(Long, Long, Long, Long, Long)].collect()
    assert(before.nonEmpty) // the fixture corpus has real shared runs
    val cleaned = Dedup.removeSpans(docs)
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s").as("source"), length(col("text")).cast("long").as("n_chars"))
    val after = Dedup.spanPairs(cleaned).as[(Long, Long, Long, Long, Long)].collect()
    // removal strictly shrinks the shared-run mass, and no surviving
    // run is a leftover of an original pair (seam-adjacency can in
    // principle mint NEW short runs; an original one persisting would
    // mean the excision missed tokens)
    assert(after.map(_._5).sum < before.map(_._5).sum)
    val beforePairs = before.map(s => (s._1, s._2)).toSet
    val afterPairs = after.map(s => (s._1, s._2)).toSet
    assert(afterPairs.intersect(beforePairs).isEmpty,
      s"pairs still sharing runs after removal: ${afterPairs.intersect(beforePairs)}")
  }

  test("spanPairs handles in-doc shingle repeats: runs stay diagonal-exact") {
    // both docs repeat the paragraph twice -> 4 diagonal combinations,
    // each a maximal run; the islands logic must not merge or miscount
    // them (9301: paras at 1 and 16; 9302: paras at 4 and 19)
    val para = (1 to 12).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (9301L, s"$para g1 g2 g3 $para"),
      (9302L, s"h1 h2 h3 $para k1 k2 k3 $para"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val spans = Dedup.spanPairs(docs, k = 3, minRun = 10)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(spans == Set(
      (9301L, 9302L, 1L, 4L, 12L), (9301L, 9302L, 1L, 19L, 12L),
      (9301L, 9302L, 16L, 4L, 12L), (9301L, 9302L, 16L, 19L, 12L)))
  }

  test("iterative operators strand no checkpoints: persistent-RDD count returns to baseline") {
    // sc.unpersistRDD removes the id from the persistentRdds map
    // synchronously, so this counter is deterministic
    def live = spark.sparkContext.getPersistentRDDs.size
    // one warm-up run (lazy caches elsewhere in the session settle),
    // then capture the baseline AFTER freeing its retained results
    val warm = Seq(
      Dedup.components(Dedup.minhashCandidates(planted)),
      TextAnalysis.bpeApply(planted, 2))
    warm.foreach(_.collect())
    Dedup.freeRetained()
    val baseline = live // warm refs still held: nothing frees async under us
    // hold STRONG refs to the results until after freeRetained: the
    // registry is weak by design (it must not defeat the GC backstop),
    // so a GC between collect and freeRetained would otherwise hand a
    // result to the ASYNC ContextCleaner and make this count racy
    val held = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    for (_ <- 1 to 3) {
      // internal round checkpoints must all be freed inside the call;
      // the retained RESULTS are freed at the "query boundary" below
      held += Dedup.components(Dedup.minhashCandidates(planted))
      held += TextAnalysis.bpeApply(planted, 2)
      held += Curation.keepBest(planted)
      held.takeRight(3).foreach(_.collect())
    }
    Dedup.freeRetained()
    assert(live == baseline,
      s"stranded checkpoint blocks: $live persistent RDDs vs baseline $baseline")
    held.clear()
  }

  test("components exposes its per-round convergence trace") {
    Dedup.components(Dedup.minhashCandidates(planted)).collect()
    val trace = Dedup.lastComponentsTrace
    assert(trace.nonEmpty)
    // rounds are 0..n-1, the final round changed nothing (fixpoint),
    // every round has a real elapsed time
    assert(trace.map(_._1) == trace.indices.toSeq)
    assert(trace.last._2 == 0L)
    assert(trace.forall(_._3 > 0.0))
  }

  test("minhash LSH candidates include the planted near-dup pair") {
    val cands = Dedup.minhashCandidates(planted)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((9001L, 9002L)))
  }

  test("simhash: identical docs collide, fingerprint is 32 bits") {
    val dup = planted.union(
      Seq((9004L, planted.filter($"doc_id" === 9001).head().getString(1), "en", "srcX", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val fps = Dedup.simhash(dup).as[(Long, String)].collect().toMap
    assert(fps.values.forall(fp => fp.length == 32 && fp.forall(c => c == '0' || c == '1')))
    assert(fps(9001L) == fps(9004L))
    val groups = Dedup.simhashGroups(dup).collect()
    assert(groups.exists(_.getAs[Long]("n_docs") >= 2))
  }

  test("ivfIndex is a build-once index: a cached index serves identical top-k") {
    val emb = Tables.embeddings(spark, sf0001)
    val idx = Similarity.ivfIndex(emb).cache()
    try {
      val fromIdx = Similarity.ivfTopKFromIndex(idx, 0L to 9L, 5)
        .orderBy("probe_id", "rank").collect().toSeq
      val direct = Similarity.ivfTopK(emb, 0L to 9L, 5)
        .orderBy("probe_id", "rank").collect().toSeq
      assert(fromIdx == direct && fromIdx.nonEmpty)
    } finally idx.unpersist()
  }

  test("spanPairsIncremental: batch-vs-base only — no base-base or batch-batch pairs") {
    // base docs 1,2 share a 12-token run; batch docs 101,102 share one
    // too (must NOT be reported); batch 101 shares a run with base 1
    val run = (1 to 12).map(i => s"r$i").mkString(" ")
    val run2 = (1 to 12).map(i => s"s$i").mkString(" ")
    def pad(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val base = Seq(
      (1L, s"${pad("a", 5)} $run ${pad("b", 5)}", "en", "s", 1L),
      (2L, s"${pad("c", 5)} $run ${pad("d", 5)}", "en", "s", 1L),
      (3L, pad("e", 30), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq(
      (101L, s"${pad("f", 5)} $run ${pad("g", 3)} $run2", "en", "s", 1L),
      (102L, s"$run2 ${pad("h", 10)}", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val spans = Dedup.spanPairsIncremental(base, batch)
      .select("doc_a", "doc_b", "len_tokens")
      .as[(Long, Long, Long)].collect().toSet
    // every reported pair is (batch doc, base doc)
    assert(spans.forall { case (a, b, _) => a >= 100L && b < 100L }, spans.toString)
    // 101 shares the run with BOTH base copies (1 and 2), length 12
    assert(spans.contains((101L, 1L, 12L)) && spans.contains((101L, 2L, 12L)))
    // the batch-internal run2 pair (101, 102) is NOT reported
    assert(!spans.exists { case (a, b, _) => a == 101L && b == 102L })
    // matches the inline spanPairs over the union restricted to
    // cross-side pairs (ids ordered doc_a < doc_b there — flip)
    val cross = Dedup.spanPairs(base.unionByName(batch))
      .filter(col("doc_a") < 100 && col("doc_b") >= 100)
      .select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"), col("len_tokens"))
      .as[(Long, Long, Long)].collect().toSet
    assert(spans == cross, s"incremental $spans != cross-side of inline $cross")
  }

  test("spanIndex is build-once: cached instance, serve twins identical to train-inline") {
    Dedup.freeRetained()
    val d = planted
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    val i1 = Dedup.spanIndexCached(d)
    assert(Dedup.spanIndexCached(d) eq i1,
      "second call must hit the session cache, not rebuild")
    // the index IS spanPairs' output, and the serve-path removal over
    // it is bit-identical to the train-inline form
    assert(rows(i1) == rows(Dedup.spanPairs(d)) && rows(i1).nonEmpty)
    assert(rows(Dedup.removeSpansFromIndex(d, i1)) == rows(Dedup.removeSpans(d)))
    // freeRetained invalidates cache + checkpoint blocks together
    Dedup.freeRetained()
    val i2 = Dedup.spanIndexCached(d)
    assert(!(i2 eq i1))
    assert(rows(i2) == rows(Dedup.spanPairs(d)))
    Dedup.freeRetained()
  }

  test("nearDupIndex is build-once: cached instance, consumers serve rows identical to train-inline") {
    import graft.pipeline.Graph
    Dedup.freeRetained() // start from a clean cache
    val d = planted
    val i1 = Dedup.nearDupIndexCached(d)
    assert(Dedup.nearDupIndexCached(d) eq i1,
      "second call must hit the session cache, not rebuild")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(rows(Dedup.clusterSizesFromIndex(d, i1.clusters)) == rows(Dedup.clusterSizes(d)))
    assert(rows(Curation.keepBestFromIndex(d, i1.clusters)) == rows(Curation.keepBest(d)))
    assert(rows(Curation.leakFreeSplitFromIndex(d, i1.clusters)) == rows(Curation.leakFreeSplit(d)))
    assert(rows(Dedup.sourceOverlapFromIndex(d, i1.pairs)) == rows(Dedup.sourceOverlap(d)))
    assert(rows(Graph.nearDupTrianglesFromPairs(d, i1.pairs)) == rows(Graph.nearDupTriangles(d)))
    // freeRetained kills the cached checkpoints AND the cache entries
    // (a cleared eager checkpoint cannot be recomputed): next call
    // builds fresh
    Dedup.freeRetained()
    val i3 = Dedup.nearDupIndexCached(d)
    assert(!(i3 eq i1))
    assert(rows(i3.clusters) == rows(Dedup.components(Dedup.minhashCandidates(d))))
    Dedup.freeRetained()
  }

  test("pq/ivfpq index cache: serve rows identical to train-inline; freeRetained invalidates") {
    val e = Tables.embeddings(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rank").collect().toSeq
    val (cb1, codes1) = Similarity.pqIndexCached(e)
    assert(Similarity.pqIndexCached(e)._2 eq codes1)
    assert(rows(Similarity.pqTopKFromIndex(e, cb1, codes1, 0L to 9L, 5)) ==
      rows(Similarity.pqTopK(e, 0L to 9L, 5)))
    val (cent, cb2, cc) = Similarity.ivfPqIndexCached(e)
    assert(Similarity.ivfPqIndexCached(e)._3 eq cc)
    assert(rows(Similarity.ivfPqTopKFromIndex(e, cent, cb2, cc, 0L to 9L, 5)) ==
      rows(Similarity.ivfPqTopK(e, 0L to 9L, 5)))
    Dedup.freeRetained()
    assert(!(Similarity.pqIndexCached(e)._2 eq codes1),
      "freeRetained must invalidate the pq cache entry")
    Dedup.freeRetained()
  }

  test("annPairs/ivfKmeans caches: serve rows identical to train-inline; pagerank and embedding dedup read them") {
    import graft.pipeline.Graph
    val e = Tables.embeddings(spark, sf0001)
    val d = docs
    Dedup.freeRetained()
    val pairs = Similarity.annPairsCached(e)
    assert(Similarity.annPairsCached(e) eq pairs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(rows(Dedup.embeddingNearDupsFromPairs(d, pairs)) ==
      rows(Dedup.embeddingNearDups(d, e)))
    assert(rows(Graph.similarityCentralityFromPairs(e, pairs)) ==
      rows(Graph.similarityCentrality(e)))
    val (assign, cent) = Similarity.ivfKmeansIndexCached(e)
    assert(Similarity.ivfKmeansIndexCached(e)._1 eq assign)
    assert(rows(Similarity.ivfTopKNprobe(assign, cent, 0L to 9L, 5, Similarity.KmeansNprobe)) ==
      rows(Similarity.ivfTopKKmeans(e, 0L to 9L, 5)))
    Dedup.freeRetained()
    assert(!(Similarity.annPairsCached(e) eq pairs),
      "freeRetained must invalidate the annPairs cache entry")
    Dedup.freeRetained()
  }

  test("nearDupIndex round-trips through parquet: reloaded artifact serves identical consumer rows") {
    val d = planted
    val idx = Dedup.nearDupIndex(d)
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_idx").toString
    Dedup.writeNearDupIndex(idx, dir)
    val reloaded = Dedup.readNearDupIndex(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(rows(reloaded.pairs) == rows(idx.pairs) && rows(reloaded.pairs).nonEmpty)
    assert(rows(Dedup.clusterSizesFromIndex(d, reloaded.clusters)) == rows(Dedup.clusterSizes(d)))
    assert(rows(Curation.keepBestFromIndex(d, reloaded.clusters)) == rows(Curation.keepBest(d)))
    assert(rows(Dedup.sourceOverlapFromIndex(d, reloaded.pairs)) == rows(Dedup.sourceOverlap(d)))
    Dedup.freeRetained()
  }

  test("span index round-trips through parquet: reloaded spans serve identical removal rows") {
    val d = docs
    val dir = java.nio.file.Files.createTempDirectory("graft_span_idx").toString
    val spans = Dedup.spanIndex(d)
    Dedup.writeSpanIndex(spans, dir)
    val reloaded = Dedup.readSpanIndex(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(rows(reloaded) == rows(spans) && rows(reloaded).nonEmpty)
    assert(rows(Dedup.removeSpansFromIndex(d, reloaded)) == rows(Dedup.removeSpans(d)))
    Dedup.freeRetained()
  }

  test("pca artifacts round-trip through parquet: deflation + projection serve identically") {
    val e = Tables.embeddings(spark, sf0001)
    Dedup.freeRetained()
    val mm = Similarity.scatterMatrixCached(e)
    val v1 = Similarity.pcaTopCached(e)
    val dir = java.nio.file.Files.createTempDirectory("graft_pca_idx").toString
    Similarity.writePcaIndex(mm, v1, dir)
    val (rmm, rv1) = Similarity.readPcaIndex(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(rows(rmm) == rows(mm) && rows(rv1) == rows(v1) && rows(rv1).nonEmpty)
    assert(rows(Similarity.pcaTop2FromIndex(rmm, rv1)) == rows(Similarity.pcaTop2(e)))
    assert(rows(Similarity.pcaProjectFromIndex(rv1, e)) ==
      rows(Similarity.pcaProjectFromIndex(v1, e)))
    Dedup.freeRetained()
  }

  test("pq/ivfpq/ivf indexes round-trip through parquet: serve twins identical from disk") {
    val e = Tables.embeddings(spark, sf0001)
    Dedup.freeRetained()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("probe_id", "rank").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_idx").toString
    val (cb, codes) = Similarity.pqIndexCached(e)
    Similarity.writePqIndex(cb, codes, s"$dir/pq")
    val (rcb, rcodes) = Similarity.readPqIndex(spark, s"$dir/pq")
    assert(rows(Similarity.pqTopKFromIndex(e, rcb, rcodes, 0L to 9L, 5)) ==
      rows(Similarity.pqTopKFromIndex(e, cb, codes, 0L to 9L, 5)))
    val (cent, cb2, cc) = Similarity.ivfPqIndexCached(e)
    Similarity.writeIvfPqIndex(cent, cb2, cc, s"$dir/ivfpq")
    val (rcent, rcb2, rcc) = Similarity.readIvfPqIndex(spark, s"$dir/ivfpq")
    assert(rows(Similarity.ivfPqTopKFromIndex(e, rcent, rcb2, rcc, 0L to 9L, 5)) ==
      rows(Similarity.ivfPqTopKFromIndex(e, cent, cb2, cc, 0L to 9L, 5)))
    val (assign, kcent) = Similarity.ivfKmeansIndexCached(e)
    Similarity.writeIvfIndex(assign, kcent, s"$dir/ivf")
    val (rassign, rkcent) = Similarity.readIvfIndex(spark, s"$dir/ivf")
    assert(rows(Similarity.ivfTopKNprobe(rassign, rkcent, 0L to 9L, 5, Similarity.KmeansNprobe)) ==
      rows(Similarity.ivfTopKNprobe(assign, kcent, 0L to 9L, 5, Similarity.KmeansNprobe)))
    Dedup.freeRetained()
  }

  test("semanticDedup: scala replay of the epsilon-ball rule; drops observed both ways") {
    val e = Tables.embeddings(spark, sf0001)
    Dedup.freeRetained()
    val out = Similarity.semanticDedup(e)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // independent replay: collect the (bounded) assignment and apply
    // the rule in plain Scala
    val (assign, _) = Similarity.ivfKmeansIndexCached(e)
    val rows = assign.select("vec_id", "cell", "q", "n2")
      .as[(Long, Long, Seq[Long], Long)].collect()
    val byCell = rows.groupBy(_._2)
    def cos(a: (Long, Long, Seq[Long], Long), b: (Long, Long, Seq[Long], Long)) = {
      val dot = a._3.zip(b._3).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a._4.toDouble) * math.sqrt(b._4.toDouble))
    }
    val model = rows.map { a =>
      val close = byCell(a._2)
        .filter(b => b._1 < a._1 && cos(a, b) >= Similarity.AnnThreshold)
      a._1 -> (a._2,
        close.size.toLong,
        if (close.isEmpty) -1L else close.map(_._1).min,
        if (close.isEmpty) "keep" else "drop")
    }.toMap
    assert(out == model)
    val nDrop = out.values.count(_._4 == "drop")
    assert(nDrop > 0 && nDrop < out.size,
      s"degenerate fixture: $nDrop dropped of ${out.size}")
    // mega-cell guard: with a cap below every cell size, every vector
    // reports membership-only (no pairwise balls computed)
    val mega = Similarity.semanticDedup(e, maxCell = 1L)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(mega.nonEmpty && mega.forall(r =>
      r._5 == "mega" && r._3 == 0L && r._4 == -1L))
    Dedup.freeRetained()
  }

  test("ccnetBuckets: per-language terciles split 6 distinct scores 2/2/2, head outscores tail") {
    // frequency ladder: 'a' dominates the corpus, so docs with more
    // 'a' mass have higher mean unigram log-prob
    val d = (1 to 6).map { i =>
      val toks = Seq.fill(6 - i)("a") ++ (1 to i).map(j => s"r${i}_$j")
      (i.toLong, toks.mkString(" "), "en", "s", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Curation.ccnetBuckets(d)
      .as[(Long, String, Long, String)].collect().map(x => x._1 -> (x._3, x._4)).toMap
    assert(r.size == 6)
    val byBucket = r.values.groupBy(_._2).view.mapValues(_.map(_._1).toSeq.sorted).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"), byBucket.toString)
    assert(byBucket.values.forall(_.size == 2), byBucket.toString)
    assert(byBucket("head").min > byBucket("middle").max, byBucket.toString)
    assert(byBucket("middle").min > byBucket("tail").max, byBucket.toString)
    // a single-doc language is all tail (nearest-rank: cum*3 >= n at
    // its only score)
    val solo = Curation.ccnetBuckets(
      Seq((1L, "only doc here", "fr", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
      .as[(Long, String, Long, String)].collect()
    assert(solo.map(_._4).toSeq == Seq("tail"))
  }

  test("mixtureSample: rate-1 languages keep everything; kept docs satisfy bucket < rate; deterministic") {
    // tiny corpus => budget 100k >> tokens => every language rate 1.0
    // => rate_q 1e6 => all docs survive
    val all = Curation.mixtureSample(planted).collect()
    assert(all.length == planted.count())
    // tight budget: survivors are exactly the bucket < rate_q set, and
    // a re-run picks the same docs
    val d = (1L to 40L).map(i => (i, s"w$i " * 10, if (i % 2 == 0) "en" else "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = Curation.mixtureSample(d, budgetTokens = 100L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val r2 = Curation.mixtureSample(d, budgetTokens = 100L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(r1.toSeq == r2.toSeq, "mixture sampling must be deterministic")
    assert(r1.nonEmpty && r1.length < 40, s"tight budget must subsample, kept ${r1.length}")
    assert(r1.forall { case (_, _, b, rq) => b < rq })
  }

  test("sourceCentroidSim: identical sources score 1, opposite sources score -1") {
    val e = Seq(
      (1L, 0L, Array(1.0f, 0.0f)), (2L, 0L, Array(1.0f, 0.0f)),   // srcA ~ +x
      (3L, 0L, Array(-1.0f, 0.0f)), (4L, 0L, Array(-1.0f, 0.0f)), // srcB ~ -x
      (5L, 0L, Array(1.0f, 0.0f)))                                 // srcC ~ +x
      .toDF("vec_id", "label", "embedding")
    val d = Seq((1L, "srcA"), (2L, "srcA"), (3L, "srcB"), (4L, "srcB"), (5L, "srcC"))
      .map { case (id, s) => (id, "t", "en", s, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Similarity.sourceCentroidSim(d, e)
      .as[(String, String, Double)].collect().map(x => (x._1, x._2) -> x._3).toMap
    assert(r(("srcA", "srcC")) == 1.0, r.toString)
    assert(r(("srcA", "srcB")) == -1.0, r.toString)
    assert(r(("srcB", "srcC")) == -1.0, r.toString)
  }

  test("corpusCard: hand-checked datasheet metrics, near-dup count reads the passed pair table") {
    val d = Seq(
      (1L, "alpha beta gamma", "en", "s1", 1L),
      (2L, "alpha beta gamma", "en", "s2", 1L), // exact dup of 1
      (3L, "delta epsilon", "de", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val card = Curation.corpusCard(d, pairs).as[(String, Long)].collect().toMap
    assert(card("n_docs") == 3L)
    assert(card("n_tokens") == 8L)
    assert(card("n_vocab") == 5L)
    assert(card("n_langs") == 2L)
    assert(card("n_sources") == 2L)
    assert(card("n_distinct_content") == 2L)
    assert(card("n_exact_dup_docs") == 1L)
    assert(card("n_neardup_pairs") == 3L)
    val expectedQ = TextAnalysis.quality(d)
      .agg((sum(round(col("quality") * 10000).cast("long")) / count(lit(1))).cast("long"))
      .collect()(0).getLong(0)
    assert(card("mean_quality_q") == expectedQ)
  }

  test("bpeApplyCached: tokenizer artifact is build-once; rows identical to the inline train") {
    Dedup.freeRetained()
    val c1 = TextAnalysis.bpeApplyCached(planted, 2)
    assert(TextAnalysis.bpeApplyCached(planted, 2) eq c1,
      "second call must hit the session cache, not retrain")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.sortBy(_.toString)
    assert(rows(c1) == rows(TextAnalysis.bpeApply(planted, 2)))
    Dedup.freeRetained()
    assert(!(TextAnalysis.bpeApplyCached(planted, 2) eq c1),
      "freeRetained must invalidate the tokenizer cache entry")
    Dedup.freeRetained()
  }

  test("epochShuffle shard count derives from corpus tokens, power-of-two rounded") {
    val T = Curation.TargetTokensPerBucket
    assert(Curation.autoShardsFor(0L) == 8)
    assert(Curation.autoShardsFor(8 * T) == 8)
    assert(Curation.autoShardsFor(9 * T) == 16)
    assert(Curation.autoShardsFor(16 * T) == 16)
    assert(Curation.autoShardsFor(16 * T + 1) == 16) // floor division
    assert(Curation.autoShardsFor(17 * T) == 32)
    assert(Curation.autoShardsFor(1000 * T) == 1024)
    // small corpus: the derived count is the 8-shard floor — identical
    // rows to an explicit nShards=8
    val derived = Curation.epochShuffle(planted).collect().toSeq.sortBy(_.getLong(0))
    val fixed = Curation.epochShuffle(planted, nShards = 8).collect().toSeq.sortBy(_.getLong(0))
    assert(derived == fixed && derived.nonEmpty)
  }

  test("band-bucket cap: mega-clusters leave pairwise candidates but stay in group dedup") {
    // 8 identical docs (one band bucket of 8) + one genuine near-dup
    // pair; cap=3 must drop the cluster's pairs from BOTH banding
    // paths while the pair survives and groups still report the cluster
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    // the surviving pair shares NO text with the cluster, so its band
    // buckets (size 2) are independent of the capped ones
    val other = "iota kappa lambda mu nu xi omicron pi rho sigma " * 4
    val docs = ((1L to 8L).map(i => (i, base.trim)) ++ Seq(
      (20L, other.trim), (21L, other.trim)))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val mh = Dedup.minhashCandidates(docs, k = 3, maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    assert(!mh.exists(p => p._1 <= 8 && p._2 <= 8), s"cluster pairs leaked: $mh")
    assert(mh.contains((20L, 21L)))
    val sh = Dedup.simhashNearPairs(docs, maxDist = 3, maxBucket = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!sh.exists(p => p._1 <= 8 && p._2 <= 8), s"cluster pairs leaked: $sh")
    assert(sh.contains((20L, 21L)))
    // the cluster is still reported — as ONE group row, not 28 pairs
    val groups = Dedup.simhashGroups(docs).collect()
    assert(groups.exists(_.getAs[Long]("n_docs") >= 8))
  }

  test("ivfIndex round-trips through a cell-partitioned parquet table and serves identical top-k") {
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString + "/index"
    Similarity.ivfIndex(emb).write.partitionBy("cell").parquet(dir)
    val reloaded = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("q"), col("n2"))
    val fromDisk = Similarity.ivfTopKFromIndex(reloaded, 0L to 9L, 5)
      .orderBy("probe_id", "rank").collect().toSeq
    val direct = Similarity.ivfTopK(emb, 0L to 9L, 5)
      .orderBy("probe_id", "rank").collect().toSeq
    assert(fromDisk == direct && fromDisk.nonEmpty)
  }

  test("on-disk IVF serve gets DYNAMIC partition pruning: only probed cells' partitions read") {
    // the 100 TB serve story: the index is stored partitionBy(cell);
    // probing joins a tiny broadcast probe set on the partition column,
    // so Spark inserts a dynamic-pruning predicate and the scan reads
    // only the probed cells' directories — asserted here on the real
    // executed plan, not claimed in a comment
    val emb = Tables.embeddings(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_dpp").toString + "/index"
    Similarity.ivfIndexKmeans(emb).write.partitionBy("cell").parquet(dir)
    val reloaded = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("q"), col("n2"))
    val served = Similarity.ivfTopKFromIndex(reloaded, 0L to 2L, 5)
    val rows = served.collect()
    assert(rows.length == 15)
    assert(served.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "IVF serve lost dynamic partition pruning — full index scanned per query")
  }

  test("kmeans IVF: label-free cells partition the corpus; nprobe=1 recall@5 clears the floor") {
    val emb = Tables.embeddings(spark, sf0001)
    val idx = Similarity.ivfIndexKmeans(emb).cache()
    try {
      // every vector assigned to exactly one of <= KmeansK learned cells
      assert(idx.count() == emb.count())
      val nCells = idx.select("cell").distinct().count()
      assert(nCells >= 2 && nCells <= Similarity.KmeansK, s"$nCells cells")
      // recall@5 vs exact brute force, averaged over 10 probes — the
      // fixture is deterministic, so this is a fixed number; the floor
      // is set under the measured value to catch regressions, not noise
      val probes = 0L to 9L
      def topSets(df: org.apache.spark.sql.DataFrame) = df
        .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val brute = topSets(Similarity.bruteTopK(emb, probes, 5))
      val cent = Similarity.kmeansCentroids(emb)
      def recallAt(nprobe: Int): Double = {
        val ivf = topSets(Similarity.ivfTopKNprobe(idx, cent, probes, 5, nprobe))
        probes.map(p => (ivf.getOrElse(p, Set.empty[Long]) & brute(p)).size / 5.0)
          .sum / probes.size
      }
      val rs = Seq(1, 2, 3, 4).map(np => np -> recallAt(np))
      info(rs.map { case (np, r) => f"nprobe=$np recall@5=$r%.2f" }.mkString("  "))
      // recall must rise with nprobe (the knob works) and clear floors
      assert(rs.sliding(2).forall { case Seq((_, a), (_, b)) => b >= a }, s"recall not monotone: $rs")
      assert(rs.head._2 >= 0.1, f"nprobe=1 recall ${rs.head._2}%.2f below floor")
      assert(rs.last._2 >= 0.5, f"nprobe=4 recall ${rs.last._2}%.2f below floor")
    } finally idx.unpersist()
  }

  test("embeddingNearDups restricts ANN pairs to ids present in the doc corpus") {
    val emb = Tables.embeddings(spark, sf0001)
    val all = Dedup.embeddingNearDups(Tables.documents(spark, sf0001), emb).collect()
    assert(all.nonEmpty)
    // shrink the corpus to even ids: both endpoints must survive the
    // semi-joins, so every pair is even/even and some pairs drop
    val evenDocs = Tables.documents(spark, sf0001).filter($"doc_id" % 2 === 0)
    val even = Dedup.embeddingNearDups(evenDocs, emb)
      .as[(Long, Long, Double)].collect()
    assert(even.forall(p => p._1 % 2 == 0 && p._2 % 2 == 0), even.mkString(","))
    assert(even.length < all.length)
  }

  test("kmeans IVF assignment is invariant to input partitioning (determinism claim)") {
    val emb = Tables.embeddings(spark, sf0001)
    def assignment(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfIndexKmeans(df).select("vec_id", "cell")
        .as[(Long, Long)].collect().toMap
    // integer centroid sums + exact-long dots: a different partitioning
    // changes per-partition accumulation order, which must not change
    // a single cell assignment
    assert(assignment(emb) == assignment(emb.repartition(7)))
  }

  test("minhash handles documents shorter than the shingle width") {
    val short = Seq(
      (1L, "one", "en", "s", 3L), (2L, "two words", "en", "s", 9L),
      (3L, "three whole shingle words here", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sigs = Dedup.minhashSignatures(short).collect()
    // docs 1 and 2 have no 3-gram shingles: no signature rows, no crash
    assert(sigs.map(_.getAs[Long]("doc_id")).toSet == Set(3L))
    assert(Dedup.minhashCandidates(short).collect().isEmpty)
  }

  test("eventTime/eventMicros are schema-adaptive: ns-long and native-timestamp encodings agree") {
    // one instant, two encodings: ns-since-epoch long (legacy
    // nanosAsLong lake) vs TIMESTAMP_NTZ (current testdata); the time
    // plane must produce identical micros and timestamps from both
    val micros = 1696154096123456L
    val asLong = Seq(micros * 1000 + 789).toDF("ts") // sub-us residue truncates
    val asTs = spark.sql(s"SELECT timestamp_micros(${micros}L) AS ts")
      .select(col("ts").cast("timestamp_ntz").as("ts"))
    assert(asTs.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val mLong = asLong.select(Tables.eventMicros(asLong).as("m")).as[Long].head()
    val mTs = asTs.select(Tables.eventMicros(asTs).as("m")).as[Long].head()
    assert(mLong == micros && mTs == micros, s"$mLong / $mTs != $micros")
    val tLong = asLong.select(Tables.eventTime(asLong).cast("string")).as[String].head()
    val tTs = asTs.select(Tables.eventTime(asTs).cast("string")).as[String].head()
    assert(tLong == tTs, s"$tLong != $tTs")
  }

  test("eventTime truncates ns->us exactly at double-precision-hostile boundaries") {
    // 2024-01-01T01:00:00 in ns, minus 60 ns: double arithmetic rounds
    // this UP across the boundary; exact decimal division must not
    val hourNs = 1704070800000000000L
    val df = Seq(hourNs - 60L, hourNs, hourNs + 999L).toDF("ts")
    val got = df.select(
      org.apache.spark.sql.functions.unix_micros(
        Tables.eventTime(org.apache.spark.sql.functions.col("ts"))).as("us"))
      .as[Long].collect().toSeq
    assert(got == Seq(hourNs / 1000 - 1, hourNs / 1000, hourNs / 1000))
  }

  test("exact dedup counts distinct content") {
    val dup = planted.union(planted.limit(1))
    val row = Dedup.exactSummary(dup).head()
    assert(row.getAs[Long]("n_docs") == 4 && row.getAs[Long]("n_dups") == 1)
  }

  test("bruteTopK: self excluded, ranks contiguous, cos in [-1,1]") {
    val res = Similarity.bruteTopK(Tables.embeddings(spark, sf0001), Seq(0L, 1L), 5).collect()
    assert(res.length == 10)
    res.foreach { r =>
      assert(r.getAs[Long]("neighbor_id") != r.getAs[Long]("probe_id"))
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.0001 && c <= 1.0001)
    }
    val ranks = res.filter(_.getAs[Long]("probe_id") == 0L).map(_.getAs[Int]("rank")).sorted
    assert(ranks.toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("ivfTopK: k results per probe from the probe's cell, ranked like brute force on that cell") {
    val emb = Tables.embeddings(spark, sf0001)
    val res = Similarity.ivfTopK(emb, Seq(0L, 1L, 2L), 5).collect()
    assert(res.length == 15)
    val perProbe = res.groupBy(_.getAs[Long]("probe_id"))
    perProbe.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }) // descending
    }
    // IVF candidates are a subset of brute-force candidates: every IVF
    // cos must appear among the brute cos values for that probe pair
    val brute = Similarity.bruteTopK(emb, Seq(0L, 1L, 2L), 2000).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cos_sim"))
      .toMap
    res.foreach { r =>
      val key = (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))
      assert(math.abs(brute(key) - r.getAs[Double]("cos_sim")) < 1e-9)
    }
  }

  test("annPairs only returns pairs above threshold, consistent with brute force") {
    val emb = Tables.embeddings(spark, sf0001)
    val ann = Similarity.annPairs(emb).as[(Long, Long, Double)].collect()
    ann.foreach { case (_, _, c) => assert(c >= Similarity.AnnThreshold) }
  }

  test("annPairs bucket cap: an embedding mega-cluster leaves pairwise candidates but stays in group dedup") {
    // 20 identical embeddings = one over-cap bucket in EVERY family
    // (identical vectors share every signature); the genuine pair is
    // their exact negation, so its signatures are the bitwise
    // complement — its own tiny bucket, independent of the capped ones
    val v = Array(1000f, 200f, -300f, 50f)
    val neg = v.map(-_)
    val emb = ((101L to 120L).map(i => (i, 0L, v)) ++ Seq((1L, 0L, neg), (2L, 0L, neg)))
      .toDF("vec_id", "label", "embedding")
    val capped = Similarity.annPairs(emb, threshold = 0.3, maxBucket = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 > 100 || p._2 > 100), s"mega-cluster pairs leaked: $capped")
    assert(capped == Set((1L, 2L)), s"genuine pair lost: $capped")
    // lifting the cap proves the blacklist (not the banding) dropped
    // them: the cluster's 190 pairs come back
    val uncapped = Similarity.annPairs(emb, threshold = 0.3, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count(p => p._1 > 100 && p._2 > 100) == 190)
    // the cluster is still visible — as ONE exact-dedup group row over
    // the corresponding docs, not 190 pairwise rows
    val clusterDocs = (101L to 120L).map(i => (i, "same bytes same doc", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val groups = Dedup.exactGroups(clusterDocs).collect()
    assert(groups.exists(_.getAs[Long]("n_docs") == 20))
  }

  test("adaptive LSH: degenerate at gate scale, wider sigs + linear buckets at 33x, exact dups never lost") {
    // 1. degeneracy — the property that lets the static-width SQL
    // oracle gate sim_ann_pairs_adaptive: at gate corpus sizes the
    // adaptive params ARE the fixed params, bit for bit
    assert(Similarity.adaptiveLshParams(500) ==
      (Similarity.NumPlanes, Similarity.NumFamilies))
    assert(Similarity.adaptiveLshParams(2000) ==
      (Similarity.NumPlanes, Similarity.NumFamilies))
    val emb = Tables.embeddings(spark, sf0001)
    val fixed = Similarity.annPairs(emb)
      .as[(Long, Long, Double)].collect().toSet
    val adaptive = Similarity.annPairsAdaptive(emb)
      .as[(Long, Long, Double)].collect().toSet
    assert(adaptive == fixed, "adaptive path diverged from fixed at gate scale")

    // 2. a 33x corpus (replica rotation decorrelates, ids shift) with
    // 10 planted EXACT duplicates per replica — cos == 1 pairs share
    // every signature at ANY width, so adaptive recall on them is
    // deterministic, not probabilistic
    val S = 1000000L
    val base = emb.select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getSeq[Float](2).toArray))
    val reps = (0 until 33).flatMap { r =>
      base.map { case (id, lb, v) =>
        val rot = r % v.length
        (id + r * S, lb, v.drop(rot) ++ v.take(rot))
      }
    }
    val planted = (0 until 33).flatMap { r =>
      (0 until 10).map { i =>
        val (id, lb, v) = base(i * 37 % base.length)
        val rot = r % v.length
        (id + r * S + 500000L, lb, v.drop(rot) ++ v.take(rot))
      }
    }
    val big = spark.createDataFrame(
      spark.sparkContext.parallelize(reps ++ planted, 8))
      .toDF("vec_id", "label", "embedding")
    val n = reps.size + planted.size
    val (planes, fams) = Similarity.adaptiveLshParams(n)
    assert(planes > Similarity.NumPlanes && fams >= Similarity.NumFamilies,
      s"adaptivity did not kick in at n=$n: ($planes, $fams)")

    // 3. candidate economy — the byte-exponent fix: Σ occupancy² (the
    // exact candidate volume of the self-join) must be FAR smaller
    // under adaptive sigs than under fixed sigs on the same corpus,
    // and per-family expected occupancy must be back near the target
    def volume(planesN: Int, famsN: Int): (Long, Long) = {
      val occ = Similarity.lshFamilySignatures(big, famsN, planesN)
        .groupBy("family", "sig").count()
        .agg(sum(col("count") * col("count")).cast("long"),
          max(col("count")).cast("long")).head()
      (occ.getLong(0), occ.getLong(1))
    }
    val (volFixed, maxFixed) =
      volume(Similarity.NumPlanes, Similarity.NumFamilies)
    val (volAdaptive, maxAdaptive) = volume(planes, fams)
    assert(volAdaptive * 4 < volFixed,
      s"adaptive sigs did not cut candidate volume: $volAdaptive vs $volFixed")
    assert(maxAdaptive < maxFixed,
      s"adaptive max bucket $maxAdaptive >= fixed $maxFixed")

    // 4. every planted exact-dup pair survives end-to-end (and would
    // even at 1000x: identical vectors collide at any signature width)
    val found = Similarity.annPairsAdaptive(big)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val wanted = (0 until 33).flatMap { r =>
      (0 until 10).map { i =>
        val id = base(i * 37 % base.length)._1
        (id + r * S, id + r * S + 500000L)
      }
    }.toSet
    assert(wanted.subsetOf(found),
      s"lost ${(wanted -- found).size} of ${wanted.size} planted exact-dup pairs")
  }

  test("adaptive LSH recall model: compensation below the family cap, documented decay above it") {
    import Similarity._
    // the model behind adaptiveLshParams' trade (r13 advice: make the
    // post-cap decay OBSERVABLE): recall@refSim = 1-(1-s^planes)^fams
    val refSim = 0.85
    val base = estimatedLshRecall(NumPlanes, NumFamilies, refSim)
    // WHILE THE COMPENSATION RULE IS UNCAPPED the widened params never
    // fall below the fixed-width baseline recall: each plane divides
    // per-family recall by s, families x(1/s)^extra buys it back
    for (n <- Seq(10000L, 100000L, 1000000L)) {
      val (p, f) = adaptiveLshParams(n)
      val unc = math.max(NumFamilies,
        math.ceil(NumFamilies * math.pow(1.0 / refSim, (p - NumPlanes).toDouble)).toInt)
      assert(unc <= 8, s"cap unexpectedly binds at n=$n")
      // within 0.05 of the fixed-width baseline (the multiplicative
      // rule compensates the UNION BOUND f·s^planes exactly; the true
      // OR-recall concedes a few points to overlap as f grows:
      // 0.615/0.600/0.580 at these three n vs 0.612 fixed)
      assert(estimatedLshRecall(p, f, refSim) >= base - 0.05,
        s"uncapped compensation lost recall at n=$n: ${estimatedLshRecall(p, f, refSim)} < $base")
    }
    // FIRST CAPPED WIDTH (n ~ 2M -> planes 15, families capped at 8):
    // recall is still above 0.5...
    assert(adaptiveLshParams(2000000L) == (15, 8))
    val atCap = estimatedLshRecall(15, 8, refSim)
    assert(atCap > 0.5, s"recall at first capped width: $atCap")
    // ...and beyond it the decay is real and monotone — the documented
    // trade (raise maxFamilies/targetBucket to buy recall back; exact
    // dups are width-invariant and never decay). These literals pin
    // the curve so a model change is a visible diff, not a silent one.
    val decay = Seq(15, 20, 26).map(p => estimatedLshRecall(p, 8, refSim))
    assert(decay == decay.sorted.reverse && decay.last < 0.2,
      s"post-cap decay curve moved: $decay")
    // the binding cap is LOUD: adaptiveLshParams logs estimated recall
    // (slf4j); cheap proxy pinned here = the uncapped demand really
    // exceeds the cap at that n, so the warn branch is taken
    val uncAt2M = math.ceil(
      NumFamilies * math.pow(1.0 / refSim, (15 - NumPlanes).toDouble)).toInt
    assert(uncAt2M > 8, s"warn branch not reachable at n=2M (uncapped=$uncAt2M)")
  }

  test("capped-width LSH: measured non-exact recall floor on a planes>NumPlanes corpus") {
    // r14 advice parenthetical, closed: the family-cap trade
    // (adaptiveLshParams stops buying recall back once maxFamilies
    // binds) was model-pinned and log-surfaced but never MEASURED.
    // This runs the actual banded join at a capped width — planes
    // well past NumPlanes with families held at the fixed count, the
    // exact shape a corpus past the cap sees — on a corpus with
    // planted near-pairs of known cosine, and asserts the observed
    // recall against the documented floor: real (above the model's
    // prediction minus slack), genuinely non-exact (far below 1 — the
    // trade exists), and exact-dup-lossless (cos=1 pairs are
    // width-invariant: every plane agrees on identical vectors).
    import spark.implicits._
    val rnd = new scala.util.Random(20250816L)
    val dim = 16
    val nPairs = 200
    def vec(): Array[Float] = Array.fill(dim)((rnd.nextInt(201) - 100).toFloat)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], String)]
    var id = 0L
    for (_ <- 0 until nPairs) {
      val base = vec()
      val partner = base.clone()
      // perturb 3 of 16 dims -> planted cosine ~0.8 (computed exactly
      // below; spread comes from the random magnitudes)
      for (d <- Seq(2, 7, 11)) partner(d) = (rnd.nextInt(201) - 100).toFloat
      rows += ((id, base, "a")); rows += ((id + 1, partner, "a")); id += 2
    }
    // 10 planted EXACT duplicates (identical vectors, distinct ids)
    for (_ <- 0 until 10) {
      val b = vec(); rows += ((id, b, "a")); rows += ((id + 1, b.clone(), "a")); id += 2
    }
    val emb = rows.toSeq.toDF("vec_id", "embedding", "label")
    val cappedPlanes = 12 // adaptiveLshParams' width for n ~ 250k
    val caught = Similarity
      .annPairs(emb, threshold = 0.5, numPlanes = cappedPlanes,
        numFamilies = Similarity.NumFamilies)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val dx = x.zip(y).map { case (a, b) => a.toDouble * b.toDouble }.sum
      dx / math.sqrt(x.map(a => a.toDouble * a.toDouble).sum *
        y.map(a => a.toDouble * a.toDouble).sum)
    }
    val planted = (0 until nPairs).map { p =>
      val (a, b) = (rows(2 * p), rows(2 * p + 1))
      (a._1, b._1, cos(a._2, b._2))
      // truth is float cosine but annPairs filters on QUANTIZED-integer
      // cosine at 0.5 — a borderline pair can be planted-true yet
      // legitimately quantization-excluded, silently consuming the
      // model−0.15 slack (r15 advice). A 0.05 margin above the serve
      // threshold keeps every planted pair unambiguously above it
      // under quantization (|Δcos| from ±0.5-per-component rounding is
      // ≪ 0.05 at these magnitudes).
    }.filter(_._3 >= 0.55)
    assert(planted.size > 150, s"fixture drifted: only ${planted.size} planted pairs above threshold")
    val got = planted.count(p => caught((p._1, p._2)))
    val observed = got.toDouble / planted.size
    // the model's prediction for THIS corpus: per-plane agreement of a
    // pair at angle θ is ~(1 − θ/π) for random hyperplanes
    val model = planted.map(p => Similarity.estimatedLshRecall(
      cappedPlanes, Similarity.NumFamilies, 1.0 - math.acos(p._3) / math.Pi)).sum / planted.size
    assert(observed >= model - 0.15,
      f"capped-width recall $observed%.3f fell below the documented floor (model $model%.3f - 0.15)")
    assert(observed <= model + 0.25,
      f"capped-width recall $observed%.3f implausibly above the model $model%.3f — fixture no longer tests the cap")
    assert(observed < 0.9,
      f"capped-width recall $observed%.3f is near-exact — the width isn't binding; the trade isn't being tested")
    // exact duplicates are width-invariant: all 10 planted cos=1 pairs
    val exactPlanted = (0 until 10).map { p =>
      (rows(2 * nPairs + 2 * p)._1, rows(2 * nPairs + 2 * p + 1)._1)
    }
    val lostExact = exactPlanted.filterNot(caught)
    assert(lostExact.isEmpty, s"capped width lost exact-dup pairs: $lostExact")
  }

  test("annRecall audit: exact dups always captured, arithmetic exact, theory = the shared literals") {
    // the hyperplane-family recall audit (round 16). nBuckets = 1
    // puts EVERY pair in the sample (C(n,2) — fine at fixture n), so
    // the planted structure is guaranteed to be scored.
    import spark.implicits._
    val rnd = new scala.util.Random(20250816L)
    val dim = 16
    def vec(): Array[Float] = Array.fill(dim)((rnd.nextInt(201) - 100).toFloat)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], String)]
    var id = 0L
    for (_ <- 0 until 50) { rows += ((id, vec(), "a")); id += 1 }
    // 5 planted EXACT duplicates — cos = 1 -> decile 9, and identical
    // vectors share every family signature, so the banding can only
    // miss one to the bucket CAP, which this fixture stays far under
    for (_ <- 0 until 5) {
      val b = vec(); rows += ((id, b, "a")); rows += ((id + 1, b.clone(), "a")); id += 2
    }
    val emb = rows.toSeq.toDF("vec_id", "embedding", "label")
    val out = Similarity.annRecall(emb, nBuckets = 1)
      .orderBy("decile")
      .as[(Int, Long, Long, Long, Double)].collect()
    val n = rows.size.toLong
    assert(out.map(_._2).sum == n * (n - 1) / 2,
      s"nBuckets=1 sample is not all pairs: ${out.map(_._2).sum}")
    out.foreach { case (d, np, nc, bp, _) =>
      assert(nc <= np, s"decile $d caught more than sampled")
      assert(bp == nc * 10000 / np, s"decile $d capture_bp arithmetic drifted")
    }
    val top = out.find(_._1 == 9).get
    assert(top._3 >= 5, s"decile 9 lost planted exact dups: ${top._3} caught")
    // low-cosine deciles are near-uncaptured (the model's floor)
    out.filter(_._1 <= 1).foreach { case (d, _, _, bp, _) =>
      assert(bp < 2000, s"decile $d capture $bp bp — banding catching noise pairs")
    }
    // the theory column IS the shared literal table (both the plan and
    // the SQL oracle embed annRecallTheory's output verbatim; fixture
    // n degenerates the adaptive width to the fixed one)
    val expect = Similarity.annRecallTheory(
      Similarity.NumPlanes, Similarity.NumFamilies).toMap
    out.foreach { case (d, _, _, _, th) =>
      assert(th == expect(d), s"decile $d theory $th != literal ${expect(d)}")
    }
  }

  test("annPairs banding: recall vs brute force is real and monotone in the family count") {
    val emb = Tables.embeddings(spark, sf0001)
    // ground truth: exact quantized-cosine pairs >= threshold over the
    // 500-vector fixture, computed directly from collected arrays
    val vecs = Similarity.quantized(emb)
      .select("vec_id", "q", "n2").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val truth = (for {
      i <- vecs.indices.iterator
      j <- (i + 1) until vecs.length
      (ia, qa, na) = vecs(i)
      (ib, qb, nb) = vecs(j)
      dot = qa.zip(qb).map { case (x, y) => x * y }.sum.toDouble
      if dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)) >= Similarity.AnnThreshold
    } yield (math.min(ia, ib), math.max(ia, ib))).toSet
    assert(truth.nonEmpty)
    def recall(fams: Int): Double = {
      val got = Similarity.annPairs(emb, numFamilies = fams)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got.subsetOf(truth), "LSH returned a pair below threshold — verify step broken")
      got.size.toDouble / truth.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    // the OR of bands can only add candidates: the second family must
    // buy real recall on this fixture
    assert(r2 > r1, s"second family added nothing: $r1 -> $r2")
    // the fixture's truth mass sits AT the 0.3 threshold boundary
    // (cos <= ~0.5 everywhere — no genuine near-dups), where a 6-bit
    // family collides with prob (1 - acos(0.3)/pi)^6 ~ 4.5%, so the
    // analytic OR-of-2 floor is ~9%. Genuine near-dups (cos -> 1)
    // collide with prob -> 1 — that regime is pinned by the
    // mega-cluster test above, not by this boundary-recall check.
    assert(r2 >= 0.05, s"2-family recall $r2 under the analytic boundary floor")
  }

  test("multimodal: stub decode yields normalized HistBins features, frames slice correctly") {
    val media = Multimodal.mediaTable(docs)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == docs.count())
    feats.foreach { f =>
      assert(f.features.length == Multimodal.HistBins)
      assert(math.abs(f.features.sum - 1.0) < 1e-9)
    }
    val frames = Multimodal.sampleFrames(media).collect()
    assert(frames.nonEmpty)
    frames.foreach(r => assert(r.getAs[Array[Byte]]("frame").length <= 32))
  }

  test("multimodal: resize emits target-dimension payloads with exact nearest-neighbor bytes") {
    val media = Multimodal.mediaTable(docs)
    val originals = media.collect().map(m => m.media_id -> m).toMap
    val (tw, th) = (8, 6)
    val resized = Multimodal.resize(media, tw, th).collect()
    assert(resized.length == originals.size)
    resized.foreach { r =>
      assert(r.width == tw && r.height == th && r.n_bytes == tw * th
        && r.payload.length == tw * th)
      val o = originals(r.media_id)
      assert(r.kind == o.kind)
      // spot-check the nearest-neighbor kernel against direct math
      (0 until tw * th).foreach { i =>
        val src = ((i / tw) * o.height / th) * o.width + (i % tw) * o.width / tw
        val expected = if (src < o.payload.length) o.payload(src) else 0.toByte
        assert(r.payload(i) == expected, s"media ${r.media_id} pos $i")
      }
    }
    // resized media flows into the unchanged downstream feature stage
    val feats = Multimodal.extractFeatures(Multimodal.resize(media, tw, th)).collect()
    assert(feats.forall(f => math.abs(f.features.sum - 1.0) < 1e-9))
  }

  test("components: chains and cliques collapse to min-doc reps with exact sizes") {
    // {1-2, 2-3}: one component of 3 via transitivity even though 1-3
    // was never a pair; {10,11}: a pair; {20..23}: a diameter-3 chain
    // (exercises multi-round propagation, not just one hop)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.components(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L),
      (20L, 20L, 4L), (21L, 20L, 4L), (22L, 20L, 4L), (23L, 20L, 4L)))
    // empty pair set: no rows, no crash
    assert(Dedup.components(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
  }

  test("incrementalDedup: exact beats near, blacklisted buckets report new") {
    // base: doc 1 "the quick brown fox jumps over the lazy dog today",
    //       doc 2 a disjoint text; batch: doc 100 = byte-identical copy
    //       of 1 (exact), doc 101 = one-token edit of 1 (near via band
    //       collision), doc 102 = unrelated (new)
    val t1 = "the quick brown fox jumps over the lazy dog today again soon"
    val base = Seq(
      (1L, t1),
      (2L, "completely different corpus text with no shared shingles here at all")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, t1),
      (101L, t1.replace("lazy", "sleepy")),
      (102L, "unrelated brand new document text nothing in common whatsoever")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(base, batch)
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((100L, "exact", 1L), (101L, "near", 1L), (102L, "new", -1L)))

    // a planted mega-bucket in the BASE blacklists its band signatures:
    // a batch doc colliding ONLY with that cluster reports 'new'
    val boiler = "a b c d e f g h i j"
    val megaBase = (0L until 40L).map(i => (i, boiler)).toDF("doc_id", "text")
    val probe = Seq((500L, boiler)).toDF("doc_id", "text")
    val capped = Dedup.incrementalDedup(megaBase, probe, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // exact tier still catches the byte-identical copy (hash groupBy is
    // cap-free by design), so use a one-token edit to isolate the bands
    val probeNear = Seq((500L, boiler.replace("j", "k"))).toDF("doc_id", "text")
    val cappedNear = Dedup.incrementalDedup(megaBase, probeNear, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(capped == Set((500L, "exact")))
    assert(cappedNear == Set((500L, "new")))
  }

  test("keepBest keeps the highest-quality cluster member, not the min id") {
    // docs 1 and 2 are a one-token-apart near-dup pair; doc 2's extra
    // token is an en stopword, so its quality is strictly higher and
    // the cluster must keep 2 even though 1 is the min-id rep. doc 3
    // is solitary and keeps itself.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau"
    val docsDf = Seq(
      (1L, base + " zz", "en"),
      (2L, base + " the", "en"),
      (3L, "unrelated solitary document completely different content here", "en")
    ).toDF("doc_id", "text", "lang")
    val got = Curation.keepBest(docsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((1L, 2L, false), (2L, 2L, true), (3L, 3L, true)))
  }

  test("rangeSearch == the above-threshold slice of the exact brute ranking") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count().toInt
    // brute top-k with k = corpus size IS the full exact ranking; both
    // outputs carry ROUNDED cosines while rangeSearch thresholds the
    // unrounded value, so compare strictly above the rounding boundary
    val cut = Similarity.AnnThreshold + 1e-5
    val full = Similarity.bruteTopK(emb, Seq(0L, 1L, 2L), n)
      .filter(col("cos_sim") >= cut)
      .select("probe_id", "neighbor_id", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ranged = Similarity.rangeSearch(emb, Seq(0L, 1L, 2L))
      .filter(col("cos_sim") >= cut)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ranged == full, s"range/${ranged.size} != brute/${full.size}")
    assert(ranged.nonEmpty, "threshold left the fixture empty — lower AnnThreshold drift?")
  }

  test("logProb: frequent-token docs outscore rare-token docs; hand-checked values") {
    // corpus unigrams: a x4, b x2, z x2 (total 8)
    // doc 1 = "a a a a": mean ln(4/8) = ln(.5)    = -0.6931
    // doc 2 = "b b z z": mean ln(2/8) = ln(.25)   = -1.3863
    val docsDf = Seq((1L, "a a a a"), (2L, "b b z z")).toDF("doc_id", "text")
    val got = TextAnalysis.logProb(docsDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 4L, -0.6931), (2L, 4L, -1.3863)))
  }

  test("lengthQuantiles: exact nearest-rank picks from the histogram") {
    // en lengths: [2, 2, 4, 6] (n=4) -> p25=2 (rank 1), p50=2 (rank 2),
    // p75=4 (rank 3), p90=6 (ceil(3.6)=rank 4); fr: single doc -> all 3
    val docsDf = Seq(
      (1L, "a b", "en"), (2L, "c d", "en"),
      (3L, "a b c d", "en"), (4L, "a b c d e f", "en"),
      (5L, "x y z", "fr")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.lengthQuantiles(docsDf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(("en", 2L, 2L, 4L, 6L), ("fr", 3L, 3L, 3L, 3L)))
  }

  test("temperatureMixture: sqrt weights normalize; rate caps at 1") {
    // en: 4 docs x 4 tokens = 16; fr: 1 doc x 4 = 4 -> sqrt weights
    // 4/(4+2)=2/3 and 2/6=1/3; budget 12 -> targets 8 and 4; fr's
    // target (4) equals its size -> rate 1.0, en rate 8/16 = 0.5
    val docsDf = (
      (1L to 4L).map(i => (i, "w x y z", "en")) :+ ((9L, "a b c d", "fr"))
    ).toDF("doc_id", "text", "lang")
    val got = Curation.temperatureMixture(docsDf, alpha = 0.5, budgetTokens = 12L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got == Set(
      ("en", 4L, 16L, 0.666667, 8L, 0.5),
      ("fr", 1L, 4L, 0.333333, 4L, 1.0)))
  }

  test("bpeTrain learns merges greedily with exact overlap handling and tie-breaks") {
    // corpus: "ab" x3, "aaaa" x1, "cd" x1
    //  step 1: (a,a)=3 ties (a,b)=3 -> (a,a) wins lexicographically;
    //          greedy overlap: aaaa -> [aa, aa] (never [a, aa, a]);
    //          tokens after: ab(2x3) + aaaa(2) + cd(2) = 10
    //  step 2: (a,b)=3 -> ab merges to one symbol; 3 + 2 + 2 = 7
    //  step 3: (aa,aa)=1 ties (c,d)=1 -> (aa,aa) wins; 3 + 1 + 2 = 6
    val tiny = Seq((1L, "ab ab aaaa"), (2L, "ab cd")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(tiny, 3)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      (1, "a", "a", 3L, 10L),
      (2, "a", "b", 3L, 7L),
      (3, "aa", "aa", 1L, 6L)))
    // iters beyond exhaustion stop cleanly: single-symbol words only
    val lone = Seq((1L, "x y")).toDF("doc_id", "text")
    assert(TextAnalysis.bpeTrain(lone, 3).count() == 0)

    // apply the same 2-merge vocab back to the corpus: ab->1 subword,
    // aaaa->[aa,aa]->2, cd->[c,d]->2; per-doc totals follow
    val applied = TextAnalysis.bpeApply(tiny, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(applied == Set((1L, 3L, 4L), (2L, 2L, 3L)))
  }

  test("PQ: identical vectors get identical codes; ADC top-k recall clears the floor") {
    val emb = Tables.embeddings(spark, sf0001)
    val cb = Similarity.pqCodebook(emb).cache()
    try {
      // codebook: PqM entries per seed, exactly PqK seeds
      assert(cb.count() == Similarity.PqM.toLong * Similarity.PqK)
      // planted byte-identical vectors must encode to the same codes
      val base = emb.limit(3)
      val dup = base.withColumn("vec_id", col("vec_id") + 100000L)
      val codes = Similarity.pqCodes(
        Similarity.quantized(base.unionByName(dup)), cb)
        .as[(Long, Int, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
      for (id <- base.select("vec_id").as[Long].collect())
        assert(codes(id) == codes(id + 100000L), s"dup of $id encoded differently")
      // every vector gets exactly PqM codes
      assert(codes.values.forall(_.size == Similarity.PqM))
      // ADC recall@5 vs brute force on the fixture: PQ is lossy by
      // design; the floor is under the measured value to catch
      // regressions (codebook/assignment/LUT bugs), not noise
      val probes = 0L to 9L
      def topSets(df: org.apache.spark.sql.DataFrame) = df
        .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val brute = topSets(Similarity.bruteTopK(emb, probes, 5))
      val pq = topSets(Similarity.pqTopK(emb, probes, 5))
      val recall = probes.map(p => (pq.getOrElse(p, Set.empty[Long]) & brute(p)).size / 5.0)
        .sum / probes.size
      info(f"PQ ADC recall@5=$recall%.2f")
      assert(recall >= 0.2, f"ADC recall $recall%.2f below floor")
    } finally cb.unpersist()
  }

  test("Lloyd-refined PQ codebook beats the raw seed sample on brute-force recall") {
    val emb = Tables.embeddings(spark, sf0001)
    // 50 probes: 10 is too small a sample to separate the codebooks
    // (both land on 0.34); at 50 the refined codebook's win is stable
    val probes = 0L to 49L
    def topSets(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(Similarity.bruteTopK(emb, probes, 5))
    def recall(iters: Int): Double = {
      val pq = topSets(Similarity.pqTopK(emb, probes, 5, iters = iters))
      probes.map(p => (pq.getOrElse(p, Set.empty[Long]) & brute(p)).size / 5.0)
        .sum / probes.size
    }
    val seed = recall(0)
    val lloyd = recall(Similarity.PqIters)
    info(f"PQ recall@5 over ${probes.size} probes: seed=$seed%.3f lloyd=$lloyd%.3f")
    assert(lloyd > seed,
      f"Lloyd refinement did not improve recall: seed=$seed%.3f lloyd=$lloyd%.3f")
  }

  test("pqIndex / ivfPqIndex are build-once indexes: cached tables serve identical top-k") {
    val emb = Tables.embeddings(spark, sf0001)
    val (cb, codes) = Similarity.pqIndex(emb)
    val cbC = cb.cache(); val codesC = codes.cache()
    val (cent, icb, ccodes) = Similarity.ivfPqIndex(emb)
    val centC = cent.cache(); val icbC = icb.cache(); val ccodesC = ccodes.cache()
    try {
      val pqFromIdx = Similarity.pqTopKFromIndex(emb, cbC, codesC, 0L to 9L, 5)
        .orderBy("probe_id", "rank").collect().toSeq
      val pqDirect = Similarity.pqTopK(emb, 0L to 9L, 5)
        .orderBy("probe_id", "rank").collect().toSeq
      assert(pqFromIdx == pqDirect && pqFromIdx.nonEmpty)
      val ivfpqFromIdx = Similarity
        .ivfPqTopKFromIndex(emb, centC, icbC, ccodesC, 0L to 9L, 5)
        .orderBy("probe_id", "rank").collect().toSeq
      val ivfpqDirect = Similarity.ivfPqTopK(emb, 0L to 9L, 5)
        .orderBy("probe_id", "rank").collect().toSeq
      assert(ivfpqFromIdx == ivfpqDirect && ivfpqFromIdx.nonEmpty)
    } finally Seq(cbC, codesC, centC, icbC, ccodesC).foreach(_.unpersist())
  }

  test("ivfPqTopK: well-formed ranks, non-empty, candidates restricted to probed cells") {
    val emb = Tables.embeddings(spark, sf0001)
    val res = Similarity.ivfPqTopK(emb, 0L to 9L, 5)
      .as[(Long, Long, Double, Int)].collect()
    assert(res.nonEmpty)
    // ranks are 1..k dense per probe, no self-matches
    for ((p, rows) <- res.groupBy(_._1)) {
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.size), s"ranks not dense for probe $p")
      assert(!rows.exists(_._2 == p), s"probe $p returned itself")
    }
    // cell restriction: every neighbor shares a probed cell with its probe
    val cent = Similarity.kmeansCentroids(emb)
    val asg = Similarity.ivfIndexKmeans(emb)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    val probeCells = Similarity.ivfTopKNprobe(
      Similarity.ivfIndexKmeans(emb), cent, 0L to 9L, k = 1000, nprobe = Similarity.KmeansNprobe)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => asg(r._2)).toSet).toMap
    for ((p, n, _, _) <- res)
      assert(probeCells(p).contains(asg(n)), s"neighbor $n of probe $p outside probed cells")
  }

  test("pqTopK plan: broadcast-only joins, no shuffle of raw vectors into the scan") {
    val emb = Tables.embeddings(spark, sf0001)
    val plan = Similarity.pqTopK(emb, 0L to 9L, 5).queryExecution.executedPlan.toString
    // codebook and LUT are broadcast; the coded-corpus scan must never
    // sort-merge or replicate the corpus
    assert(!plan.contains("SortMergeJoin"), "pqTopK fell back to SMJ")
    assert(!plan.contains("CartesianProduct"), "pqTopK produced a cartesian join")
    assert(plan.contains("BroadcastHashJoin"), "LUT/codebook join not broadcast")
  }

  test("logProb2: a token-shuffled doc scores below its unshuffled twin (unigram tier cannot tell them apart)") {
    // plant a duplicate of a real doc (so its bigrams are corpus-seen
    // at least twice and survive the minCount prune) plus the SAME
    // tokens deterministically shuffled — identical multiset, so the
    // unigram score is identical; the bigrams are destroyed, so the
    // bigram tier must separate them
    val src = docs.orderBy("doc_id").limit(1).collect()(0)
    val toks = src.getAs[String]("text").split(" ")
    val shuffled = new scala.util.Random(42).shuffle(toks.toVector).mkString(" ")
    assert(shuffled != toks.mkString(" "))
    val planted = docs.unionByName(Seq(
      (900001L, toks.mkString(" "), "en", "planted", 1L),
      (900002L, shuffled, "en", "planted", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val lp2 = TextAnalysis.logProb2(planted)
      .filter(col("doc_id") >= 900001L)
      .select("doc_id", "mean_logprob2").as[(Long, Double)].collect().toMap
    assert(lp2(900002L) < lp2(900001L),
      s"bigram tier failed to separate: $lp2")
    val lp1 = TextAnalysis.logProb(planted)
      .filter(col("doc_id") >= 900001L)
      .select("doc_id", "mean_logprob").as[(Long, Double)].collect().toMap
    assert(lp1(900002L) == lp1(900001L),
      s"unigram scores should be identical for a permuted multiset: $lp1")
  }

  test("holdoutSplit: pure function of doc_id (partitioning-invariant), covers all docs, near target fractions") {
    val a = Curation.holdoutSplit(docs).as[(Long, String)].collect().toMap
    val b = Curation.holdoutSplit(docs.repartition(13)).as[(Long, String)].collect().toMap
    assert(a == b, "split changed under repartitioning")
    assert(a.size == docs.count())
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    // md5 bytes are uniform: expect ~232/256, ~12/256, ~12/256 with
    // generous tolerance on a 500-doc fixture
    assert(math.abs(frac("train") - 232.0 / 256) < 0.05, s"train frac ${frac("train")}")
    assert(frac("val") > 0 && frac("test") > 0)
  }

  test("sourceCap keeps the N best-quality docs per source, ties to min doc_id") {
    val mk = (id: Long, src: String, text: String) => (id, text, "en", src, text.length.toLong)
    // srcA: 3 docs, quality order: 2 (long, stopword-rich) > 1 > 3;
    // srcB: 1 doc — survives any cap
    val good = ("the of and in is " * 12).trim
    val mid = "the quick brown fox jumps over fences daily"
    val bad = "zzz"
    val corpus = Seq(mk(1L, "srcA", mid), mk(2L, "srcA", good), mk(3L, "srcA", bad),
      mk(4L, "srcB", mid))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val capped = Curation.sourceCap(corpus, maxPerSource = 2)
      .select("doc_id", "source", "rank").as[(Long, String, Int)].collect().toSet
    assert(capped == Set((2L, "srcA", 1), (1L, "srcA", 2), (4L, "srcB", 1)))
    // stats: per-source counts + integer-exact mean quality
    val stats = Curation.sourceStats(corpus)
      .select("source", "n_docs").as[(String, Long)].collect().toMap
    assert(stats == Map("srcA" -> 3L, "srcB" -> 1L))
  }

  test("autoBuckets: floor of 16 on small corpora; derived count scales with tokens") {
    // the sf0.001 corpus is far under one bucket target -> the floor
    assert(graft.pipeline.Curation.autoBuckets(docs) == 16)
    // the default packSequences derives the same layout as an explicit
    // autoBuckets(docs) call
    val derived = graft.pipeline.Curation.packSequences(docs)
      .orderBy("doc_id").collect().toSeq
    val explicit = graft.pipeline.Curation
      .packSequences(docs, nBuckets = graft.pipeline.Curation.autoBuckets(docs))
      .orderBy("doc_id").collect().toSeq
    assert(derived == explicit)
  }

  test("packSequences: per-bucket running offsets, exact chunk spans, partitioning-invariant") {
    val got = graft.pipeline.Curation.packSequences(docs, nBuckets = 16, packLen = 256)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == docs.count())
    // recompute the running layout locally per bucket
    for ((_, rows) <- got.groupBy(_._3)) {
      var off = 0L
      for (r <- rows.sortBy(_._1)) {
        val (_, n, _, offset, first, last) = r
        assert(offset == off, s"offset mismatch at $r")
        assert(first == offset / 256 && last == (offset + n - 1) / 256, s"span mismatch at $r")
        off += n
      }
    }
    // docs span >= 1 pack and spans are contiguous within a bucket
    assert(got.forall(r => r._6 >= r._5))
    // pure function of (doc_id, text): partitioning must not change a row
    val re = graft.pipeline.Curation.packSequences(docs.repartition(7), 16, 256)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(re.sortBy(_._1).sameElements(got.sortBy(_._1)))
    // the window is partitioned by bucket — never a global single-
    // partition sort of the corpus
    val plan = graft.pipeline.Curation.packSequences(docs, 16, 256)
      .queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(bucket"),
      "pack window lost its bucket partition spec")
  }

  test("contextChunks: overlapping windows at exact offsets, full token coverage, short tail") {
    val d = Seq(
      (1L, "a b c d e", "en", "s", 9L),
      (2L, "x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Curation.contextChunks(d, maxLen = 3, stride = 2)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 0L, 1L, 3L, "a b c"),
      (1L, 1L, 3L, 3L, "c d e"),
      (1L, 2L, 5L, 1L, "e"),
      (2L, 0L, 1L, 1L, "x")))
    // stride == maxLen: disjoint chunks, still full coverage
    val disjoint = Curation.contextChunks(d, maxLen = 2, stride = 2)
      .filter(col("doc_id") === 1L)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(disjoint == Set(
      (1L, 0L, 1L, 2L, "a b"), (1L, 1L, 3L, 2L, "c d"), (1L, 2L, 5L, 1L, "e")))
  }

  test("importanceWeights: target-domain vocabulary scores high regardless of the doc's own tag") {
    val d = Seq(
      (1L, "alpha alpha beta", "en", "s", 1L), // the target-domain doc
      (2L, "alpha alpha beta", "zh", "s", 1L), // same content, other tag
      (3L, "gamma gamma delta", "zh", "s", 1L)) // disjoint vocabulary
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val w = Curation.importanceWeights(d, "en")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // the weight is a function of CONTENT (distributional closeness),
    // not of the doc's own lang column
    assert(w(1L) == w(2L))
    assert(w(1L) > w(3L))
    assert(w(3L) < 0.0) // out-of-domain docs score negative log-ratios
  }

  test("bm25Search: tf raises the score, rarity outweighs common terms, misses are absent") {
    val d = Seq(
      (1L, "spark spark spark pad pad pad", "en", "s", 1L), // tf=3
      (2L, "spark pad pad pad pad pad", "en", "s", 1L), // tf=1, df(spark)=2
      (3L, "merge pad pad pad pad pad", "en", "s", 1L), // tf=1, df(merge)=1
      (4L, "pad pad pad pad pad pad", "en", "s", 1L)) // no hits
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.bm25Search(d, Seq("spark", "merge"))
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(!r.contains(4L)) // hit-free docs never materialize
    assert(r(1L)._3 > r(2L)._3) // higher tf at equal dl/df
    assert(r(3L)._3 > r(2L)._3) // rarer term contributes more at equal tf/dl
    assert(r.values.forall(_._3 > 0.0)) // Lucene idf is non-negative
    assert(r(1L)._2 == 1L && r(2L)._2 == 1L)
  }

  test("epochShuffle: within-shard positions are 1..count, epochs permute independently, re-runs agree") {
    val d = (0L until 40L).map(i => (i, s"doc $i", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e0 = Curation.epochShuffle(d, epoch = 0, nShards = 4)
      .as[(Long, Long, Long)].collect()
    // a permutation: every doc exactly once, shard positions dense from 1
    assert(e0.map(_._1).sorted.toSeq == (0L until 40L))
    e0.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length))
    }
    // deterministic: a second run is bit-identical
    val again = Curation.epochShuffle(d, epoch = 0, nShards = 4)
      .as[(Long, Long, Long)].collect()
    assert(e0.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a different epoch is a different permutation (shards or orders move)
    val e1 = Curation.epochShuffle(d, epoch = 1, nShards = 4)
      .as[(Long, Long, Long)].collect()
    assert(e0.sortBy(_._1).toSeq != e1.sortBy(_._1).toSeq)
    intercept[IllegalArgumentException] { Curation.epochShuffle(d, nShards = 6) }
  }

  test("scrubPii: planted emails/phones/IPs are counted and redacted, order email-first") {
    val d = Seq(
      (1L, "mail bob.smith+x@corp.example.com then call 555-123-4567 ok", "en", "s", 1L),
      (2L, "server at 10.0.255.7 and 192.168.1.1 up", "en", "s", 1L),
      (3L, "plain text no pii at all", "en", "s", 1L),
      // the email host contains digit runs: must NOT double-count as IP
      (4L, "from a@b123.456.example.org sent", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.scrubPii(d)
      .as[(Long, Long, Long, Long, String)].collect().map(x => x._1 -> x).toMap
    assert(r(1L)._2 == 1L && r(1L)._3 == 1L && r(1L)._4 == 0L)
    assert(r(1L)._5 == "mail <EMAIL> then call <PHONE> ok")
    assert(r(2L)._4 == 2L && r(2L)._5 == "server at <IP> and <IP> up")
    assert(r(3L) == ((3L, 0L, 0L, 0L, "plain text no pii at all")))
    assert(r(4L)._2 == 1L && r(4L)._4 == 0L, "email host digits leaked into the IP pass")
    assert(r(4L)._5 == "from <EMAIL> sent")
  }

  test("hybridTopK: both-list docs outscore single-list docs at equal rank; rank 0 marks absence") {
    // docs 0..3; embeddings vec_id aligned; probe = 0
    val d = Seq(
      (1L, "spark spark spark pad", "en", "s", 1L), // lex rank 1
      (2L, "spark pad pad pad pad", "en", "s", 1L), // lex rank 2
      (3L, "pad pad pad pad pad", "en", "s", 1L)) // lex absent
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0), // probe
      (1L, Array(0.9f, 0.1f), 0), // sem rank 1
      (2L, Array(-1.0f, 0.2f), 0), // sem far
      (3L, Array(0.8f, 0.3f), 0)) // sem rank 2
      .toDF("vec_id", "embedding", "label")
    val r = TextAnalysis.hybridTopK(d, vecs, Seq("spark"), probeId = 0L, k = 2)
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L)._2 == 1L && r(1L)._3 == 1L) // both lists, rank 1 each
    assert(r(1L)._4 == BigDecimal(2.0 / 61.0).setScale(6, BigDecimal.RoundingMode.HALF_UP))
    assert(r(2L)._3 == 0L, "sem-absent doc must carry sem_rank 0")
    assert(r(3L)._2 == 0L, "lex-absent doc must carry lex_rank 0")
    assert(r(1L)._4 > r(2L)._4 && r(1L)._4 > r(3L)._4)
  }

  test("pageRank: star-graph masses are exact in integer units; isolated node holds the teleport floor") {
    import graft.pipeline.Graph
    // hub 0 <-> leaves 1..3, node 4 isolated; N=5 so p0 = 2e8 each
    val undirected = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val edges = (undirected ++ undirected.map(_.swap)).toDF("src", "dst")
    val nodes = (0L to 4L).toDF("id")
    val r1 = Graph.pageRank(edges, nodes, iters = 1)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x._2).toMap
    // teleport = (15% of 1e9) div 5 = 3e7; hub inflow = 3 * (2e8 div 1);
    // leaf inflow = 2e8 div 3 = 66666666 (floor) -> 85% floored again
    assert(r1(0L) == 30000000L + 85L * 600000000L / 100L) // 540000000
    assert(r1(1L) == 30000000L + 85L * 66666666L / 100L) // 86666666
    assert(r1(1L) == r1(2L) && r1(2L) == r1(3L))
    assert(r1(4L) == 30000000L, "isolated node must sit at the teleport floor")
    // more iterations keep the ordering and never mint mass
    val r5 = Graph.pageRank(edges, nodes, iters = 5)
      .as[(Long, Long, Double)].collect().map(x => x._1 -> x._2).toMap
    assert(r5(0L) > r5(1L) && r5(1L) > r5(4L))
    assert(r5.values.sum <= Graph.PrBase, "floor-division PageRank must never mint mass")
    assert(r5.values.forall(_ > 0L))
  }

  test("tfidfKeywords: distinctive terms outrank ubiquitous ones; corpus-wide terms score zero") {
    val d = Seq(
      (1L, "rare rare common", "en", "s", 1L),
      (2L, "common common niche", "en", "s", 1L),
      (3L, "common filler filler", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.tfidfKeywords(d, topK = 2)
      .as[(Long, String, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(x => (x._2, x._3)).toList).toMap
    // doc 1: 'rare' (tf=2, df=1) far above 'common' (df=3 -> idf 0)
    assert(r(1L).head._1 == "rare")
    assert(r(1L)(1) == (("common", 0.0)), "corpus-wide term must score exactly 0")
    assert(r(2L).head._1 == "niche" && r(3L).head._1 == "filler")
    // ranks are dense 1..k and the quantized tie-break is alphabetical
    assert(r.values.forall(_.size == 2))
  }

  test("kmvDistinct: estimate tracks true cardinality at k=64; tiny sources degrade gracefully") {
    // source 'big': 1000 distinct words spread over docs; 'tiny': 3 words
    val big = (0 until 50).map { i =>
      val words = (0 until 20).map(j => s"w${i * 20 + j}").mkString(" ")
      (i.toLong, words, "en", "big", 1L)
    }
    val tiny = Seq((99L, "a b c a", "en", "tiny", 1L))
    val d = (big ++ tiny).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.kmvDistinct(d, k = 64)
      .as[(String, Long, String, Double)].collect().map(x => x._1 -> x).toMap
    assert(r("big")._2 == 64L)
    val est = r("big")._4
    assert(est > 600 && est < 1600, s"KMV estimate $est too far from true 1000")
    // under-k source: kept = full distinct set, estimate still positive
    assert(r("tiny")._2 == 3L && r("tiny")._4 > 0.0)
    // deterministic: same input, same sketch
    val again = TextAnalysis.kmvDistinct(d, k = 64)
      .as[(String, Long, String, Double)].collect().map(x => x._1 -> x).toMap
    assert(again == r)
  }

  test("leakFreeSplit: a near-dup cluster never straddles the train/test fence; singletons match holdoutSplit") {
    // two near-identical long docs (minhash candidates) + two singletons
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (10L, base, "en", "s", 1L),
      (11L, base + " extra", "en", "s", 1L), // near-dup of 10
      (20L, (1 to 40).map(i => s"other$i").mkString(" "), "en", "s", 1L),
      (21L, (1 to 40).map(i => s"more$i").mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Curation.leakFreeSplit(d)
      .as[(Long, Long, String)].collect().map(x => x._1 -> x).toMap
    // the cluster shares a group and therefore a split
    assert(r(10L)._2 == 10L && r(11L)._2 == 10L, "near-dups must share the representative")
    assert(r(10L)._3 == r(11L)._3, "a near-dup cluster straddled the split fence")
    // singletons group as themselves and match the doc-keyed split
    val plain = Curation.holdoutSplit(d).as[(Long, String)].collect().toMap
    assert(r(20L)._2 == 20L && r(20L)._3 == plain(20L))
    assert(r(21L)._2 == 21L && r(21L)._3 == plain(21L))
  }

  test("gopherRules: each rule fails independently and keep is their conjunction") {
    val good = ((1 to 30).map(_ => "table") ++ Seq("the", "of", "query", "windowing",
      "partition", "shuffling", "broadcast", "executor", "parquet", "catalyst")).mkString(" ")
    val d = Seq(
      // 40 words, mean len > 4, 2 stop hits, but 'table' is 30/40 = 75% > 20%
      (1L, good, "en", "s", 1L),
      // too short (10 words) but otherwise fine
      (2L, "the of partition shuffling broadcast executor parquet catalyst windowing query", "en", "s", 1L),
      // mean word length < 4.0 (all 1-2 char words), no stop hits
      (3L, (1 to 25).map(i => if (i % 2 == 0) "ab" else "cd").mkString(" "), "en", "s", 1L),
      // passes everything: 24 distinct-ish long words + stops
      (4L, ((1 to 22).map(i => s"different$i") ++ Seq("the", "of")).mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.gopherRules(d)
      .select("doc_id", "wc_ok", "len_ok", "stop_ok", "dom_ok", "keep")
      .as[(Long, Int, Int, Int, Int, Int)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 1, 1, 1, 0, 0)), s"dominance rule should fail doc 1: ${r(1L)}")
    assert(r(2L) == ((2L, 0, 1, 1, 1, 0)), s"word-count rule should fail doc 2: ${r(2L)}")
    assert(r(3L)._3 == 0 && r(3L)._4 == 0 && r(3L)._6 == 0, s"len+stop rules should fail doc 3: ${r(3L)}")
    assert(r(4L) == ((4L, 1, 1, 1, 1, 1)), s"doc 4 should pass all rules: ${r(4L)}")
  }

  test("triangles: exact counts and clustering coefficients on a hand graph") {
    // triangle 1-2-3; pendant 4 on 1; isolated 5
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val r = graft.pipeline.Graph.triangles(edges, nodes)
      .as[(Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 3L, 1L, 3333L))) // cc = 2*1/(3*2) = 0.3333
    assert(r(2L) == ((2L, 2L, 1L, 10000L)))
    assert(r(3L) == ((3L, 2L, 1L, 10000L)))
    assert(r(4L) == ((4L, 1L, 0L, 0L)))
    assert(r(5L) == ((5L, 0L, 0L, 0L)))
    // K4: every node in 3 triangles, cc exactly 1
    val k4und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val k4 = (k4und ++ k4und.map(_.swap)).toDF("src", "dst")
    val rk = graft.pipeline.Graph.triangles(k4, Seq(1L, 2L, 3L, 4L).toDF("id"))
      .as[(Long, Long, Long, Long)].collect()
    assert(rk.forall(x => x._3 == 3L && x._4 == 10000L), rk.mkString(","))
  }

  test("exactNormSummary: case and whitespace variants collapse under normalization") {
    val d = Seq(
      (1L, "Hello  World", "en", "s", 1L),
      (2L, " hello world ", "en", "s", 1L), // normalizes equal to 1
      (3L, "hello world", "en", "s", 1L),   // and to this
      (4L, "different entirely", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.exactNormSummary(d)
      .as[(Long, Long, Long, Long)].collect().head
    assert(r == ((4L, 4L, 2L, 2L)),
      s"4 docs, 4 raw-distinct, 2 norm-distinct, 2 norm-only dups: $r")
  }

  test("winnowing guarantee: a shared run of >= w+k-1 tokens shares a fingerprint") {
    // k=5, w=4: guarantee threshold is 8 verbatim tokens
    val run = (5 to 12).map(i => s"a$i") // 8 tokens of doc A
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val b = ((1 to 6).map(i => s"b$i") ++ run ++ (7 to 12).map(i => s"b$i")).mkString(" ")
    val c = (1 to 20).map(i => s"c$i").mkString(" ")
    val d = Seq((1L, a, "en", "s", 1L), (2L, b, "en", "s", 1L), (3L, c, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fps = TextAnalysis.winnowFingerprints(d, k = 5, w = 4)
      .as[(Long, String)].collect().groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty, "8-token verbatim run must share a winnowed fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty, "disjoint docs share no fingerprint")
    // selection density: each selected value covers at most w windows
    val nWindows = (20 - 5 + 1) - (4 - 1) // positions with a full window
    assert(fps(1L).size >= nWindows / 4 && fps(1L).size <= nWindows)
  }

  test("winnowSummary covers short docs with n_fps = 0; density bounded") {
    val d = Seq(
      (1L, (1 to 30).map(i => s"t$i").mkString(" "), "en", "s", 1L),
      (2L, "only four tokens here", "en", "s", 1L), // 4 < k: no grams at all
      (3L, "six distinct tokens in this doc", "en", "s", 1L)) // 6 tokens: 2 grams < w windows
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.winnowSummary(d, k = 5, w = 4)
      .select("doc_id", "n_grams", "n_fps", "density_bp")
      .as[(Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(2L) == ((2L, 0L, 0L, 0L)))
    assert(r(3L)._2 == 2L && r(3L)._3 == 0L, s"no full window -> no fps: ${r(3L)}")
    assert(r(1L)._3 > 0 && r(1L)._3 <= r(1L)._2)
    assert(r(1L)._4 > 0 && r(1L)._4 <= 10000)
  }

  test("winnowPairs reports the overlapping pair, not the unrelated doc") {
    val run = (1 to 12).map(i => s"shared$i")
    val d = Seq(
      (1L, ((1 to 8).map(i => s"x$i") ++ run).mkString(" "), "en", "s", 1L),
      (2L, (run ++ (1 to 8).map(i => s"y$i")).mkString(" "), "en", "s", 1L),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Dedup.winnowPairs(d, minShared = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"12-token shared run must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prioritySample: k >= population -> tau = 0 and est_w = weight exactly") {
    val d = (1L to 5L).map(i => (i, "t", "en", "s", i * 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Curation.prioritySample(d, k = 100)
      .select("weight", "est_w").as[(Long, Long)].collect()
    assert(r.length == 5)
    assert(r.forall { case (w, e) => e == w },
      s"whole-population sample must estimate exactly: ${r.mkString(",")}")
  }

  test("prioritySample: exact DLT priorities, rank order, estimator threshold") {
    def h32(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val weights = (1L to 10L).map(i => i -> (i * 100L)).toMap
    val d = weights.toSeq.map { case (id, w) =>
      (id, "txt", "en", s"src${id % 3}", w)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val expected = weights.toSeq
      .map { case (id, w) => (id, w, w * (1L << 32) / (h32(id) + 1)) }
      .sortBy { case (id, _, p) => (-p, id) }
    val tau = expected(3)._3 // the (k+1)-th priority for k=3
    val r = Curation.prioritySample(d, k = 3)
      .select("doc_id", "weight", "priority", "rank", "est_w")
      .as[(Long, Long, Long, Int, Long)].collect().sortBy(_._4)
    assert(r.length == 3)
    r.zipWithIndex.foreach { case ((id, w, p, rank, est), i) =>
      assert(id == expected(i)._1 && w == expected(i)._2 && p == expected(i)._3,
        s"rank ${i + 1}: got ($id, $w, $p), expected ${expected(i)}")
      assert(rank == i + 1)
      assert(est == math.max(w, tau), s"est_w must be max(weight, tau=$tau), got $est")
    }
  }

  test("prioritySample: oversized weights saturate instead of overflowing (ANSI-safe)") {
    // pre-fix, weight * 2^48 overflowed Long for n_chars >= 32768 and
    // ANSI mode aborted the job; the 2^31-1 saturation + 2^32
    // multiplier must keep a multi-GB doc in-range, near-guaranteed
    // sampled, with est_w reporting its TRUE weight
    val d = Seq(
      (1L, "t", "en", "s", 3L * 1024 * 1024 * 1024), // 3 GB of chars
      (2L, "t", "en", "s", 40000L),                  // the old abort threshold
      (3L, "t", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Curation.prioritySample(d, k = 2)
      .select("doc_id", "weight", "est_w").as[(Long, Long, Long)].collect()
    assert(r.length == 2)
    val huge = r.find(_._1 == 1L)
    assert(huge.isDefined, "the 3 GB doc must make a k=2 sample")
    assert(huge.get._2 == 3L * 1024 * 1024 * 1024, "weight must be the TRUE size")
    assert(huge.get._3 >= huge.get._2, "est_w = max(weight, tau) >= weight")
  }

  test("ivfRecall: clean-cell probe has full recall; cross-cell nearest is missed") {
    val d = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.95f, 0.05f), 0), (3L, Seq(0.8f, 0.6f), 0),
      (10L, Seq(0.0f, 1.0f), 1), (11L, Seq(0.1f, 0.9f), 1),
      (12L, Seq(0.65f, 0.76f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.ivfRecall(d, Seq(0L, 3L), k = 1)
      .select("probe_id", "n_hits", "recall_bp")
      .as[(Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    // probe 0's true nearest (vec 2) shares its cell -> found
    assert(r(0L) == ((0L, 1L, 10000L)), r.toString)
    // probe 3's true nearest is vec 12, assigned to the OTHER cell ->
    // nprobe=1 IVF misses it
    assert(r(3L) == ((3L, 0L, 0L)), r.toString)
  }

  test("cmsAudit: CMS never underestimates; no collisions -> exact recovery") {
    // corpus heavy hitters: est >= exact always (CMS overestimate-only)
    val r = TextAnalysis.cmsAudit(docs)
      .select("exact", "est").as[(Long, Long)].collect()
    assert(r.nonEmpty && r.forall { case (e, s) => s >= e },
      "CMS must never underestimate")
    // tiny vocab, wide sketch: every row of every depth is
    // collision-free, so the min recovers the exact count
    val d = Seq((1L, "alpha alpha beta gamma gamma gamma", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = TextAnalysis.cmsAudit(d, k = 3)
      .select("word", "exact", "est", "over_bp")
      .as[(String, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(t("gamma") == (("gamma", 3L, 3L, 0L)), t.toString)
    assert(t("alpha") == (("alpha", 2L, 2L, 0L)), t.toString)
    assert(t("beta") == (("beta", 1L, 1L, 0L)), t.toString)
  }

  test("pcaTop finds the planted dominant axis") {
    // variance concentrated on dim 0 (x = ±3), noise on dim 1 (±0.1);
    // the scatter matrix is diagonal, so the top component must align
    // with dim 0 after the L-inf renormalized iterations
    val d = Seq(
      (0L, Seq(3.0f, 0.1f), 0), (1L, Seq(-3.0f, -0.1f), 0),
      (2L, Seq(3.0f, -0.1f), 1), (3L, Seq(-3.0f, 0.1f), 1))
      .toDF("vec_id", "embedding", "label")
    val v = Similarity.pcaTop(d)
      .as[(Long, Long)].collect().toMap
    assert(math.abs(v(0L)) == 10000L, s"dominant axis must saturate: $v")
    assert(math.abs(v(1L)) <= 10L, s"noise axis must vanish: $v")
  }

  test("writeTrainingShards: partitioned layout, lossless round-trip, permutation order") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    try {
      val d = docs.select("doc_id", "text")
      val n = Curation.writeTrainingShards(d, dir, epoch = 1, nShards = 8)
      assert(n == 8)
      // layout: one directory per shard value
      val shardDirs = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
      assert(shardDirs.nonEmpty && shardDirs.subsetOf((0 until 8).map(i => s"shard=$i").toSet))
      val back = spark.read.parquet(dir)
      // lossless: every doc exactly once, text intact
      assert(back.count() == d.count())
      val joined = back.join(d.withColumnRenamed("text", "orig"), "doc_id")
      assert(joined.filter(col("text") =!= col("orig")).count() == 0)
      // reading one shard ordered by pos replays exactly the epoch
      // permutation for that shard
      val shard0 = back.filter(col("shard") === 0)
        .orderBy("pos").select("doc_id").as[Long].collect().toSeq
      val expect = Curation.epochShuffle(d, epoch = 1, nShards = 8)
        .filter(col("shard") === 0)
        .orderBy("pos").select("doc_id").as[Long].collect().toSeq
      assert(shard0 == expect)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("pcaTop2 deflation finds the planted second axis") {
    // dominant variance on dim 0 (±3), second on dim 1 (±1.5) — a
    // moderate spectrum gap so quantized deflation stays clean; dim 2
    // is noise
    val d = Seq(
      (0L, Seq(3.0f, 0.0f, 0.05f), 0), (1L, Seq(-3.0f, 0.0f, -0.05f), 0),
      (2L, Seq(3.0f, 0.0f, -0.05f), 0), (3L, Seq(-3.0f, 0.0f, 0.05f), 0),
      (4L, Seq(0.0f, 1.5f, 0.05f), 1), (5L, Seq(0.0f, -1.5f, -0.05f), 1),
      (6L, Seq(0.0f, 1.5f, -0.05f), 1), (7L, Seq(0.0f, -1.5f, 0.05f), 1))
      .toDF("vec_id", "embedding", "label")
    val v1 = Similarity.pcaTop(d).as[(Long, Long)].collect().toMap
    val v2 = Similarity.pcaTop2(d).as[(Long, Long)].collect().toMap
    assert(math.abs(v1(0L)) == 10000L && math.abs(v1(1L)) <= 100L, v1.toString)
    assert(math.abs(v2(1L)) == 10000L, s"second axis must dominate v2: $v2")
    assert(math.abs(v2(0L)) <= 500L, s"first axis must be deflated away: $v2")
  }

  test("pcaTopCached serves the identical component; project matches inline") {
    val e = Tables.embeddings(spark, sf0001)
    val inline = Similarity.pcaTop(e).as[(Long, Long)].collect().toSeq.sorted
    val cached = Similarity.pcaTopCached(e).as[(Long, Long)].collect().toSeq.sorted
    val cached2 = Similarity.pcaTopCached(e).as[(Long, Long)].collect().toSeq.sorted
    assert(inline == cached && cached == cached2)
    val pInline = Similarity.pcaProject(e).as[(Long, Long)].collect().toSeq.sorted
    val pServed = Similarity
      .pcaProjectFromIndex(Similarity.pcaTopCached(e), e)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(pInline == pServed)
    // the deflation serve path (cached scatter matrix + cached v₁)
    // must replay the train-inline second component bit-for-bit
    val p2Inline = Similarity.pcaTop2(e).as[(Long, Long)].collect().toSeq.sorted
    val p2Served = Similarity
      .pcaTop2FromIndex(Similarity.scatterMatrixCached(e),
        Similarity.pcaTopCached(e))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(p2Inline == p2Served)
  }

  test("zipfFit recovers slope -1 exactly on a true Zipf corpus") {
    // counts c_r = 2520/r are integers for r = 1..10, so ln c vs ln r
    // is EXACTLY linear with slope -1 and intercept ln 2520
    val text = (1 to 10).flatMap(r => Seq.fill(2520 / r)(s"w$r")).mkString(" ")
    val d = Seq((1L, text, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.zipfFit(d)
      .as[(Long, Double, Double, Double)].collect().head
    assert(r._1 == 10L)
    assert(r._2 == -1.0, s"slope: ${r._2}")
    assert(math.abs(r._3 - math.log(2520.0)) < 0.001, s"intercept: ${r._3}")
    assert(r._4 == 1.0, s"r2: ${r._4}")
  }

  test("nbConfusion: the in-engine NB model flags a mislabeled doc") {
    val en = "hello world program language model data"
    val de = "der die das und nicht ein"
    val d = Seq(
      (1L, en, "en", "s", 1L), (2L, en + " extra", "en", "s", 1L),
      (3L, de, "de", "s", 1L), (4L, de + " anders", "de", "s", 1L),
      // mislabeled: English content under a 'de' label
      (5L, "hello world program language", "de", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = TextAnalysis.nbConfusion(d)
      .as[(String, String, Long)].collect()
      .map { case (l, p, n) => (l, p) -> n }.toMap
    assert(m.getOrElse(("en", "en"), 0L) == 2L, m.toString)
    assert(m.getOrElse(("de", "de"), 0L) == 2L, m.toString)
    assert(m.getOrElse(("de", "en"), 0L) == 1L,
      s"the mislabeled doc must surface in the (de, en) cell: $m")
  }

  test("Curation.compact: file count derived from real bytes, sizes near target, content exact") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact_spec_")
    val frag = root.resolve("frag").toString
    val comp = root.resolve("comp").toString
    def files(dir: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      } finally s.close()
    }
    val docs = Tables.documents(spark, sf0001)
    docs.repartition(32).write.mode("overwrite").parquet(frag)
    assert(files(frag).size == 32)
    val target = 64L * 1024
    val n = Curation.compact(spark, frag, comp, target)
    val out = files(comp)
    // sizing is exact arithmetic on the listed bytes, and compaction
    // genuinely collapses the fragment count
    val total = Curation.parquetBytes(frag)
    assert(n == math.max(1L, (total + target - 1) / target).toInt)
    assert(out.size == n && n < 32, s"n=$n")
    // round-robin keeps sizes near target (encoding variance bounded)
    assert(out.map(java.nio.file.Files.size).forall(_ <= 3 * target),
      s"oversized compacted file: ${out.map(java.nio.file.Files.size)}")
    // bit-exact content: same rows, nothing lost or duplicated
    val back = spark.read.parquet(comp)
    assert(back.count() == docs.count())
    assert(back.except(docs).isEmpty && docs.except(back).isEmpty)
  }

  test("Curation.compact sizes PARTITIONED inputs correctly (recursive byte walk)") {
    // ADVICE round-10: the flat listing summed a partitioned layout
    // (data files in subdirectories) to 0 bytes, silently coalescing
    // everything into one file — the recursive walk must size it
    val root = java.nio.file.Files.createTempDirectory("graft_compact_part_")
    val frag = root.resolve("frag").toString
    val comp = root.resolve("comp").toString
    val docs = Tables.documents(spark, sf0001)
      .withColumn("bucket", col("doc_id") % 4)
    docs.repartition(8).write.partitionBy("bucket").mode("overwrite").parquet(frag)
    val total = Curation.parquetBytes(frag)
    assert(total > 0, "recursive walk still sums a partitioned layout to 0")
    val target = 64L * 1024
    val n = Curation.compact(spark, frag, comp, target)
    assert(n == math.max(1L, (total + target - 1) / target).toInt && n > 1,
      s"partitioned input compacted to $n files for $total bytes")
    val back = spark.read.parquet(comp).drop("bucket")
    assert(back.count() == docs.count())
  }

  test("Curation.compactPartitioned: per-directory bin-packing preserves layout, content and pruning") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact_part_spec_")
    val frag = root.resolve("frag").toString
    val comp = root.resolve("comp").toString
    val ev = Tables.events(spark, sf0001)
    val src = ev.select(col("event_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"),
      to_date(Tables.eventTime(ev)).as("d"))
    src.repartition(8).write.partitionBy("d").mode("overwrite").parquet(frag)
    def dayDirs(dir: String): Map[String, Seq[java.nio.file.Path]] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("d="))
          .map { p =>
            val f = java.nio.file.Files.list(p)
            try p.getFileName.toString -> {
              import scala.jdk.CollectionConverters._
              f.iterator().asScala.filter(_.toString.endsWith(".parquet")).toVector
            } finally f.close()
          }.toMap
      } finally s.close()
    }
    val before = dayDirs(frag)
    // most days land a row in most of the 8 write tasks — fragmented
    assert(before.values.forall(_.size >= 2) && before.values.map(_.size).sum > 3 * before.size,
      s"fixture not fragmented: ${before.values.map(_.size).toVector.sorted}")
    val target = 64L * 1024
    Curation.compactPartitioned(spark, frag, comp, "d", target)
    val after = dayDirs(comp)
    // layout preserved: same day directories, nothing global
    assert(after.keySet == before.keySet, "compaction changed the directory layout")
    after.foreach { case (day, files) =>
      val bytes = Curation.parquetBytes(
        java.nio.file.Paths.get(frag, day).toString)
      val expect = math.max(1L, (bytes + target - 1) / target).toInt
      assert(files.size <= expect && files.size <= before(day).size,
        s"$day: ${files.size} files for $bytes bytes (target count $expect)")
      assert(files.map(java.nio.file.Files.size).forall(_ <= 3 * target),
        s"$day: oversized compacted file")
    }
    // and the table as a whole genuinely compacted
    assert(after.values.map(_.size).sum < before.values.map(_.size).sum,
      "compaction did not reduce the total file count")
    // content exact
    val back = spark.read.parquet(comp)
    assert(back.count() == src.count())
    assert(back.select(src.columns.map(col): _*).except(src).isEmpty &&
      src.except(back.select(src.columns.map(col): _*)).isEmpty)
    // the compacted layout still partition-prunes: a one-day read
    // touches one directory's files only
    val oneDay = after.keys.head.stripPrefix("d=")
    val probe = spark.read.parquet(comp).filter(col("d") === lit(oneDay).cast("date"))
    probe.collect()
    def deep(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Seq.empty
      })).flatMap(deep)
    val scan = deep(probe.queryExecution.executedPlan).collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metrics("numFiles").value <= after(s"d=$oneDay").size,
      "pruning lost on the compacted layout")
  }

  test("langId picks highest-hit language with deterministic tie-break") {
    val d = Seq((1L, "the of and in is xyz", "en", "s", 1L),
      (2L, "zz yy xx", "en", "s", 1L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.langId(d).collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[String]("pred_lang"), r.getAs[Long]("score"))).toMap
    assert(rows(1L) == ("en", 5L))
    assert(rows(2L)._2 == 0L && rows(2L)._1 == "de") // zero hits -> alphabetical first
  }
}

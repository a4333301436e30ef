package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact (content hash), MinHash+LSH banding, SimHash fingerprints,
  * and shingle-join n-gram Jaccard. All hashing is md5-based so every
  * operator has an exact DuckDB oracle (Spark's murmur3/xxhash64 are
  * not portable); at production scale md5 would be swapped for
  * xxhash64 behind the same plan shapes.
  *
  * Scale notes (the shapes matter more than the constants):
  *  - exact dedup: one shuffle on the content hash;
  *  - minhash: one pass computes all K signatures as K min() aggregates
  *    (single shuffle on doc), band join is an equi-join on band
  *    signature — candidates only, never all pairs;
  *  - jaccard: inverted shingle-index self-join — pairs sharing >= 1
  *    surviving shingle only (df capped, see [[Dedup.MaxShingleDf]]);
  *    per-doc sizes join by shuffle (AQE broadcasts iff small);
  *  - simhash: fixed 32-bit fingerprint, grouping is an equi-join.
  */
object Dedup {

  val NumHashes = 8
  val BandRows = 2 // 4 bands of 2 rows

  /** Document-frequency cap for the Jaccard inverted index. A shingle
    * appearing in d docs contributes d(d-1)/2 candidate rows, so ONE
    * boilerplate/stop shingle shared by millions of docs would emit
    * ~d^2/2 join rows and dominate the whole job. Shingles with
    * df > cap are removed from the shingle UNIVERSE — both the
    * intersection counts and the per-doc set sizes ignore them — so
    * reported scores are the exact Jaccard of the capped sets (equal
    * to true Jaccard whenever no shared-or-owned shingle exceeds the
    * cap). The tradeoff (logged at plan build): similarity carried
    * only by ultra-common shingles is invisible, so a pair whose
    * overlap is pure boilerplate is not reported — the standard
    * contract of df-capped Jaccard dedup at corpus scale. */
  val MaxShingleDf = 1000L

  /** Bucket-size cap for the LSH band self-joins (minhash and simhash
    * pigeonhole banding). A band signature shared by d docs emits
    * d(d-1)/2 candidate pairs, so ONE mega-cluster of near-identical
    * docs (empty pages, boilerplate) would make the band join
    * quadratic — the same blowup [[MaxShingleDf]] bounds for the
    * jaccard index. Buckets with more than this many docs are dropped
    * from candidate GENERATION (logged): a pair is lost only if every
    * band it collides on is an over-cap bucket, i.e. it sits inside a
    * near-identical mega-cluster — which is group-dedup's job
    * ([[exactGroups]] / [[simhashGroups]] enumerate those as one
    * group row), not pairwise enumeration's. */
  val MaxBandBucket = 1000L

  private val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline.Dedup")

  /** Exact dedup summary: total vs distinct by full-content hash. */
  def exactSummary(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("h"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dups"))

  /** NORMALIZED exact dedup — the standard tier between byte-exact
    * and near-dup (the C4 convention): lowercase + whitespace-collapse
    * + trim before hashing, so trivial formatting variants of the
    * same content collapse. One aggregate pass computes raw-distinct
    * and normalized-distinct side by side; the difference is the
    * duplicate mass ONLY normalization catches. Map-only expressions
    * + partial-aggregating distinct counts. */
  def exactNormSummary(docs: DataFrame): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_raw_distinct"),
      countDistinct(md5(norm)).as("n_norm_distinct"))
      .withColumn("n_norm_only_dups", col("n_raw_distinct") - col("n_norm_distinct"))
  }

  /** Exact-duplicate groups (by content hash): representative doc +
    * group size, only groups with > 1 member. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep_doc"))
      .filter(col("n_docs") > 1)

  /** Per-doc shingle ARRAY, built row-locally (no explode): positions
    * 1..n-k+1 sliced out of the token array. Package-visible: the
    * streaming ingest gate builds its row-local minhash band from it. */
  private[pipeline] def shingleArray(k: Int) = {
    val toks = split(col("text"), " ")
    // guard short docs: sequence(1, 0) would step BACKWARDS ([1, 0])
    // and slice(toks, 0, k) throws — emit an empty shingle array
    // instead (matches the WHERE len >= k guard in the oracles)
    when(size(toks) >= k,
      transform(
        sequence(lit(1), size(toks) - (k - 1)),
        p => array_join(slice(toks, p, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-doc MinHash signature: NumHashes columns mh0..mhK-1, each the
    * min over the doc's shingles of md5(seed|shingle).
    *
    * Shape: explode positional shingles -> ONE codegen'd hash
    * aggregate with all K mins. No distinct pass anywhere — min over
    * the multiset == min over the set, so in-doc duplicate shingles
    * only cost their (cheap, codegen'd) md5. Two row-local variants
    * were measured and rejected: array_min(transform(...)) lambdas
    * evaluate interpreted (4x slower), and even building the shingle
    * ARRAY via transform(sequence, array_join(slice)) is interpreted
    * per element (~6x slower than the exploded slice/array_join
    * spelling, which stays inside whole-stage codegen). */
  def minhashSignatures(docs: DataFrame, k: Int = 3): DataFrame = {
    // The 8 hash families are 8-hex (32-bit) slices of just TWO md5
    // digests per shingle — 4x less hashing than 8 salted digests,
    // and 32 bits is ample for a min over <= a few hundred shingles.
    // Spread the compact doc table before the shingle explode
    // ([[Spread]] — the §21.5 fallback: the per-doc signature
    // aggregate's PARTIAL pass otherwise sort-fallbacks over the
    // whole fan inside the scan stage's few input splits). doc_id is
    // the grouping key, so the spread ALSO makes partials exact and
    // satisfies the aggregate's distribution — no second exchange.
    val sh = TextAnalysis.shingles(
        Spread.byId(docs, "doc_id", Spread.ShingleSetDocsPerPart), k)
      .select(col("doc_id"), col("shingle"))
      .withColumn("h0", md5(col("shingle")))
      .withColumn("h1", md5(concat(lit("x|"), col("shingle"))))
    val aggs = (0 until NumHashes).map { s =>
      val src = if (s < 4) col("h0") else col("h1")
      min(substring(src, 1 + 8 * (s % 4), 8)).as(s"mh$s")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: docs whose band signature (concat of BandRows
    * minhashes) collides are candidate near-dup pairs.
    *
    * Bands are emitted with ONE explode over an in-row array — a
    * union of per-band selects would re-run the (map-only, hence
    * unshared) signature computation once per band. */
  /** (doc_id, band, sig) rows from a signature table — ONE explode
    * over an in-row array (a union of per-band selects would re-run
    * the map-only, hence unshared, signature computation per band).
    * `bandRows` is the (bands × rows) knob the S-curve audit
    * ([[lshRecall]]) exists to size: rows-per-band trades precision
    * for recall (1 − (1 − j^r)^b). */
  private def minhashBands(sig: DataFrame, bandRows: Int = BandRows): DataFrame = {
    require(NumHashes % bandRows == 0, s"bandRows must divide $NumHashes")
    val nBands = NumHashes / bandRows
    val bandStructs = (0 until nBands).map { b =>
      val cols = (b * bandRows until (b + 1) * bandRows).map(i => col(s"mh$i"))
      struct(lit(b).as("band"), concat(cols: _*).as("sig"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  def minhashCandidates(docs: DataFrame, k: Int = 3,
      maxBucket: Long = MaxBandBucket, bandRows: Int = BandRows): DataFrame =
    minhashCandidatesFromSig(minhashSignatures(docs, k), maxBucket, bandRows)

  /** [[minhashCandidates]] from a prebuilt signature table — the
    * banding-prefix split (round 18, VERDICT r17 #4): signatures are
    * preset-INDEPENDENT (bandRows only regroups the mh columns), so
    * cached builds for different presets share one signature pass
    * ([[signaturesCached]]) instead of each re-paying the shingle
    * explode + 8-way min aggregate — the bulk of the b8 arm's 76 s
    * cold x300 build. Rows identical to the inline form by
    * construction (same deterministic computation). */
  private[pipeline] def minhashCandidatesFromSig(sig: DataFrame,
      maxBucket: Long = MaxBandBucket, bandRows: Int = BandRows): DataFrame = {
    log.info(s"minhashCandidates: band buckets with > $maxBucket docs are dropped " +
      "from the candidate join (bounded d^2 blowup); mega-cluster membership is " +
      "reported by group-dedup, not pairwise")
    val bands0 = minhashBands(sig, bandRows)
    // two-phase skew-safe cap: groupBy partially aggregates map-side,
    // so a mega-bucket collapses to one count row per map partition
    // (a count-over-window would instead move EVERY row of the hot
    // bucket into one task before the cap could drop it). The over-cap
    // set is tiny by construction (each member holds > maxBucket docs,
    // so there are <= corpus/maxBucket of them) -> broadcast anti-join
    // removes hot buckets map-side, BEFORE the self-join's shuffle
    // ever partitions on (band, sig).
    val overCap = bands0
      .groupBy("band", "sig").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("band"), col("sig"))
    val bands = bands0.join(broadcast(overCap), Seq("band", "sig"), "left_anti")
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash accuracy audit over the LSH candidate pairs: per pair,
    * the signature-agreement Jaccard ESTIMATE (matching minhashes /
    * NumHashes) against the TRUE distinct-shingle Jaccard, both
    * 1e4-quantized by floor division, plus the absolute error. This is
    * the sketch-quality dial a 100 TB dedup run needs before trusting
    * its thresholds: if err_q runs hot, NumHashes is too small for the
    * corpus's similarity profile (at 8 hashes the estimate's
    * granularity is 10000/8 = 1250, documented here, visible in the
    * output).
    *
    * Scale shape: everything is keyed by doc or pair — signatures join
    * the candidate list twice by doc id (row-local equality count,
    * no explode), and the true-Jaccard intersection joins each
    * candidate's distinct shingle set through the pair (cost
    * O(candidates · shingles/doc), the same order as candidate
    * verification in any LSH pipeline; never corpus-quadratic).
    * Output: (doc_a, doc_b, est_q, true_q, err_q). */
  def minhashError(docs: DataFrame, k: Int = 3): DataFrame = {
    val cand = minhashCandidates(docs, k)
    val sig = minhashSignatures(docs, k)
    def side(s: String) =
      sig.toDF(sig.columns.map(c => if (c == "doc_id") s"doc_$s" else s"${c}_$s"): _*)
    val nEq = (0 until NumHashes)
      .map(i => when(col(s"mh${i}_a") === col(s"mh${i}_b"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), nEq.as("n_eq"))
      .withColumn("est_q", expr(s"n_eq * 10000 div $NumHashes"))
    // spread before the explode ([[Spread]] — the distinct's partial
    // aggregate is the §21.5 fallback shape inside the scan stage)
    val ds = TextAnalysis.shingles(
        Spread.byId(docs, "doc_id", Spread.ShingleSetDocsPerPart), k)
      .select(col("doc_id"), col("shingle")).distinct()
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // REDUCE-SIDE pin on the intersection join (round 17 close-out,
    // x300 decade-extension + event-log attribution): left to AQE,
    // the second join's SMJ coalesced to 43 partitions and sorted the
    // EXPANDED candidate×shingle intermediate there — 6.25 GB of
    // spill in that one stage (the q21 over-coalesce shape, §22.8,
    // with a join fan instead of column pruning as the row source).
    // Repartitioning the expanded side on the join key it already
    // exchanges on is byte-neutral and AQE-exempt; the coarse
    // pair-join divisor keeps per-task sorts ~10-15 MB without the
    // R×R block growth a finer pin would pay. Gate scales: identity.
    val expandedA = Spread.byKeyFloored(
      cand.join(ds.toDF("doc_a", "shingle"), Seq("doc_a")),
      Spread.memoCount(docs, "doc_id"), Spread.PairJoinDocsPerPart,
      col("doc_b"), col("shingle"))
    val inter = expandedA
      .join(ds.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    est
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.toDF("doc_a", "sz_a"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "sz_b"), Seq("doc_b"))
      .withColumn("i", coalesce(col("inter"), lit(0L)))
      .withColumn("true_q", expr("i * 10000 div (sz_a + sz_b - i)"))
      .select(col("doc_a"), col("doc_b"), col("est_q"), col("true_q"),
        abs(col("est_q") - col("true_q")).as("err_q"))
  }

  /** Build-once near-dup index — the build/serve split the similarity
    * plane already has ([[Similarity.pqIndex]]/[[Similarity.ivfPqIndex]]):
    * the LSH candidate PAIRS plus the connected-components CLUSTER map
    * (doc_id → rep_doc, n_docs), both checkpoint-backed artifacts. At
    * corpus scale both are written once (`pairs/clusters.write
    * .parquet(...)`) and every curation read — cluster sizes,
    * keep-best, leak-free splits, overlap audits, triangle counts —
    * serves from them: the band joins and the components fixpoint
    * (hours at 100 TB) amortize over all consumers instead of
    * re-running per query. Retained-checkpoint lifecycle:
    * [[freeRetained]]. */
  case class NearDupIndex(pairs: DataFrame, clusters: DataFrame)

  def nearDupIndex(docs: DataFrame, k: Int = 3): NearDupIndex = {
    val pairs = retain(minhashCandidates(docs, k).localCheckpoint(true))
    NearDupIndex(pairs, components(pairs))
  }

  /** [[nearDupIndex]] as a [[graft.BuildCache]] entry — the build-once
    * serve path for a driver running many curation reads over one
    * corpus. Built from the shared signature table
    * ([[signaturesCached]]), so every banding preset pays the
    * signature pass once; rows identical to `nearDupIndex(docs, k)`.
    * The cluster map is checkpointed sorted by doc_id: its scan keeps
    * that ordering and partitioning, so a read ordered by doc_id plans
    * neither an exchange nor a sort. */
  def nearDupIndexCached(docs: DataFrame, k: Int = 3): NearDupIndex =
    graft.BuildCache("nearDupIndex", graft.BuildCache.of(docs), k) {
      val pairs = retain(minhashCandidatesFromSig(
        signaturesCached(docs, k)).localCheckpoint(true))
      val comps = components(pairs)
      val clusters = retain(sortedCheckpoint(comps, "doc_id"))
      freeCheckpoint(comps)
      NearDupIndex(pairs, clusters)
    }

  /** The checkpointed minhash SIGNATURE table — the prefix every
    * banding preset's cached build shares (banding only regroups the
    * mh columns). */
  private def signaturesCached(docs: DataFrame, k: Int): DataFrame =
    graft.BuildCache("minhashSignatures", graft.BuildCache.of(docs), k)(
      retain(minhashSignatures(docs, k).localCheckpoint(true)))

  /** The raw candidate-PAIR table of one banding preset — the
    * build-once serve path for NON-default bandings (e.g. the b8
    * recall-audit arm), which need the pairs but not the cluster map
    * [[nearDupIndexCached]] also builds. */
  def candidatePairsCached(docs: DataFrame, k: Int = 3,
      bandRows: Int = BandRows): DataFrame =
    graft.BuildCache("candidatePairs", graft.BuildCache.of(docs), k, bandRows)(
      retain(minhashCandidatesFromSig(signaturesCached(docs, k),
        bandRows = bandRows).localCheckpoint(true)))

  /** Near-dup cluster-size histogram: how many clusters of each size
    * the minhash candidate graph's connected components form, with the
    * singleton count (docs in no candidate pair) restored as size 1.
    * THE dedup planning number — expected token savings is
    * Σ (size−1)·avg_doc_tokens over this histogram, and a fat tail
    * says raise [[MaxBandBucket]] scrutiny before running removal.
    * Two tiny aggregates over [[components]]' output (cluster list is
    * ≤ |pairs-covered docs|); the singleton row is total−covered, two
    * count(*)s. Output: (cluster_size, n_clusters). */
  def clusterSizes(docs: DataFrame): DataFrame =
    clusterSizesFromIndex(docs, components(minhashCandidates(docs)))

  /** [[clusterSizes]] served from a prebuilt cluster map
    * ([[nearDupIndex]].clusters) — read-path cost only. */
  def clusterSizesFromIndex(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val sized = clusters.groupBy("rep_doc").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singles = docs.agg(count(lit(1)).as("t"))
      .crossJoin(clusters.agg(count(lit(1)).as("covered")))
      .select(lit(1L).as("cluster_size"), (col("t") - col("covered")).as("n_clusters"))
    sized.unionByName(singles)
  }

  /** Cross-source near-dup overlap matrix: for each unordered source
    * pair, how many LSH candidate near-dup pairs straddle it (diagonal
    * = within-source). THE crawl-curation audit — "which of my sources
    * duplicate each other" decides what to drop before paying for
    * full dedup, and a source that mostly duplicates ANOTHER source is
    * a mirror, not new data. Two equi-joins route each candidate pair
    * through the doc→source map (no hints: the map is O(corpus) and
    * stats/AQE decide), then one partial-aggregating groupBy collapses
    * to at most |sources|² rows. Output: (source_a, source_b,
    * n_pairs). */
  def sourceOverlap(docs: DataFrame): DataFrame =
    sourceOverlapFromIndex(docs, minhashCandidates(docs))

  /** [[sourceOverlap]] served from a prebuilt candidate-pair table
    * ([[nearDupIndex]].pairs) — read-path cost only. */
  def sourceOverlapFromIndex(docs: DataFrame, cand: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    cand
      .join(src.toDF("doc_a", "src_a"), Seq("doc_a"))
      .join(src.toDF("doc_b", "src_b"), Seq("doc_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Incremental dedup: screen a NEW crawl batch against an existing
    * base corpus — the dedup job a production pipeline runs on every
    * ingest, where re-deduplicating the full corpus (O(base^2) band
    * joins) would be absurd. Two tiers, exact-first:
    *
    *  - exact: the batch doc's full-content md5 already exists in the
    *    base (match = smallest such base doc);
    *  - near: some minhash band signature of the batch doc collides
    *    with a base doc's (match = smallest colliding base doc);
    *  - new: neither.
    *
    * Scale shape: base and batch are signed SEPARATELY (each side is
    * its own scan — at corpus scale batch << base and the band join is
    * batch-vs-base only, NEVER base-vs-base; nothing here is quadratic
    * in the corpus). The base-side band buckets get the same two-phase
    * over-cap blacklist as [[minhashCandidates]]: a mega-bucket in the
    * base (boilerplate cluster) would otherwise join against every
    * colliding batch doc at d_base x d_batch cost. A batch doc whose
    * every collision is with blacklisted buckets reports 'new' — the
    * same recall contract as candidate generation (mega-cluster
    * membership is group-dedup's job).
    *
    * Caller contract: base and batch doc_ids are disjoint (they are
    * different crawls). Output: one row per batch doc —
    * (doc_id, status in {exact, near, new}, match_doc nullable). */
  def incrementalDedup(base: DataFrame, batch: DataFrame, k: Int = 3,
      maxBucket: Long = MaxBandBucket): DataFrame = {
    // exact tier: base collapses to one (hash, min doc) row per
    // content group — partial-aggregating, and the join key is the
    // hash, so identical boilerplate in the base is ONE row
    val baseHash = base.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("em"))
    val exact = batch.select(col("doc_id"), md5(col("text")).as("h"))
      .join(baseHash, Seq("h"))
      .select(col("doc_id"), col("em"))
    // near tier: band join batch -> base only
    val bandsBase = minhashBands(minhashSignatures(base, k))
    val bandsBatch = minhashBands(minhashSignatures(batch, k))
    val overCap = bandsBase
      .groupBy("band", "sig").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("band"), col("sig"))
    val near = bandsBatch
      .join(bandsBase.join(broadcast(overCap), Seq("band", "sig"), "left_anti")
          .select(col("band"), col("sig"), col("doc_id").as("bdoc")),
        Seq("band", "sig"))
      .groupBy("doc_id").agg(min("bdoc").as("nm"))
    batch.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("em").isNotNull, lit("exact"))
          .when(col("nm").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("em"), col("nm")).as("match_doc"))
  }

  /** Pairwise n-gram Jaccard over the df-capped shingle universe, via
    * the inverted shingle index: only pairs sharing at least one
    * surviving shingle are materialized. Exact integer counts ->
    * deterministic double division.
    *
    * Consistency: intersections AND set sizes are both computed over
    * the same universe (shingles with df <= maxDf), so every reported
    * score is the exact Jaccard of the capped sets — never the
    * underestimate that full-set sizes with capped intersections
    * would produce (which could silently drop a pair sharing one
    * boilerplate shingle below the threshold). */
  /** Docs-per-partition divisor for jaccardPairs' self-join and
    * pair-aggregate pins — env-overridable for granularity A/Bs
    * (the SPARK_GRAFT_SPREAD_SPAN precedent). Default 1500 (round 18):
    * the dictionary encoding narrowed the join rows from 30-60 B
    * string keys to fixed-width longs (~1.7× smaller sort/agg rows),
    * which moves the spill cliff past the /500 string pin and re-opens
    * the block-matrix trade (guide §2.2 — coarser slices cut the M×R
    * shuffle block count quadratically). Measured at x100/x300
    * (SCALE_r18_jac*, same box back-to-back vs the r17 jar):
    *  - /1500 narrow: x100 warm 38.6 s spill 0; x300 warm 147.0 s,
    *    41.7 GB shuffle, 7139 tasks, spill 0 — vs r17 strings//500
    *    163 s, 44.4 GB, 11105 tasks;
    *  - /2500 narrow: x100 spill 54 GB — the cliff is the join-stage
    *    pair-aggregate partial volume (rows/task = pair fan × divisor),
    *    so the divisor cannot coarsen past ~3× even with narrow rows;
    *  - /500 narrow: x100 warm 43.7 s — the encode's extra exchange
    *    costs more than narrow sorts save until the divisor coarsens.
    * Strings at /1500 measured 25 GB of x100 spill (r16) — the
    * encoding is what BUYS this divisor. */
  private val jaccardPairDivisor: Long = {
    val v = sys.env.get("SPARK_GRAFT_JAC_DIVISOR")
      .flatMap(_.toLongOption).getOrElse(1500L)
    require(v > 0, s"SPARK_GRAFT_JAC_DIVISOR must be positive, got $v")
    v
  }

  def jaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
      maxDf: Long = MaxShingleDf): DataFrame = {
    log.info(s"jaccardPairs: shingles with df > $maxDf are removed from the " +
      "shingle universe (bounded d^2 blowup; sizes and intersections both " +
      "capped); similarity carried only by ultra-common shingles is not " +
      "reported — boilerplate, not near-dups")
    // ROW-LOCAL set shingles off the SPREAD doc table (round 17,
    // closing the r16 `weak` — two measured mechanisms replaced here):
    //  1. §21.5 explode-stage fallback: the old shingles().distinct()
    //     partial-aggregated the whole explode fan inside the scan
    //     stage's few input splits (7 GB x30 spill, phantom records —
    //     the [[Spread]] treatment re-based x100 records 1.09B → 508M);
    //  2. consumer re-reduction (§21.8, NEW): even spread, the
    //     distinct's exchange is shared by ReuseExchange but only its
    //     shuffle FILES are — the final dedup aggregate re-executed in
    //     EVERY consumer stage, and each re-reduction of the 126.5M-row
    //     x100 index under AQE-coalesced partitions sort-fallbacked
    //     (~10.5 GB per consumer stage, the bulk of the residual 25 GB).
    // [[TextAnalysis.shingleSets]] removes the work instead of
    // re-sharing it: in-doc dedup is array_distinct before the explode
    // (rows are globally distinct — duplicates of a (doc_id, shingle)
    // pair only ever exist WITHIN a doc), so there is no corpus-wide
    // distinct to re-reduce. The doc spread (UNCONDITIONAL — it is now
    // the plan's ReuseExchange anchor, replacing the distinct exchange
    // as the one-scan sharing point; PlanSpec pins the scan count)
    // bounds every post-scan stage and, because doc_id hash-clusters
    // everything the stage needs, the df aggregate's partials, the
    // sizes aggregate AND the sizes equi-join all run INSIDE the
    // spread stage.
    val nDocs = Spread.memoCount(docs, "doc_id")
    val sh = TextAnalysis.shingleSets(
      Spread.anchorByKey(docs, nDocs, Spread.ShingleSetDocsPerPart, col("doc_id")), k)
    // two-phase skew-safe df: groupBy.count partially aggregates
    // map-side (in the spread stage), so a stop-shingle in 10^9 docs
    // collapses to one count row per task instead of flooding a single
    // reduce task before the cap can drop it
    val dfs = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // tiny blacklist by construction (each member appears in > maxDf
    // docs, so <= index/maxDf entries): broadcast anti-join removes
    // hot shingles map-side, before any shuffle partitions on shingle
    val overCap = dfs.filter(col("df") > maxDf).select("shingle")
    // the capped universe: everything the scores are computed over
    val kept = sh.join(broadcast(overCap), Seq("shingle"), "left_anti")
    // doc sizes attached to the shingle rows BEFORE the self-join
    // (round 14): the old shape joined sizes onto the candidate
    // AGGREGATE — one row per surviving pair, the FATTEST table in the
    // query (~5× the shingle index at 100×) — which rode broadcasts
    // only while `sizes` (one row per doc) stayed under AQE's
    // threshold. The 100× rung caught the flip: sizes' estimate
    // crossed 10 MB, both post-agg joins went SMJ, and the candidate
    // table shuffled TWICE (records 2.08× the linear projection,
    // SCALE_r14_x100). One row per doc never broadcasts at 100 TB, so
    // the scale-correct shape computes sizes colocated with the index
    // (when the spread binds, zero extra exchanges: kept is
    // doc_id-partitioned, so the groupBy and the equi-join are both
    // in-stage) and the candidate aggregate simply CARRIES both sizes
    // (functionally dependent on the grouping key — max() picks the
    // one value) — zero post-agg joins at any scale.
    val sized0 = kept.join(sizes(kept), Seq("doc_id"))
    // DICTIONARY-ENCODED SHINGLE IDS (round 18, VERDICT r17 #2 — guide
    // §2.3 "shuffle keys and metadata instead of payloads"): the
    // self-join's key was the 30-60 B shingle STRING, making the index
    // exchange and both SMJ sorts string-bound and the x300
    // shuffle-byte slope 1.152 against records 1.001 (key width grows
    // with the corpus; longs don't). One extra compact pass assigns
    // each joinable shingle a dense 8-byte id:
    //  - the dictionary is built from the df aggregate's OUTPUT (one
    //    row per distinct shingle — no second scan), keeping only
    //    2 <= df <= maxDf: a df=1 shingle can never produce a pair
    //    (a pair needs two docs sharing it), and sizes are computed
    //    from `kept` BEFORE the encode, so dropping df=1 rows at the
    //    encode join changes no result — the prune the round-15 note
    //    below rejected as a semi-join comes free with the encode;
    //  - ids are DETERMINISTIC without a global sort: an explicit
    //    repartition(D, shingle) fixes each shingle's partition
    //    (murmur3, AQE-exempt), sortWithinPartitions fixes the row
    //    order totally (keys distinct), and monotonically_increasing_id
    //    is a pure function of (partition index, row index) — so any
    //    re-evaluation (the orderBy's range-sampling pass, task
    //    retries, a failed ReuseExchange) reproduces identical ids;
    //  - 64-bit HASHING of the key was rejected (r17 "not yet
    //    optimized" #1): a collision would merge two shingles and
    //    change reported intersections; the dictionary is injective by
    //    construction.
    val defaultParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // dict partition count: a pure function of the corpus (determinism
    // needs a FIXED explicit count — AQE must not renegotiate it), but
    // floored at Spread.BindFloor rather than the session default so
    // gate scales don't pay 256 near-empty dict tasks; the attach join
    // co-partitions with it. At scale raw >= the session default and
    // this equals Spread.parts.
    val dictParts = math.max(Spread.BindFloor,
      nDocs / Spread.ShingleSetDocsPerPart).toInt
    val dict = dfs
      .filter(col("df") <= maxDf && col("df") >= 2).select("shingle")
      .repartition(dictParts, col("shingle"))
      .sortWithinPartitions("shingle")
      .select(col("shingle"), monotonically_increasing_id().as("sid"))
    // the encode join replaces the old string-keyed self-join pin: the
    // index exchanges on shingle ONCE (the exchange the self-join
    // previously needed anyway), emerges as (sid, doc_id, sz) — 8-byte
    // key, fixed-width rows — and the strings never cross a wire again
    val encoded = sized0.join(dict, Seq("shingle"))
      .select(col("sid"), col("doc_id"), col("sz"))
    // REDUCE-SIDE sort parallelism (the lshRecall keptB treatment): ON
    // the join key, so it re-sizes the exchange the join already needs
    // (no extra shuffle) and is exempt from AQE re-coalescing; /500
    // (the positional-plane divisor) because the join fan here is ~1k
    // hit rows per doc, the dedup_spans profile, not the ~150
    // set-shingles-per-doc profile the /1500 map spread is sized for
    // (at ~1.5M string-keyed join rows per task this stage measured
    // 25 GB of x100 spill before the pin; the narrow sid rows sort in
    // ~4× less task memory, headroom the round-18 divisor A/B sizes).
    val joinParts = Spread.parts(docs, nDocs, jaccardPairDivisor)
    val sized =
      if (joinParts > defaultParts) encoded.repartition(joinParts, col("sid"))
      else encoded
    val joined = sized.as("a")
      .join(sized.as("b"),
        col("a.sid") === col("b.sid") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
    // PAIR-AGGREGATE parallelism (round 17, the LAST of the query's
    // three measured spill mechanisms): most co-occurring pairs share
    // 1-2 surviving shingles, so the partial aggregate's combine ratio
    // in the join stage is ~1 — 126.5M partial rows for ~the same join
    // output at the x100 rung — and AQE coalesced the pair exchange to
    // 43 partitions (64 MB advisory), handing the FINAL aggregate
    // ~3M rows per task: hash fallback, ~10.5 GB spill, paid TWICE
    // (the declared orderBy's range sampling re-executes the plan).
    // With combine worth ~nothing, repartitioning the RAW join output
    // on the grouping keys is byte-neutral and pins the aggregate at
    // joinParts (~126k rows/task) — both aggregate passes land above
    // the explicit exchange, which AQE cannot re-coalesce. Below the
    // session default the plan keeps the classic partial/final split.
    val pairs =
      if (joinParts > defaultParts)
        joined.repartition(joinParts, col("doc_a"), col("doc_b"))
      else joined
    pairs
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"),
        max(col("sz_a")).as("sz_a"), max(col("sz_b")).as("sz_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Per-doc df-capped distinct-shingle counts over a `kept` universe
    * — shared by [[jaccardPairs]]' sized self-join and [[lshRecall]]'s
    * scored sample. */
  private def sizes(kept: DataFrame): DataFrame =
    kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))

  /** LSH RECALL audit over a deterministic pair sample — the
    * false-negative dial [[minhashError]] cannot see (it audits only
    * pairs the bands already caught). Docs sharing a hash bucket
    * (md5 byte mod `nBuckets`) form the sampled pair set — N²/B
    * pairs, so B sized ~N keeps the audit linear while sampling pairs
    * uniformly. Per pair: the TRUE df-capped distinct-shingle Jaccard,
    * and whether [[minhashCandidates]]' banding caught it. Output per
    * Jaccard decile: pair count, caught count, capture rate, and the
    * theoretical S-curve 1 − (1 − j^r)^b at the bucket midpoint —
    * observed-vs-theory is the number that sizes (bands × rows)
    * before a 100 TB dedup run trusts its recall.
    *
    * CARRY SHAPE (round 15 — the [[jaccardPairs]] surgery applied to
    * the audit's scoring joins, which were the last measured
    * super-linear records segments in the engine): the old shape
    * materialized pair × shingles-of-a (16·N pairs fanned by every
    * shingle of their left doc — the fattest table in the query,
    * there only to be semi-joined away) and then LEFT-JOINED sizes
    * twice and `caught` once onto the 16·N-row pair table; at the
    * 100× rung AQE flipped those doc-keyed joins to SMJ and the pair
    * table shuffled four times (records 2.25× the linear slope, 30 GB
    * sort spill — SCALE_r14_x100). Now:
    *
    *  - the sample-bucket id is a PURE FUNCTION of doc_id, so it is
    *    computed map-side on the shingle rows (no join) and the true
    *    intersections come from a self-join of the bucket-tagged
    *    shingle index ON (pb, shingle) — emitting one row per shared
    *    shingle of a SAME-BUCKET pair, i.e. only the audit's actual
    *    output, never the pair × shingle fan (per-key fan ≤ bucket
    *    occupancy ~32 by construction, and the one exchange is
    *    ReuseExchange-shared by both sides);
    *  - per-doc sizes ride the pair rows from birth: sizes join the
    *    N-row doc table BEFORE the bucket self-join (doc-keyed,
    *    partial-agg-sized — never a fat-side re-shuffle), and the
    *    pair output carries (sz_a, sz_b) the way jaccardPairs'
    *    candidate aggregate carries them;
    *  - the two remaining joins (inter, caught) are both keyed on
    *    (doc_a, doc_b) — inter's groupBy output is ALREADY hash-
    *    partitioned on that key, so the scoring stage shuffles the
    *    pair table exactly once at any scale. */
  /** `caughtPairs`: a prebuilt candidate-pair table for THIS banding
    * preset (e.g. [[nearDupIndexCached]].pairs for the default) — the
    * audit then reads the artifact instead of re-running the band
    * self-join; rows identical (the index IS minhashCandidates'
    * output). */
  def lshRecall(docs: DataFrame, k: Int = 3, nBuckets: Int = 0,
      maxDf: Long = MaxShingleDf, bandRows: Int = BandRows,
      caughtPairs: Option[DataFrame] = None): DataFrame = {
    val nBands = NumHashes / bandRows
    // DERIVED sample-bucket count: B ~ N/32 keeps the sampled pair set
    // at ~16·N pairs at any corpus size (a static B would make the
    // sample quadratic again — the epochShuffle autoShards stance);
    // 48 hash bits make the mod-B bias negligible at arbitrary B.
    // Memoized ([[Spread.memoCount]]) — plan-building no longer fires
    // a count job per invocation (r16 advice).
    val nDocs = Spread.memoCount(docs, "doc_id")
    val buckets =
      if (nBuckets > 0) nBuckets.toLong
      else math.max(16L, nDocs / 32)
    def pbOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(md5(id.cast("string")), 1, 12), 16, 10).cast("long") % buckets
    // MAP-SIDE SORT PRESSURE (round 16, measured at the 300× rung —
    // the finding that became the shared [[Spread]] helper, which
    // carries the full mechanism + divisor rationale): spread the
    // COMPACT doc table before exploding so each map task
    // partial-aggregates a bounded shingle slice. Below the session
    // default this is skipped and the plan is byte-identical.
    val defaultParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val sortParts = Spread.parts(docs, nDocs, Spread.ShingleSetDocsPerPart)
    val sh = TextAnalysis.shingles(
        Spread.byKey(docs, nDocs, Spread.ShingleSetDocsPerPart, col("doc_id")), k)
      .select(col("doc_id"), col("shingle")).distinct()
    val overCap = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("shingle")
    val kept = sh.join(broadcast(overCap), Seq("shingle"), "left_anti")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // sizes attach to the N-row doc table (left: a doc whose every
    // shingle was capped away legitimately has sz=0), bucket id is
    // computed in place — the pair rows are born complete
    val pbSized = docs.select(col("doc_id"))
      .join(sizes, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("sz"), lit(0L)).as("sz"),
        pbOf(col("doc_id")).as("pb"))
    val pairs = pbSized.as("a").join(pbSized.as("b"),
        col("a.pb") === col("b.pb") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
    // true intersections INSIDE the sample buckets: the bucket-tagged
    // shingle index self-joined on (pb, shingle) emits exactly one row
    // per shared shingle of a same-bucket pair — identical counts to
    // the old pair × shingle fan, at the output's own row volume.
    // REDUCE-SIDE sort parallelism (r15 verdict #5, the first half of
    // the spill): corpora past ~0.5M docs pin the self-join's exchange
    // at the same ~1 partition per 2000 docs (explicit repartition ON
    // the join keys — satisfies the SMJ's distribution, so no extra
    // exchange, and ReuseExchange still shares it across both sides;
    // also exempt from AQE re-coalescing, which is what made the
    // global-1024 A/B a no-op). Measured alone this cut ~8 GB of the
    // x300 spill; the map-side spread above removes the bulk.
    val keptB0 = kept.withColumn("pb", pbOf(col("doc_id")))
    val keptB =
      if (sortParts > defaultParts)
        keptB0.repartition(sortParts, col("pb"), col("shingle"))
      else keptB0
    val inter = keptB.as("a").join(keptB.as("b"),
        col("a.pb") === col("b.pb") && col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // SAMPLE-BUCKET prefilter on the caught side (round 17 — the b8
    // arm's last 2.6 GB of x300 spill, stage-attributed via the event
    // log to the scored join's sort of the caught table): every
    // `pairs` row has pb(doc_a) == pb(doc_b) by construction, so
    // caught rows in different buckets can never match the left join —
    // the filter is semantics-preserving and drops the caught side
    // from O(all candidate pairs) to ~|caught ∩ sample| (≈ |caught|/B:
    // bucket assignment is md5-random w.r.t. candidate structure). Two
    // map-side md5s per row replace an external sort of the full
    // candidate table under AQE-coalesced partitions.
    val caught = caughtPairs
      .getOrElse(minhashCandidates(docs, k, bandRows = bandRows))
      .select(col("doc_a"), col("doc_b"))
      .filter(pbOf(col("doc_a")) === pbOf(col("doc_b")))
      .withColumn("caught", lit(1L))
    val scored = pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(caught, Seq("doc_a", "doc_b"), "left")
      .select(
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("sz_a") + col("sz_b") - coalesce(col("inter"), lit(0L))).as("den"),
        coalesce(col("caught"), lit(0L)).as("caught"))
      .withColumn("jac_bp",
        when(col("den") === 0, lit(0L)).otherwise(expr("inter * 10000 div den")))
    scored
      .withColumn("decile", least(expr("jac_bp div 1000"), lit(9L)).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"), sum("caught").as("n_caught"))
      .withColumn("capture_bp", expr("n_caught * 10000 div n_pairs"))
      .withColumn("theory",
        round(lit(1.0) - pow(lit(1.0) -
          pow((col("decile") + 0.5) / 10.0, lit(bandRows)), lit(nBands)), 4))
      .select(col("decile"), col("n_pairs"), col("n_caught"),
        col("capture_bp"), col("theory"))
  }

  /** Winnowing-based near-dup pairs (MOSS similarity — Schleimer et
    * al. SIGMOD 2003 §4): docs sharing >= `minShared` WINNOWED
    * fingerprints ([[TextAnalysis.winnowFingerprints]]). Differs from
    * minhash-LSH and jaccardPairs in what it detects: winnowing
    * samples the POSITION space, so a shared fingerprint certifies a
    * verbatim run of >= w + k - 1 tokens — partial plagiarism /
    * quotation, not whole-doc set similarity. The candidate join is
    * bounded the standard two ways: fingerprints held by more than
    * `maxDf` docs leave via the partial-aggregating over-cap blacklist
    * + broadcast anti-join (boilerplate runs are reported by span
    * dedup, not pairwise), and the per-pair shared count is an
    * aggregate of the (capped) fp-equality join. */
  def winnowPairs(docs: DataFrame, k: Int = 5, w: Int = 4,
      minShared: Long = 3, maxDf: Long = MaxShingleDf): DataFrame = {
    log.info(s"winnowPairs: fingerprints held by > $maxDf docs are removed from " +
      "the candidate join (bounded d^2 blowup); ultra-common verbatim runs are " +
      "boilerplate — span dedup's territory, not pairwise")
    val fps = TextAnalysis.winnowFingerprints(docs, k, w)
    val overCap = fps
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("fp")
    val kept0 = fps.join(broadcast(overCap), Seq("fp"), "left_anti")
    // REDUCE-SIDE sort parallelism (round 17 — the first winnow rung
    // past x30 measured 6.75 GB of x100 spill with records exactly
    // linear at 0.945: the fp self-join's sorts and the pair
    // aggregate's partial pass outgrow fixed task memory at the
    // session partition count). ON the join key, so it re-sizes the
    // exchange the join already needs — and at the COARSE pair-join
    // divisor ([[Spread.PairJoinDocsPerPart]]): the fp table's fan is
    // only ~100 rows/doc, so /1500 keeps per-task sorts in-memory
    // while shrinking the self-join's R×R block matrix 9× (the x300
    // close-out rung at the /500 pin was block-bound: 17.3M ~200 B
    // local fetches per pass, run-time 3× CPU, spill 0). Bind-floor
    // semantics so the pin, when it fires, is AQE-coalesce-exempt at
    // every rung past ~100k docs; gate scales keep identity plans.
    // No map-side spread here: winnowFingerprints' window already
    // exchanges on doc_id before any aggregate, so the scan stage
    // never explodes.
    val kept = Spread.byKeyFloored(kept0,
      Spread.memoCount(docs, "doc_id"), Spread.PairJoinDocsPerPart, col("fp"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Connected components over near-dup PAIRS — the clustering step
    * between pairwise candidate generation and keep-one-per-cluster
    * curation (pairs alone under-count: {A~B, B~C} is ONE cluster of
    * three even when A~C was never emitted by any band). Min-star
    * CONTRACTION: each round every active vertex points at
    * min(itself, min neighbor) (m1), one pointer hop shortens chains
    * (m2 = m1∘m1), then BOTH the label table and the EDGE LIST are
    * relabeled through m2 (self-loops dropped, duplicates merged).
    * Contracting the edges is what plain label propagation lacks:
    * there, a min label crosses one ADJACENCY hop per round, so
    * convergence is diffusion-bounded (measured 19 rounds on the
    * sf0.1 embedding-similarity graph with pointer doubling — extra
    * label hops cannot shortcut adjacency). Here resolved regions
    * collapse to their representative between rounds, so the min
    * label jumps between supernodes and the active edge list SHRINKS
    * geometrically — the same graph closes in ~6 rounds, and a
    * 100k-node path in ~17 (vs 100k diffusion rounds).
    *
    * Correctness of the incremental label update (labels advance
    * through each round's m2 even though m2 is only a one-hop
    * shortening, not a closure): if any label still points at a
    * vertex t that m2 relabeled away (m2(t) < t), then some edge
    * incident to t's pre-image relabels to (t, m2(t)) — not a
    * self-loop — so t stays in the contracted edge list and a LATER
    * round's m2 carries that label onward; when the edge list
    * empties, no dead targets remain. Contraction always merges by
    * least, so a component's surviving representative is its min
    * vertex. Per round: one partial-aggregating shuffle (m1), one
    * rep-map self-join (m2, active-vertex-sized and shrinking — AQE
    * broadcasts it as soon as it fits), one label-table join, two
    * edge-relabel joins + a distinct on the SHRINKING edge list, ONE
    * action — the changed count rides a flag column. Convergence ⟺
    * the contracted edge list is empty (an edge (a,b), b>a forces
    * b's label down, and every active vertex is some doc's label).
    *
    * Lineage is truncated EVERY round with an eager localCheckpoint:
    * each round's logical plan otherwise embeds ~3 copies of the
    * previous round's (labels feeds nbrMin, prop AND shortcut), so by
    * round r the driver is analyzing/optimizing 3^r copies of the
    * candidate-generation subtree — measured as multi-second
    * PLANNING stalls per round on a graph of a few hundred edges,
    * even with every byte of data served from cache. After the
    * checkpoint, a round's plan is a flat scan of materialized label
    * rows. Truncating lineage is NOT enough, though: the checkpoint
    * carries the origin plan's ESTIMATED statistics, which compound
    * across rounds exactly like the lineage would — see
    * [[loopCheckpoint]] for why every round's checkpoint also resets
    * stats. (On a multi-executor cluster, localCheckpoint trades
    * lineage-based recovery for speed — an executor loss mid-job
    * fails the job and the component run restarts; the standard
    * iterative-graph tradeoff, cf. GraphX Pregel's checkpointing.)
    *
    * Output: (doc_id, rep_doc = component min, n_docs = component
    * size), one row per doc that appears in at least one pair. */
  /** Eager localCheckpoint that DROPS the origin plan's estimated
    * statistics. `Dataset.localCheckpoint` truncates lineage but
    * carries the optimized plan's `Statistics` into the new
    * `LogicalRDD` (so one-shot checkpoints keep their broadcast
    * eligibility). In a FIXPOINT loop that carryover is fatal at
    * scale: Catalyst's size-only estimator multiplies join children's
    * `sizeInBytes` (BigInts), so round N's estimate is a product of
    * ~k copies of round N-1's — the estimate's DIGIT COUNT grows k^N
    * and planner time (BigInteger Toom-Cook inside every stats
    * consumer, e.g. InjectRuntimeFilter's canBroadcastBySize) explodes
    * geometrically: measured 0.5s -> 141s per round by iteration 13
    * of [[components]] on a 1.5k-vertex graph, all of it driver CPU in
    * BigInteger.multiply on ~10^7-digit estimates. Rebuilding the
    * LogicalRDD with originStats/originConstraints cleared resets the
    * estimate to `spark.sql.defaultSizeInBytes` every round — the
    * planner stops static-broadcasting these (AQE still converts to
    * broadcast from RUNTIME sizes, which is the decision that matters
    * on a cluster) and per-round planning cost becomes flat. Same
    * problem and same fix shape as GraphFrames'
    * `AggregateMessages.getCachedDataFrame` (graphframes#159).
    *
    * The reset is a rebuilt VIEW over the SAME checkpointed RDD — no
    * second materialization, and [[freeCheckpoint]] on the view still
    * unpersists the shared blocks. */
  private[pipeline] def resetStats(ck: DataFrame): DataFrame =
    rebuildScan(ck)((lr, spark) => new org.apache.spark.sql.execution.LogicalRDD(
      lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
      lr.isStreaming, lr.stream)(spark, None, None))

  /** `ck` over a rebuilt `LogicalRDD` — the same checkpointed RDD. */
  private def rebuildScan(ck: DataFrame)(rebuild: (org.apache.spark.sql.execution.LogicalRDD,
      org.apache.spark.sql.classic.SparkSession) => org.apache.spark.sql.execution.LogicalRDD)
      : DataFrame =
    ck.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val spark = ck.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        new org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row](
          spark, rebuild(lr, spark), org.apache.spark.sql.Encoders.row(ck.schema))
      case _ => ck
    }

  /** Eager checkpoint of `df` sorted by `key`, whose scan declares the
    * sort's range partitioning and ordering, so a read ordered by `key`
    * plans neither an exchange nor a sort. An adaptive plan reports
    * neither property to `localCheckpoint`; the sort's output has both
    * (AQE coalesces only adjacent ranges). */
  private def sortedCheckpoint(df: DataFrame, key: String): DataFrame =
    rebuildScan(df.orderBy(key).localCheckpoint(true)) { (lr, spark) =>
      import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
      val order = Seq(SortOrder(lr.output.find(_.name == key).get, Ascending))
      new org.apache.spark.sql.execution.LogicalRDD(lr.output, lr.rdd,
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning(
          order, lr.rdd.getNumPartitions),
        order, lr.isStreaming, lr.stream)(spark, Some(lr.computeStats()), Some(lr.constraints))
    }

  /** Eager localCheckpoint + [[resetStats]] — the per-round
    * materialization a fixpoint loop should use. */
  private[pipeline] def loopCheckpoint(df: DataFrame): DataFrame =
    resetStats(df.localCheckpoint(true))

  /** Dataset.unpersist() manages the PLAN cache; a localCheckpoint's
    * blocks live at the RDD level, so freeing a retired iteration
    * table means unpersisting the RDD behind its LogicalRDD plan
    * (otherwise dead rounds' blocks linger until driver GC runs
    * ContextCleaner). Public: callers that fully consumed a
    * checkpoint-backed result (e.g. [[components]]' output) free it
    * here deterministically. (bpeTrain measured SLOWER with
    * per-iteration checkpoints — its tables are vocabulary-sized, so
    * materialization overhead beats the duplicated window it would
    * save; it keeps the persist pattern.) */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Checkpoint-backed RESULTS still live after their operator
    * returns (the operator's internal round checkpoints are all freed
    * before return; the result's own blocks must outlive the call so
    * the returned DataFrame stays readable). They are registered here
    * so a long-lived driver can reclaim them deterministically with
    * [[freeRetained]] between queries. The registry holds WEAK
    * references: a strong registry would keep every result reachable
    * forever and silently defeat the GC + ContextCleaner backstop that
    * reclaims checkpoint blocks once a result DataFrame is dropped —
    * the registry must observe lifecycles, not extend them.
    *
    * Contract: [[freeRetained]] invalidates every result returned by
    * retaining operators ([[components]], [[TextAnalysis.bpeApply]],
    * the PQ/IVFPQ index builds, and their compositions, e.g.
    * Curation.keepBest) that has not been fully consumed — call it at
    * query boundaries. */
  private val retainedCps = scala.collection.mutable.ArrayBuffer
    .empty[scala.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]

  /** Register the RDD behind a checkpoint-backed result. The weak ref
    * targets the RDD, not the Dataset wrapper: an internal retained
    * table (e.g. bpeApply's word table) drops its wrapper immediately
    * while its RDD stays reachable through every consumer plan — the
    * RDD's reachability IS the lifetime the registry must observe.
    * Inside a [[graft.BuildCache]] build the RDD is also released with
    * the entry. */
  private[pipeline] def retain(df: DataFrame): DataFrame = synchronized {
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        retainedCps += scala.ref.WeakReference(lr.rdd)
        graft.BuildCache.onFree(lr.rdd.unpersist(false))
      case _ => ()
    }
    df
  }

  /** Free every [[graft.BuildCache]] entry and every still-reachable
    * retained result checkpoint (see [[retainedCps]]); collected
    * entries were (or will be) reclaimed by ContextCleaner. */
  def freeRetained(): Unit = synchronized {
    graft.BuildCache.clear()
    // best-effort per RDD: retention is hygiene, not correctness — an
    // unpersist can NPE on a context mid-teardown (the BlockManager
    // master endpoint nulls before SparkContext.stop completes), and
    // one dead handle must not abort freeing the rest or crash a
    // harness that frees between rungs (measured: ScaleBench lost a
    // full 12-minute ladder to exactly that NPE after its last rung)
    retainedCps.foreach(_.get.foreach { r =>
      try r.unpersist(false)
      catch { case scala.util.control.NonFatal(_) => () }
    })
    retainedCps.clear()
  }

  /** Per-round trace of the most recent [[components]] run on this
    * driver: (round, labels changed, seconds). A debug surface for
    * convergence tuning (is the pointer doubling biting? which round
    * stalls?) that costs nothing extra — the changed-count action
    * already runs every round. */
  @volatile var lastComponentsTrace: Seq[(Int, Long, Double)] = Seq.empty

  def components(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    // both directions in ONE scan of the pairs subtree (a union of two
    // selects would run candidate generation once per branch); eager
    // localCheckpoint so the loop's per-round plans start from a flat
    // in-memory edge list, not the candidate-generation lineage
    val e = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("ed"))
      .select(col("ed.src").as("src"), col("ed.dst").as("dst"))
      .localCheckpoint(true)
    var prevCp: DataFrame = null
    var cp = loopCheckpoint(e.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label")))
    // stats reset on everything the loop reads: e's carried estimate
    // (a product over the whole candidate-generation join tree) would
    // otherwise re-enter every round's join-size product as a huge
    // constant factor even when the per-round checkpoints are clean
    var edges = resetStats(e)
    var prevEdges: DataFrame = e
    var labels = cp
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val t0 = System.nanoTime()
      // m1: every active vertex -> min(itself, min neighbor). The
      // bidirectional edge list covers each active vertex on the src
      // side, so one partial-aggregating shuffle reaches them all.
      val m1 = edges.groupBy("src").agg(min("dst").as("m"))
        .select(col("src").as("r"), least(col("src"), col("m")).as("t"))
      // one pointer hop (m2 = m1∘m1) shortens pointer chains; targets
      // that m2 itself relabels are carried onward by LATER rounds
      // (see scaladoc correctness note)
      val m2 = m1.join(m1.select(col("r").as("t"), col("t").as("t2")), Seq("t"), "left")
        .select(col("r"), coalesce(col("t2"), col("t")).as("t"))
      // compose with the CUMULATIVE label map: rm(t) = labels(m2(t)).
      // Without this, a monotone path (edge (i,i+1) for sorted ids)
      // degenerates: m2 maps i -> i-2 UNIFORMLY, so contraction just
      // SHIFTS the chain two ids per round — linear rounds. Looking
      // the target up in the label table compounds all previous
      // rounds' resolution (resolved distance d -> 2d+2 per round), so
      // sorted paths close in O(log n) rounds like everything else.
      // rm stays keyed by VALUE, so labels and edges contract through
      // the same map and the dead-target argument is unchanged.
      val rm = m2.join(labels.select(col("v").as("t"), col("label").as("lt")), Seq("t"), "left")
        .select(col("r"), coalesce(col("lt"), col("t")).as("t"))
      // labels advance through the round's rep map; labels at inactive
      // (already-final) reps miss the join and keep their value
      val lbl = coalesce(col("t"), col("label"))
      // LAZY checkpoints: the changed-count below is the round's ONE
      // action and materializes `next` in the same job; the contracted
      // edge list materializes inside the NEXT round's first job (its
      // plan is one flat layer over this round's tables, so the
      // lineage/stats blowup loopCheckpoint guards against cannot
      // restart). A converged final round leaves eNext unmaterialized
      // — freeCheckpoint on it is a no-op.
      val next = resetStats(labels
        .join(rm.select(col("r").as("label"), col("t")), Seq("label"), "left")
        .select(col("v"), lbl.as("label"), (lbl < col("label")).as("chg"))
        .localCheckpoint(false))
      // contract: relabel both endpoints through m2 (every active
      // vertex has an m2 row, so the coalesce only covers the
      // empty-map final round), drop self-loops, merge parallel edges.
      // Relabeling preserves the src/dst symmetry, so the edge list
      // stays bidirectional without re-exploding.
      val eNext = resetStats(edges
        .join(rm.select(col("r").as("src"), col("t").as("s2")), Seq("src"), "left")
        .join(rm.select(col("r").as("dst"), col("t").as("d2")), Seq("dst"), "left")
        .select(coalesce(col("s2"), col("src")).as("src"),
          coalesce(col("d2"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(false))
      val changed = next.filter(col("chg")).count() // materializes the checkpoint
      trace += ((iter, changed, (System.nanoTime() - t0) / 1e9))
      if (sys.env.contains("GRAFT_CC_DEBUG")) {
        val sc = next.sparkSession.sparkContext
        val nparts = next.queryExecution.toRdd.getNumPartitions
        val nPersist = sc.getPersistentRDDs.size
        val planNodes = next.queryExecution.executedPlan.collect { case p => p }.size
        val logicalCls = next.queryExecution.logical.getClass.getSimpleName
        System.err.println(f"[cc] iter=$iter changed=$changed ${(System.nanoTime() - t0) / 1e9}%.2fs " +
          s"parts=$nparts persisted=$nPersist planNodes=$planNodes logical=$logicalCls")
      }
      // round N-1's checkpoint blocks are dead once round N's are
      // materialized — free them now instead of waiting for GC
      if (prevCp != null) freeCheckpoint(prevCp)
      if (prevEdges ne e) freeCheckpoint(prevEdges)
      prevCp = cp
      prevEdges = edges
      cp = next
      edges = eNext
      labels = next.select(col("v"), col("label"))
      converged = changed == 0
      iter += 1
    }
    if (prevCp != null) freeCheckpoint(prevCp)
    if (prevEdges ne e) freeCheckpoint(prevEdges)
    freeCheckpoint(edges)
    freeCheckpoint(e)
    lastComponentsTrace = trace.toSeq
    require(converged, s"components did not converge in $maxIters rounds — " +
      s"component diameter exceeds 2^$maxIters; raise maxIters")
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_docs"))
    // return-and-free: materialize the OUTPUT (labels-sized — the same
    // rows every round already materialized once) so the final round's
    // checkpoint becomes internal-only and is freed before return; no
    // invocation-private block outlives the call. The output's own
    // blocks are retained (the caller is reading them) — freeable
    // deterministically via freeRetained(), else by GC+ContextCleaner.
    val out = labels.join(sizes, Seq("label"))
      .select(col("v").as("doc_id"), col("label").as("rep_doc"), col("n_docs"))
      .localCheckpoint(true)
    freeCheckpoint(cp)
    retain(out)
  }

  /** Benchmark decontamination: training docs sharing at least
    * `minHits` k-gram shingles with any probe (benchmark/test-set)
    * doc — the overlap check a training pipeline runs before the
    * corpus ships. `probes` carries its OWN schema, (probe_id, text) —
    * a benchmark set is a different table with a different identity
    * space, not a slice of the corpus. Inverted-index semi-join shape:
    * only (train, probe) pairs sharing a surviving shingle
    * materialize, never all pairs; the train-side df blacklist (same
    * two-phase groupBy.count + broadcast anti-join as [[jaccardPairs]])
    * keeps one stop-shingle from joining the whole corpus against
    * every probe. The probe set is a benchmark — small by definition —
    * but is NOT broadcast by hint; AQE broadcasts it when it actually
    * fits. */
  def contamination(train: DataFrame, probes: DataFrame, k: Int = 3,
      minHits: Long = 2, maxDf: Long = MaxShingleDf): DataFrame = {
    // spread the corpus side before the explode ([[Spread]] — the
    // distinct's partial aggregate is the §21.5 fallback shape); the
    // probe side is benchmark-sized by contract and stays un-spread
    val t = TextAnalysis.shingles(
        Spread.byId(train, "doc_id", Spread.ShingleSetDocsPerPart), k)
      .select(col("doc_id"), col("shingle")).distinct()
    val p = TextAnalysis.shingles(
        probes.select(col("probe_id").as("doc_id"), col("text")), k)
      .select(col("doc_id").as("probe_id"), col("shingle")).distinct()
    val overCap = t.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("shingle")
    t.join(broadcast(overCap), Seq("shingle"), "left_anti")
      .join(p, Seq("shingle"))
      .groupBy("doc_id", "probe_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minHits)
  }

  /** Embedding-cosine near-duplicate DOC pairs — the semantic
    * completion of the dedup family (exact / minhash / jaccard /
    * simhash operate on surface text; this catches paraphrases the
    * text-level signatures miss). Candidates come from the banded,
    * bucket-capped random-hyperplane LSH with corpus-sized signature
    * width ([[Similarity.annPairsAdaptive]] — never all pairs,
    * occupancy held ~constant at any n, mega-buckets blacklisted like
    * the text-plane bands), are verified with exact integer-quantized
    * cosine, and
    * are then restricted to ids present in `docs` via left-semi joins
    * (the embedding table may cover more ids than the doc corpus).
    * Both join planes shuffle on ids — no O(corpus) broadcast. */
  def embeddingNearDups(docs: DataFrame, emb: DataFrame,
      threshold: Double = Similarity.AnnThreshold): DataFrame =
    embeddingNearDupsFromPairs(docs, Similarity.annPairsAdaptive(emb, threshold))

  /** [[embeddingNearDups]] served from a prebuilt ANN pair table
    * ([[Similarity.annPairsCached]]) — read-path cost only: the
    * id-restriction semi-joins, no hyperplane banding or self-join. */
  def embeddingNearDupsFromPairs(docs: DataFrame, annPairs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
    annPairs
      .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("cos_sim"))
  }

  /** Substring-level dedup: maximal shared token RUNS between document
    * pairs — the span-removal operator from "Deduplicating Training
    * Data Makes Language Models Better" (whole-doc dedup misses
    * boilerplate headers, license blocks and templated paragraphs
    * repeated inside otherwise-distinct documents). A shared run is a
    * maximal sequence of consecutive positions where both docs carry
    * the same k-gram shingles; two positional shingle streams match on
    * a RUN exactly when their join hits lie on one diagonal
    * (pos_a - pos_b constant) at consecutive pos_a — so runs are
    * gaps-and-islands over (doc_a, doc_b, diagonal), the same pattern
    * the BPE merge rule uses on matched positions.
    *
    * Scale shape: the join is [[jaccardPairs]]' inverted shingle index
    * (pairs sharing >= 1 surviving shingle only, never all pairs) with
    * the same two-phase df blacklist — df here is DISTINCT DOCS per
    * shingle, so corpus-wide boilerplate k-grams leave the index
    * before the self-join shuffles (a license shingle in 10^6 docs
    * would otherwise emit 10^12 diagonal rows). The islands window
    * partitions by (doc_a, doc_b, diag) — bounded by DOCUMENT length,
    * not corpus size, so no partition outgrows a task at any corpus
    * scale. In-doc repeats of one shingle fan out t_a x t_b rows per
    * pair; that product is bounded by doc length squared and in
    * practice by the repetition filter upstream ([[TextAnalysis.repetition]]
    * flags those docs first).
    *
    * df-cap contract (stronger than "boilerplate-only spans are
    * unreported"): a blacklisted shingle in the MIDDLE of an otherwise
    * unique shared run SPLITS that run at the gap — each fragment is
    * reported separately and fragments shorter than minRun disappear.
    * That is the deliberate trade: at the default caps a shingle goes
    * over only when it appears in > maxDf distinct docs, i.e. it IS
    * corpus boilerplate, and a span fragmented by boilerplate is
    * reported as its unique pieces. Callers needing gap-bridging can
    * lower k or raise maxDf; bridging in the islands pass itself would
    * make run length depend on the blacklist, breaking the exact
    * "maximal shared run over the capped index" semantics.
    *
    * Output: one row per maximal shared run of at least `minRun`
    * tokens: (doc_a, doc_b, start_a, start_b, len_tokens), positions
    * 1-based token offsets. Runs shorter than minRun are noise (any
    * two docs share stray k-grams); production uses ~50, the default
    * here is sized to the synthetic corpus (non-trivial, stable result
    * sets at sf0.001-0.1). */
  def spanPairs(docs: DataFrame, k: Int = 3, minRun: Int = 10,
      maxDf: Long = MaxShingleDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    log.info(s"spanPairs: shingles in > $maxDf distinct docs are removed from " +
      "the positional index (bounded d^2 blowup); spans made only of " +
      "corpus-wide boilerplate k-grams are not reported per-pair")
    // scale-derived sort parallelism — ~1 partition per 500 docs, the
    // bounded scalar-count stance lshRecall uses. (First spelled as
    // plan-statistics sizeInBytes / 64 KB to avoid the count action,
    // but Catalyst size ESTIMATES multiply through derived plans: a
    // test corpus built by transforms claimed 3.9 GB and derived a
    // 62k-partition shuffle. An exact count is one cheap metadata
    // job; an estimate that can be arbitrarily wrong is not a
    // partitioning input.)
    val nDocs = Spread.memoCount(docs, "doc_id")
    val sortParts = Spread.parts(docs, nDocs, Spread.SpanDocsPerPart)
    // bind at [[Spread.BindFloor]] raw parts, NOT the session default
    // (round 17: the /1500 divisor left x30's raw 100 below 256 —
    // identity — and the §21.5 fallback returned with 22.9 GB of
    // spill; the fan outgrows the scan splits long before the derived
    // partition count reaches the session default)
    val bind = nDocs / Spread.SpanDocsPerPart >= Spread.BindFloor
    // MAP-SIDE spread (round 16, the lshRecall finding at 300× — now
    // the shared [[Spread]] helper, which carries the mechanism and
    // divisor rationale): bound each map task's exploded slice.
    val sh = TextAnalysis.shingles(
      Spread.byKeyFloored(docs, nDocs, Spread.SpanDocsPerPart, col("doc_id")), k)
    // df = distinct docs (positions within one doc must not count
    // toward the cap); tiny over-cap set -> broadcast anti-join drops
    // hot shingles map-side, before the self-join shuffle
    val overCap = sh.select("doc_id", "shingle").distinct()
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("shingle")
    val kept0 = sh.join(broadcast(overCap), Seq("shingle"), "left_anti")
    // SORT PARALLELISM (round 16 — the lshRecall x300 treatment,
    // applied after the r16 100× rung measured dedup_spans spilling
    // 24.5/86.5 GB at x30/x100 with records exactly linear at 1.04:
    // the positional self-join's shingle sort and the island window's
    // (doc_a, doc_b, diag) sort both outgrow fixed task sort memory).
    // The divisor is [[Spread.SpanDocsPerPart]] — coarsened 500 →
    // 1500 in round 17 after the x300 block-count adjudication (this
    // plane's post-join rows are narrow ints, so 3× larger slices
    // still sort in-memory while cutting M×R shuffle blocks 9×; x300
    // warm 219.9 → 92.9 s, spill 0 both ways). Gate
    // scales and the sf0.1 bench (5,000 docs) derive far below the
    // session default and keep their plans byte-identical; the
    // explicit repartitions are ON the join/window keys, so they
    // satisfy the required distributions instead of adding exchanges.
    val kept =
      if (bind) kept0.repartition(sortParts, col("shingle"))
      else kept0
    val hits0 = kept.as("a")
      .join(kept.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val hits =
      if (bind)
        hits0.repartition(sortParts, col("doc_a"), col("doc_b"), col("diag"))
      else hits0
    // islands: consecutive pos_a on one diagonal = one maximal run.
    // (pos_a, diag) is unique per pair — (doc, pos) is unique in the
    // shingle table — so row_number is exact, no pre-distinct needed.
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    hits
      .withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "isl")
      .agg(
        min("pos_a").cast("long").as("start_a"),
        (min("pos_a") - col("diag")).cast("long").as("start_b"),
        (count(lit(1)) + (k - 1)).as("len_tokens"))
      .filter(col("len_tokens") >= minRun)
      .select("doc_a", "doc_b", "start_a", "start_b", "len_tokens")
  }

  /** Incremental SPAN dedup: maximal shared token runs between a NEW
    * crawl batch and the standing BASE corpus — the span-plane twin of
    * [[incrementalDedup]] (screening every ingest against the corpus;
    * re-running the full positional self-join over base ∪ batch would
    * be O(base²) per ingest). The positional join is batch-vs-base
    * ONLY, never base-vs-base: at corpus scale batch << base, so cost
    * is O(batch-side hits), linear in the ingest.
    *
    * The df blacklist is computed over the BASE (distinct docs per
    * shingle): the standing corpus is the boilerplate authority — a
    * k-gram common in the corpus is boilerplate even if rare in the
    * batch, and a batch-only repeated k-gram is exactly what the audit
    * should surface. Same islands/diagonal machinery as [[spanPairs]];
    * (doc_a, doc_b) = (batch doc, base doc) — caller contract: the id
    * spaces are disjoint (different crawls).
    *
    * Output: (doc_a, doc_b, start_a, start_b, len_tokens). */
  def spanPairsIncremental(base: DataFrame, batch: DataFrame, k: Int = 3,
      minRun: Int = 10, maxDf: Long = MaxShingleDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread the standing BASE before its positional explode
    // ([[Spread]] — the over-cap distinct's partial aggregate is the
    // §21.5 fallback shape at corpus scale); the batch is ingest-sized
    // (batch << base by contract) and stays un-spread
    val shB = TextAnalysis.shingles(
      Spread.byKeyFloored(base, Spread.memoCount(base, "doc_id"),
        Spread.SpanDocsPerPart, col("doc_id")))
    val shN = TextAnalysis.shingles(batch)
    val overCap = shB.select("doc_id", "shingle").distinct()
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("shingle")
    val keptB = shB.join(broadcast(overCap), Seq("shingle"), "left_anti")
    val keptN = shN.join(broadcast(overCap), Seq("shingle"), "left_anti")
    val hits = keptN.as("a")
      .join(keptB.as("b"), col("a.shingle") === col("b.shingle"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"),
        (col("a.pos") - col("b.pos")).as("diag"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    hits
      .withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "isl")
      .agg(
        min("pos_a").cast("long").as("start_a"),
        (min("pos_a") - col("diag")).cast("long").as("start_b"),
        (count(lit(1)) + (k - 1)).as("len_tokens"))
      .filter(col("len_tokens") >= minRun)
      .select("doc_a", "doc_b", "start_a", "start_b", "len_tokens")
  }

  /** Persist a [[NearDupIndex]] as parquet tables — the cross-SESSION
    * form of the build-serve split ([[graft.BuildCache]] amortizes within
    * a driver; a 100 TB build amortizes across drivers by living on
    * disk, the same stance as the IVF index's disk round-trip). */
  def writeNearDupIndex(idx: NearDupIndex, dir: String): Unit = {
    idx.pairs.write.mode("overwrite").parquet(s"$dir/pairs")
    idx.clusters.write.mode("overwrite").parquet(s"$dir/clusters")
  }

  /** Reload a persisted [[NearDupIndex]]; every `-FromIndex` consumer
    * serves from the reloaded tables identically (spec-pinned). */
  def readNearDupIndex(spark: org.apache.spark.sql.SparkSession, dir: String): NearDupIndex =
    NearDupIndex(
      spark.read.parquet(s"$dir/pairs"),
      spark.read.parquet(s"$dir/clusters"))

  /** Persist a [[spanIndex]] span table as parquet — the
    * cross-SESSION form of the span-plane build-serve split (the
    * [[writeNearDupIndex]] stance): the positional shingle self-join
    * is the single most expensive dedup build, and a restarted driver
    * re-READS the pair table instead of re-running it; every
    * [[removeSpansFromIndex]]-family consumer serves from the reloaded
    * table bit-identically (the build is deterministic; spec-pinned).
    */
  def writeSpanIndex(spans: DataFrame, dir: String): Unit =
    spans.write.mode("overwrite").parquet(dir)

  def readSpanIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Build-once SPAN index — [[spanPairs]]' output as a
    * checkpoint-backed artifact (the [[nearDupIndex]] pattern applied
    * to the span plane, the one dedup family that lacked it): at
    * corpus scale the positional shingle self-join is the single most
    * expensive dedup build, and span removal + coverage audits are
    * READS of its output — the pairs are written once
    * (`spans.write.parquet(...)`) and every consumer amortizes the
    * build instead of re-running it per query. Retained-checkpoint
    * lifecycle: [[freeRetained]]. */
  def spanIndex(docs: DataFrame, k: Int = 3, minRun: Int = 10,
      maxDf: Long = MaxShingleDf): DataFrame =
    retain(spanPairs(docs, k, minRun, maxDf).localCheckpoint(true))

  /** [[spanIndex]] as a [[graft.BuildCache]] entry. */
  def spanIndexCached(docs: DataFrame, k: Int = 3, minRun: Int = 10,
      maxDf: Long = MaxShingleDf): DataFrame =
    graft.BuildCache("spanIndex", graft.BuildCache.of(docs), k, minRun, maxDf)(
      spanIndex(docs, k, minRun, maxDf))

  /** Span REMOVAL — the curation step [[spanPairs]] exists for (the
    * dedup paper's pipeline removes the shared bytes, it doesn't just
    * report them): every maximal shared run loses its copy in the
    * HIGHER-id doc of the pair (the lower id keeps it — the min-id
    * representative convention the rest of the dedup family uses), and
    * affected documents are rebuilt with those token positions excised.
    * A doc in several pairs loses the union of its drop ranges
    * (overlaps collapse via the distinct position set semantics).
    * Train-inline form; production serves from [[spanIndexCached]] via
    * [[removeSpansFromIndex]] (bit-identical — the build is
    * deterministic; PipelineSpec pins the identity). */
  def removeSpans(docs: DataFrame, k: Int = 3, minRun: Int = 10,
      maxDf: Long = MaxShingleDf): DataFrame =
    removeSpansFromIndex(docs, spanPairs(docs, k, minRun, maxDf))

  /** [[removeSpans]] served from a prebuilt span table ([[spanIndex]])
    * — read-path cost only: no positional self-join, no islands
    * window.
    *
    * Scale shape: the spans' drop ranges collapse to ONE small array
    * per AFFECTED doc (collect_list after a partial-aggregating
    * groupBy — bounded by that doc's span count), the corpus joins it
    * with a left join on doc_id, and the rebuild is ROW-LOCAL
    * (filter-with-index over the token array against the doc's own
    * ranges; untouched docs short-circuit through the original text
    * and never evaluate the lambda). No shuffle is corpus-wide except
    * the one doc_id join.
    *
    * Output: (doc_id, text, n_removed) for every input doc. */
  def removeSpansFromIndex(docs: DataFrame, spans: DataFrame): DataFrame = {
    val drops = spans
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("len_tokens")).as("e"))
    val ranges = drops.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("rs"))
    val toks = split(col("text"), " ")
    // 1-based token position pos = i + 1; a token is dropped when ANY
    // range covers it — overlapping ranges union naturally
    val keptToks = filter(toks, (_, i) =>
      !exists(col("rs"), r =>
        (i + 1) >= r.getField("s") && (i + 1) < r.getField("e")))
    docs
      .join(ranges, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("rs").isNull, col("text"))
          .otherwise(array_join(keptToks, " ")).as("text"),
        when(col("rs").isNull, lit(0L))
          .otherwise(size(toks).cast("long") - size(keptToks).cast("long")).as("n_removed"))
  }

  /** SimHash: 32-bit fingerprint from the hex digits of md5(token),
    * majority-weighted by term frequency. Exact-collision groups are
    * near-identical docs.
    *
    * Row-local map-only stage — no explode, no shuffle — via the
    * native codegen'd [[graft.functions.SimHashFp]] expression (an
    * aggregate+zip_with built-in composition was measured ~10x slower:
    * higher-order lambdas evaluate interpreted). */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    docs.select(
      col("doc_id"),
      graft.functions.SimHashFp.simhashFp(spark, split(col("text"), " ")).as("fp"))
  }

  /** SimHash collision groups (fingerprint shared by > 1 doc). */
  def simhashGroups(docs: DataFrame): DataFrame =
    simhash(docs)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep_doc"))
      .filter(col("n_docs") > 1)

  /** SimHash near-dup pairs within `maxDist` bits, found by pigeonhole
    * banding: a pair differing in <= 3 of 32 bits must agree on at
    * least one of 4 contiguous 8-bit bands, so an equi-join on band
    * signatures finds ALL such pairs — no all-pairs join at any scale.
    * The verify step uses the native codegen'd
    * [[graft.functions.HammingDistance]] expression. */
  def simhashNearPairs(docs: DataFrame, maxDist: Int = 3,
      maxBucket: Long = MaxBandBucket): DataFrame = {
    require(maxDist < 4, "pigeonhole over 4 bands only guarantees recall for maxDist <= 3")
    log.info(s"simhashNearPairs: band buckets with > $maxBucket docs are dropped " +
      "from the candidate join (bounded d^2 blowup); mega-cluster membership is " +
      "reported by simhashGroups, not pairwise")
    val spark = docs.sparkSession
    // the fingerprint pipeline is map-only, so without an exchange its
    // three consumers (bucket counts, both self-join sides) would each
    // recompute every per-token MD5; repartition(doc_id) pins ONE
    // narrow (doc_id, fp) exchange that ReuseExchange shares — doc_id
    // is unskewed, unlike the band keys
    val fps = simhash(docs).repartition(col("doc_id"))
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"), substring(col("fp"), 1 + 8 * b, 8).as("sig")))
    val bands0 = fps
      .select(col("doc_id"), col("fp"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("fp"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // two-phase skew-safe cap (see minhashCandidates): partial-agg
    // counts -> tiny over-cap blacklist -> broadcast anti-join drops
    // mega-buckets map-side, before the self-join shuffle
    val overCap = bands0
      .groupBy("band", "sig").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("band"), col("sig"))
    val bands = bands0.join(broadcast(overCap), Seq("band", "sig"), "left_anti")
    // hamming BEFORE distinct: the native expression re-evaluates per
    // band collision (cheap), while distinct then shuffles 3 narrow
    // columns instead of two 32-char fingerprints per row
    val dist = graft.functions.HammingDistance.hamming(spark, col("a.fp"), col("b.fp"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), dist.as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }
}

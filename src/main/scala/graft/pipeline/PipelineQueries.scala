package graft.pipeline

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable queries for the training-data pipeline plane:
  * dedup (exact / minhash-LSH / simhash / n-gram jaccard), similarity
  * search (brute-force top-k, LSH ANN, centroids), text analysis
  * (stats, langid, quality, BPE-ish counts, fingerprints) and
  * multimodal metadata.
  *
  * Everything except mm_features has an exact DuckDB oracle: hashing
  * is md5-only, vector math is integer-quantized (see Similarity),
  * averages are computed as sum/count to avoid engine-specific
  * accumulators.
  */
object PipelineQueries extends QueryPack {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** Build-once near-dup index ([[Dedup.nearDupIndexCached]]): the
    * cluster map and candidate pairs are built once per corpus and
    * every dependent query below serves from the artifact —
    * the production stance (at 100 TB the fixpoint is hours; cluster
    * sizes, keep-best, splits and audits are READS of its output).
    * Results are identical to the train-inline forms (the build is
    * deterministic); PipelineSpec pins that identity. */
  private def ndIdx(s: SparkSession, d: String) = Dedup.nearDupIndexCached(docs(s, d))

  /** Build-once SPAN index ([[Dedup.spanIndexCached]]): the
    * positional-shingle span table is built once per corpus and span
    * removal + coverage serve from it — at 100 TB the
    * span self-join is the costliest dedup build in the shop and both
    * consumers are reads of its output. dedup_spans keeps the
    * train-inline build (oracle bit-parity); PipelineSpec pins the
    * inline == FromIndex identity. */
  private def spanIdx(s: SparkSession, d: String) = Dedup.spanIndexCached(docs(s, d))

  /** Fixed query terms for text_bm25 — mid-frequency corpus words so
    * tf, df and doc-length normalization all do real work. */
  val Bm25Query: Seq[String] = Seq("spark", "window", "merge")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, d) => Dedup.exactSummary(docs(s, d))),
    // normalized-exact tier (lowercase + whitespace collapse before
    // hashing — the dup mass only normalization catches)
    "dedup_exact_norm" -> ((s, d) => Dedup.exactNormSummary(docs(s, d))),
    "dedup_minhash" -> ((s, d) => Dedup.minhashCandidates(docs(s, d)).orderBy("doc_a", "doc_b")),
    // sketch-quality audit: minhash Jaccard estimate vs true shingle
    // Jaccard per candidate pair, 1e4-quantized
    "dedup_minhash_err" -> ((s, d) => Dedup.minhashError(docs(s, d)).orderBy("doc_a", "doc_b")),
    // LSH recall audit: sampled-pair capture rate per Jaccard decile
    // vs the theoretical S-curve (the false-negative dial). The
    // default-banding "caught" set reads the build-once pair table
    // (it IS minhashCandidates' output) instead of re-running the
    // band self-join.
    "dedup_lsh_recall" -> ((s, d) =>
      Dedup.lshRecall(docs(s, d), caughtPairs = Some(ndIdx(s, d).pairs))
        .orderBy("decile")),
    // the audit USED: the bands×rows knob at its other preset — 8
    // bands of 1 row lifts low-Jaccard capture exactly as the S-curve
    // predicts (1-(1-j)^8 vs 1-(1-j²)^4); comparing the two recall
    // tables is how a 100 TB run sizes its banding before committing.
    // The b8 "caught" set reads the build-once per-preset pair cache
    // (rows identical to the inline band self-join it replaces) —
    // round 17, killing the arm's last x300 rebuild spill.
    "dedup_lsh_recall_b8" -> ((s, d) =>
      Dedup.lshRecall(docs(s, d), bandRows = 1,
        caughtPairs = Some(Dedup.candidatePairsCached(docs(s, d), bandRows = 1)))
        .orderBy("decile")),
    // cross-source near-dup overlap matrix (mirror detection), served
    // from the build-once pair table
    "dedup_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlapFromIndex(docs(s, d), ndIdx(s, d).pairs)
        .orderBy("source_a", "source_b")),
    // near-dup clusters: the build-once cluster map itself (min-label
    // fixpoint over the candidate pairs; first touch builds, rest read)
    "dedup_components" -> ((s, d) => ndIdx(s, d).clusters.orderBy("doc_id")),
    // cluster-size histogram incl. restored singletons (dedup
    // planning), served from the build-once cluster map
    "dedup_cluster_sizes" -> ((s, d) =>
      Dedup.clusterSizesFromIndex(docs(s, d), ndIdx(s, d).clusters)
        .orderBy("cluster_size")),
    // per-doc unigram Shannon entropy (frequency-profile health)
    "text_entropy" -> ((s, d) => TextAnalysis.entropy(docs(s, d)).orderBy("doc_id")),
    // per-dimension integer stats of the quantized embeddings
    "emb_dimstats" -> ((s, d) => Similarity.dimStats(emb(s, d)).orderBy("dim")),
    // top principal component by quantized power iteration (5 rounds)
    "emb_pca" -> ((s, d) => Similarity.pcaTop(emb(s, d))),
    // second component by integer Hotelling deflation, served from
    // the build-once artifacts (cached scatter matrix + cached v₁ —
    // deflation and ONE power-iteration run at read time; identical
    // rows to the train-inline pcaTop2 the unrolled oracle replays,
    // identity spec-pinned)
    "emb_pca2" -> ((s, d) =>
      Similarity.pcaTop2FromIndex(
        Similarity.scatterMatrixCached(emb(s, d)),
        Similarity.pcaTopCached(emb(s, d)))),
    // per-vector coordinate along the component, served from the
    // build-once artifact (emb_pca keeps the inline
    // build its unrolled oracle replays; rows identical)
    "emb_pca_project" -> ((s, d) =>
      Similarity.pcaProjectFromIndex(Similarity.pcaTopCached(emb(s, d)), emb(s, d))
        .orderBy("vec_id")),
    "dedup_jaccard" -> ((s, d) => Dedup.jaccardPairs(docs(s, d)).orderBy("doc_a", "doc_b")),
    "dedup_simhash" -> ((s, d) => Dedup.simhashGroups(docs(s, d)).orderBy("fp")),
    "dedup_simhash_near" -> ((s, d) => Dedup.simhashNearPairs(docs(s, d)).orderBy("doc_a", "doc_b")),
    // embedding near-dup pairs, served from the build-once ANN pair
    // table (sim_ann_pairs keeps the train-inline build)
    "dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDupsFromPairs(docs(s, d), Similarity.annPairsCached(emb(s, d)))
        .orderBy("doc_a", "doc_b")),
    // substring-level dedup: maximal shared token runs between doc
    // pairs (diagonal gaps-and-islands over the positional shingle
    // self-join)
    "dedup_spans" -> ((s, d) =>
      Dedup.spanPairs(docs(s, d)).orderBy("doc_a", "doc_b", "start_a", "start_b")),
    // span removal: the corpus with every shared run excised from the
    // higher-id doc of its pair (min-id keeps its copy) — served from
    // the build-once span index
    "dedup_spans_clean" -> ((s, d) =>
      Dedup.removeSpansFromIndex(docs(s, d), spanIdx(s, d)).orderBy("doc_id")),
    // corpus-level duplication mass: what fraction of all tokens sits
    // inside removable shared runs (the one-number "how much
    // boilerplate" dial; per-doc detail is dedup_spans_clean) — served
    // from the build-once span index
    "dedup_span_coverage" -> ((s, d) => {
      val all = docs(s, d)
      val tot = all.agg(sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
      Dedup.removeSpansFromIndex(all, spanIdx(s, d))
        .agg(
          sum("n_removed").as("removed_tokens"),
          sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("n_docs_affected"))
        .crossJoin(broadcast(tot))
        .withColumn("coverage_bp", expr("removed_tokens * 10000 div total_tokens"))
        .select(col("total_tokens"), col("removed_tokens"),
          col("n_docs_affected"), col("coverage_bp"))
    }),
    // incremental SPAN dedup: the new-crawl batch's shared token runs
    // against the standing base — batch-vs-base positional joins only
    // (never base-vs-base), df blacklist from the base corpus (the
    // boilerplate authority); the per-ingest cost of span screening
    "dedup_spans_incr" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.spanPairsIncremental(
        all.filter(col("doc_id") % 5 =!= 4),
        all.filter(col("doc_id") % 5 === 4))
        .orderBy("doc_a", "doc_b", "start_a", "start_b")
    }),
    // incremental ingest dedup: every 5th doc plays the new crawl
    // batch, screened against the rest as the standing base corpus —
    // batch-vs-base joins only, never base-vs-base
    "dedup_incremental" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.incrementalDedup(
        all.filter(col("doc_id") % 5 =!= 4),
        all.filter(col("doc_id") % 5 === 4))
        .orderBy("doc_id")
    }),
    // alpha=0.5 temperature mixture over languages, 100k-token budget
    "pipeline_mixture" -> ((s, d) =>
      Curation.temperatureMixture(docs(s, d)).orderBy("lang")),
    // the mixture EXECUTED: deterministic micro-rate sampling at the
    // computed per-language rates
    "pipeline_mixture_sample" -> ((s, d) =>
      Curation.mixtureSample(docs(s, d)).orderBy("doc_id")),
    // per-source embedding-centroid cosine matrix (semantic source
    // similarity — the complement of dedup_source_overlap)
    "emb_source_sim" -> ((s, d) =>
      Similarity.sourceCentroidSim(docs(s, d), emb(s, d))
        .orderBy("source_a", "source_b")),
    // keep-best-of-cluster: near-dup clusters keep their highest-
    // quality member, solitary docs keep themselves — served from the
    // build-once cluster map
    "pipeline_keep_best" -> ((s, d) =>
      Curation.keepBestFromIndex(docs(s, d), ndIdx(s, d).clusters).orderBy("doc_id")),
    "pipeline_training_set" -> ((s, d) => Curation.trainingSet(docs(s, d)).orderBy("doc_id")),
    // decontamination: docs 0-49 stand in for the benchmark probe set,
    // re-shaped to the probe schema (probe_id, text) — contamination
    // takes a distinct probes table, not a corpus slice
    "pipeline_contamination" -> ((s, d) => {
      val all = docs(s, d)
      val probes = all.filter(col("doc_id") < 50)
        .select(col("doc_id").as("probe_id"), col("text"))
      Dedup.contamination(all.filter(col("doc_id") >= 50), probes)
        .orderBy("doc_id", "probe_id")
    }),
    "text_repetition" -> ((s, d) => TextAnalysis.repetition(docs(s, d)).orderBy("doc_id")),
    // in-engine-trained multinomial NB language classifier, evaluated
    // as a confusion matrix (label-noise audit)
    "text_nb" -> ((s, d) => TextAnalysis.nbConfusion(docs(s, d)).orderBy("lang", "pred_lang")),
    // Count-Min sketch vs exact heavy hitters (sketch-sizing audit)
    "text_cms" -> ((s, d) => TextAnalysis.cmsAudit(docs(s, d)).orderBy(desc("exact"), asc("word"))),
    // Zipf rank-frequency fit over the top-100 tokens (corpus health)
    "text_zipf" -> ((s, d) => TextAnalysis.zipfFit(docs(s, d))),
    // per-doc winnowing fingerprint selection (Schleimer 2003) —
    // density should track the 2/(w+1) bound
    "text_winnowing" -> ((s, d) => TextAnalysis.winnowSummary(docs(s, d)).orderBy("doc_id")),
    // MOSS-style near-dup pairs by shared winnowed fingerprints —
    // position-space sampling, catches partial verbatim overlap
    "dedup_winnow" -> ((s, d) => Dedup.winnowPairs(docs(s, d)).orderBy("doc_a", "doc_b")),
    // weighted priority sample (Duffield-Lund-Thorup) with the
    // subset-sum estimator threshold
    "pipeline_reservoir" -> ((s, d) => Curation.prioritySample(docs(s, d)).orderBy("rank")),
    // packing-efficiency audit: fill rate + boundary-cut doc count
    "pipeline_pack_eval" -> ((s, d) => Curation.packEfficiency(docs(s, d))),
    // training-mix rates in 64ths: heavy en, medium de/fr/es, light zh
    "pipeline_sample" -> ((s, d) =>
      Curation.stratifiedSample(docs(s, d),
        Map("en" -> 48, "de" -> 32, "fr" -> 32, "es" -> 32, "zh" -> 8))
        .orderBy("doc_id")),
    // Sequence packing: md5-bucketed pack-then-chunk layout; the
    // running-offset window is partitioned by bucket (no global sort)
    "pipeline_pack" -> ((s, d) => Curation.packSequences(docs(s, d)).orderBy("doc_id")),
    // tokenizer-true packing: the BPE-trained subword counts drive the
    // layout (training budgets are model tokens, not whitespace
    // words); reads the cached tokenizer artifact — the merge
    // loop trains once per corpus, text_bpe_apply keeps the inline
    // build its unrolled oracle replays
    "pipeline_pack_bpe" -> ((s, d) =>
      Curation.packSequencesBy(
        TextAnalysis.bpeApplyCached(docs(s, d), 3)
          .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")))
        .orderBy("doc_id")),
    // deterministic train/val/test assignment (pure function of
    // doc_id — reproducible across runs, retries, engines)
    "pipeline_split" -> ((s, d) => Curation.holdoutSplit(docs(s, d)).orderBy("doc_id")),
    // sliding-window context chunks (map-only, overlapping windows)
    "pipeline_chunks" -> ((s, d) =>
      Curation.contextChunks(docs(s, d)).orderBy("doc_id", "chunk_id")),
    // DSIR-style domain importance weights (target domain = lang 'en')
    "pipeline_dsir" -> ((s, d) => Curation.importanceWeights(docs(s, d)).orderBy("doc_id")),
    // BM25 keyword retrieval over the corpus (fixed query terms so the
    // oracle is a VALUES table)
    "text_bm25" -> ((s, d) =>
      TextAnalysis.bm25Search(docs(s, d), Bm25Query).orderBy("doc_id")),
    // INCREMENTAL text-index maintenance: the BM25 index as three
    // mergeable tables built on two disjoint corpus slices and
    // folded (tf/dl add, stats add; df derived at query time) — the
    // search from the merged standing index must equal text_bm25's
    // query-time scores exactly (same oracle).
    "text_bm25_incr" -> ((s, d) => {
      val dd = docs(s, d)
      val a = TextAnalysis.bm25IndexPartial(dd.filter(col("doc_id") % 10 < 8))
      val b = TextAnalysis.bm25IndexPartial(dd.filter(col("doc_id") % 10 >= 8))
      TextAnalysis.bm25SearchIndex(TextAnalysis.bm25IndexMerge(a, b), Bm25Query)
        .orderBy("doc_id")
    }),
    // deterministic sharded epoch shuffle (training order, epoch 0)
    "pipeline_shuffle" -> ((s, d) =>
      Curation.epochShuffle(docs(s, d)).orderBy("doc_id")),
    // the TRAINING-SHARD SINK under the gate: write the sharded epoch
    // layout to disk (shard=N partitioned parquet — the unit a
    // data-loader worker claims) and read the DIRECTORY back; the
    // gated read path is the on-disk loader layout, not the declared
    // plan (the stream_state_table stance). A stable per-corpus temp
    // dir + overwrite mode keeps repeated passes bounded on disk.
    "pipeline_shards" -> ((s, d) => {
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_shards_" + Integer.toHexString(d.hashCode)).getAbsolutePath
      Curation.writeTrainingShards(docs(s, d), dir)
      s.read.parquet(dir)
        .select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))
        .orderBy("doc_id")
    }),
    // small-files COMPACTION round-trip: documents fragmented into 32
    // KB-sized files (the streaming-ingest pathology), compacted to
    // files sized from the layout's actual bytes, and the compacted
    // table gated on count + an order-independent 48-bit content XOR
    // (file counts/sizes are pinned by PipelineSpec — not SQL facts)
    "pipeline_compact" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_compact_")
      try {
        val frag = root.resolve("frag").toString
        val comp = root.resolve("comp").toString
        docs(s, d).repartition(32).write.mode("overwrite").parquet(frag)
        Curation.compact(s, frag, comp, targetBytes = 256 * 1024)
        val r = s.read.parquet(comp).agg(
          count(lit(1)).as("n_docs"),
          expr("bit_xor(cast(conv(substring(md5(concat(" +
            "cast(doc_id as string), ':', text)), 1, 12), 16, 10) as bigint))")
            .as("content_x")).head()
        import s.implicits._
        Seq((r.getLong(0), r.getLong(1))).toDF("n_docs", "content_x")
      } finally {
        // the result is already materialized driver-side (1 row);
        // no symlinks under root — everything here was written by us
        val w = java.nio.file.Files.walk(root)
        try w.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally w.close()
      }
    }),
    // PARTITION-PRESERVING compaction (OPTIMIZE): a deliberately
    // fragmented date-partitioned layout (8 files per day) is
    // bin-packed per DIRECTORY in one job — layout intact, partition
    // pruning preserved (PipelineSpec pins file counts, sizes, and
    // the per-day prune on the compacted layout). Output proves both
    // content (per-type integer rollup) and layout (day count).
    "pipeline_compact_days" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_compact_days_")
      try {
        val frag = root.resolve("frag").toString
        val comp = root.resolve("comp").toString
        val ev = graft.Tables.events(s, d)
        ev.select(col("event_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"),
            to_date(graft.Tables.eventTime(ev)).as("d"))
          .repartition(8)
          .write.partitionBy("d").mode("overwrite").parquet(frag)
        Curation.compactPartitioned(s, frag, comp, "d", targetBytes = 64 * 1024)
        val out = s.read.parquet(comp)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("cents"),
            countDistinct("d").as("n_days"))
          .orderBy("event_type")
        // materialize before the temp layout is deleted
        val rows = out.collect()
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.toSeq.asJava, out.schema)
      } finally {
        val w = java.nio.file.Files.walk(root)
        try w.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally w.close()
      }
    }),
    // leakage-safe split: whole near-dup clusters land on one side of
    // the train/test fence (split keys on the cluster representative),
    // served from the build-once cluster map
    "pipeline_split_leakfree" -> ((s, d) =>
      Curation.leakFreeSplitFromIndex(docs(s, d), ndIdx(s, d).clusters)
        .orderBy("doc_id")),
    // PII redaction counts + scrubbed text (corpus is PII-free by
    // construction; planted fixtures live in PipelineSpec)
    "text_pii" -> ((s, d) => TextAnalysis.scrubPii(docs(s, d)).orderBy("doc_id")),
    // CCNet-style per-language head/middle/tail terciles of the
    // unigram LM score (exact nearest-rank cutoffs over a histogram)
    "pipeline_ccnet" -> ((s, d) => Curation.ccnetBuckets(docs(s, d)).orderBy("doc_id")),
    // one-glance corpus datasheet card; the near-dup count reads the
    // build-once pair index
    "pipeline_corpus_card" -> ((s, d) =>
      Curation.corpusCard(docs(s, d), ndIdx(s, d).pairs).orderBy("metric")),
    // reciprocal-rank fusion of BM25 and embedding-cosine top-k
    "text_hybrid" -> ((s, d) =>
      TextAnalysis.hybridTopK(docs(s, d), emb(s, d), Bm25Query).orderBy("doc_id")),
    // integer-exact PageRank over the symmetrized ANN pair graph,
    // served from the build-once pair table
    "graph_pagerank" -> ((s, d) =>
      Graph.similarityCentralityFromPairs(emb(s, d), Similarity.annPairsCached(emb(s, d)))
        .orderBy("vec_id")),
    // per-doc top-5 keywords by quantized tf-idf
    "text_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfKeywords(docs(s, d)).orderBy("doc_id", "rank")),
    // Gopher-style rule battery: per-rule 0/1 flags + conjunctive keep
    "text_gopher" -> ((s, d) => TextAnalysis.gopherRules(docs(s, d)).orderBy("doc_id")),
    // per-doc triangle count + clustering coefficient over the
    // near-dup candidate graph (degree-ordered orientation), served
    // from the build-once pair table
    "graph_triangles" -> ((s, d) =>
      Graph.nearDupTrianglesFromPairs(docs(s, d), ndIdx(s, d).pairs)
        .orderBy("doc_id")),
    // per-source KMV distinct-vocabulary sketch (deterministic, k=64)
    "text_kmv" -> ((s, d) => TextAnalysis.kmvDistinct(docs(s, d)).orderBy("source")),
    // semantic near-dup CLUSTERS: connected components over the
    // embedding-cosine pair graph (the clustering tier of the
    // semantic dedup plane, like dedup_components for the text plane)
    "dedup_embedding_components" -> ((s, d) =>
      Dedup.components(
        Dedup.embeddingNearDupsFromPairs(docs(s, d), Similarity.annPairsCached(emb(s, d)))
          .select("doc_a", "doc_b"))
        .orderBy("doc_id")),
    // per-source crawl audit + the anti-spam per-source cap
    "pipeline_source_stats" -> ((s, d) => Curation.sourceStats(docs(s, d)).orderBy("source")),
    "pipeline_source_cap" -> ((s, d) => Curation.sourceCap(docs(s, d)).orderBy("source", "rank")),
    "text_stats" -> ((s, d) => TextAnalysis.tokenStats(docs(s, d)).orderBy("doc_id")),
    // exact nearest-rank length quantiles from the per-(lang, len)
    // histogram — integer predicate, no sketch, no corpus sort
    "text_quantiles" -> ((s, d) => TextAnalysis.lengthQuantiles(docs(s, d)).orderBy("lang")),
    // corpus-unigram LM quality proxy: mean token log-probability
    "text_logprob" -> ((s, d) => TextAnalysis.logProb(docs(s, d)).orderBy("doc_id")),
    // bigram tier with stupid backoff: catches shuffled-token gibberish
    // the unigram score cannot (same multiset, same unigram mean)
    "text_logprob2" -> ((s, d) => TextAnalysis.logProb2(docs(s, d)).orderBy("doc_id")),
    "text_langid" -> ((s, d) => TextAnalysis.langId(docs(s, d)).orderBy("doc_id")),
    "text_quality" -> ((s, d) => TextAnalysis.quality(docs(s, d)).orderBy("doc_id")),
    "text_bpe" -> ((s, d) => TextAnalysis.bpeCounts(docs(s, d)).orderBy("lang")),
    // REAL BPE training: 3 iterations of the merge loop, each argmax a
    // 1-row collect (kmeans pattern); oracle unrolls all 3 iterations
    // in SQL including the greedy-overlap islands rule
    "text_bpe_merges" -> ((s, d) => TextAnalysis.bpeTrain(docs(s, d), 3).orderBy("step")),
    // the trained merges applied back to the corpus: per-doc subword
    // counts, segmentation computed once per DISTINCT word
    "text_bpe_apply" -> ((s, d) => TextAnalysis.bpeApply(docs(s, d), 3).orderBy("doc_id")),
    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(docs(s, d)).orderBy("doc_id")),
    "sim_topk" -> ((s, d) => Similarity.bruteTopK(emb(s, d), 0L to 9L, 5).orderBy("probe_id", "rank")),
    // the DEFAULT name serves the corpus-sized (adaptive-width) plan
    // (round 15 — the r14 verdict's naming inversion: the undecorated
    // name used to serve the fixed-width control, whose recall
    // collapses at 100× corpora while its records curve stays flat —
    // SCALE_r14_x100c measured it finding ~6% of the adaptive pair
    // volume at the 100× rung. Defaults must be safe; the control is
    // now explicit at _fixed). Signature width grows with n so bucket
    // occupancy (hence candidate volume) stays linear at any scale; at
    // gate scale the params degenerate to the fixed ones, so the same
    // static-width oracle gates all three names (adaptivity
    // spec-pinned + ladder-measured — see Similarity.adaptiveLshParams)
    "sim_ann_pairs" -> ((s, d) =>
      Similarity.annPairsAdaptive(emb(s, d)).orderBy("id_a", "id_b")),
    // stable alias of the adaptive plan (pre-r15 artifact/baseline
    // continuity — BenchDiff fails loud on missing baseline queries)
    "sim_ann_pairs_adaptive" -> ((s, d) =>
      Similarity.annPairsAdaptive(emb(s, d)).orderBy("id_a", "id_b")),
    // the FIXED-WIDTH CONTROL: kept as the ladder's contrast arm — at
    // scale its bucket occupancy grows with n until the skew cap
    // truncates recall. Never the production path.
    "sim_ann_pairs_fixed" -> ((s, d) =>
      Similarity.annPairs(emb(s, d)).orderBy("id_a", "id_b")),
    // RECALL AUDIT of the adaptive default (round 16 — the lshRecall
    // pattern on the hyperplane family): sampled same-hash-bucket
    // pairs, exact quantized cosine, caught = annPairsAdaptive's own
    // banding at the same adaptive width; deciled capture vs the
    // sign-agreement model. At gate scale the width degenerates like
    // sim_ann_pairs', so the static-width oracle is exact
    "sim_ann_recall" -> ((s, d) =>
      Similarity.annRecall(emb(s, d)).orderBy("decile")),
    // threshold range search: no window, pure map+filter over the scan
    "sim_range" -> ((s, d) =>
      Similarity.rangeSearch(emb(s, d), 0L to 9L).orderBy("probe_id", "neighbor_id")),
    // PQ-compressed ANN: codes + per-probe lookup tables — the corpus
    // scan touches no raw vector (the 100 TB in-RAM index shape)
    "sim_pq_topk" -> ((s, d) => Similarity.pqTopK(emb(s, d), 0L to 9L, 5).orderBy("probe_id", "rank")),
    "sim_ivf_topk" -> ((s, d) => Similarity.ivfTopK(emb(s, d), 0L to 9L, 5).orderBy("probe_id", "rank")),
    // recall@5 of the cell-routed IVF path vs exact brute force
    "sim_ivf_recall" -> ((s, d) => Similarity.ivfRecall(emb(s, d), 0L to 9L, 5).orderBy("probe_id")),
    // top-5 cross-label near-misses per probe (contrastive mining)
    "sim_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(emb(s, d), 0L to 9L, 5).orderBy("probe_id", "rank")),
    "sim_ivf_kmeans" -> ((s, d) => Similarity.ivfTopKKmeans(emb(s, d), 0L to 9L, 5).orderBy("probe_id", "rank")),
    // k-means IVF serve path: multi-probe top-k against the session-
    // cached assignment + centroid artifact (Lloyd runs once per
    // corpus); sim_ivf_kmeans keeps the train-inline build its
    // unrolled oracle replays
    "sim_ivf_serve" -> ((s, d) => {
      val (assign, cent) = Similarity.ivfKmeansIndexCached(emb(s, d))
      Similarity.ivfTopKNprobe(assign, cent, 0L to 9L, 5, Similarity.KmeansNprobe)
        .orderBy("probe_id", "rank")
    }),
    // IVF x PQ composition: kmeans cells route probes, PQ codes score
    // candidates — the scan touches only probed cells and no raw vector
    "sim_ivfpq_topk" -> ((s, d) => Similarity.ivfPqTopK(emb(s, d), 0L to 9L, 5).orderBy("probe_id", "rank")),
    // serve-path variants: same top-k against the SESSION-CACHED index
    // (build once per corpus, query many) — the production query shape;
    // sim_pq_topk/sim_ivfpq_topk above keep the train-inline build that
    // the unrolled SQL oracle replays bit-for-bit. Results are
    // identical (deterministic build), so they share that oracle.
    "sim_pq_serve" -> ((s, d) => {
      val (cb, codes) = Similarity.pqIndexCached(emb(s, d))
      Similarity.pqTopKFromIndex(emb(s, d), cb, codes, 0L to 9L, 5)
        .orderBy("probe_id", "rank")
    }),
    "sim_ivfpq_serve" -> ((s, d) => {
      val (cent, cb, ccodes) = Similarity.ivfPqIndexCached(emb(s, d))
      Similarity.ivfPqTopKFromIndex(emb(s, d), cent, cb, ccodes, 0L to 9L, 5)
        .orderBy("probe_id", "rank")
    }),
    // the 100 TB serve shape: the code table persisted partitionBy(cell)
    // (LayoutStore) and the probe reading ONLY its routed cells' dirs —
    // partition pruning on the ANN index itself; identical scoring, so
    // it shares the ivfpq oracle (PipelineSpec pins the pruned scan)
    "sim_ivfpq_pruned" -> ((s, d) => {
      Similarity.ivfPqTopKPruned(emb(s, d), d, 0L to 9L, 5)
        .orderBy("probe_id", "rank")
    }),
    "sim_centroids" -> ((s, d) => Similarity.labelCentroids(emb(s, d)).orderBy("label", "pos")),
    // incremental IVF ingest: the last 100 vectors assigned against
    // the quantizer trained on the first 400 only — the no-retrain
    // append path (frozen centroids ride the cached base index)
    "sim_ivf_append" -> ((s, d) =>
      Similarity.ivfAppendAssign(emb(s, d), 400L).orderBy("vec_id")),
    // the append path's drift audit: per-cell base vs batch occupancy
    // (integer basis points) — the evidence that triggers a quantizer
    // re-train
    "sim_ivf_drift" -> ((s, d) =>
      Similarity.ivfAppendDrift(emb(s, d), 400L).orderBy("cell")),
    // ADC quantization-error audit: ADC vs exact cosine per probe over
    // the whole corpus, 1e-6-quantized errors (the code-budget sizing
    // knob; serves from the cached PQ index)
    "sim_pq_err" -> ((s, d) =>
      Similarity.pqAdcErrors(emb(s, d), 0L to 9L).orderBy("probe_id")),
    // SEMANTIC dedup (SemDeDup): within-cell epsilon-ball marking over
    // the build-once k-means assignment — pairwise cosine among cell
    // members only; drop iff a smaller-id in-cell neighbor sits at
    // cos >= 0.3 (the deterministic, engine-replayable tiebreak)
    "dedup_semantic" -> ((s, d) =>
      Similarity.semanticDedup(emb(s, d)).orderBy("vec_id")),
    "mm_kind_stats" -> ((s, d) => Multimodal.kindStats(docs(s, d)).orderBy("kind")),
    // Decode path: kind=image tries the REAL javax.imageio codec; the
    // synthetic payloads here are text bytes (no image header), so
    // every row deterministically falls back to the stand-in byte
    // histogram the oracle mirrors. Real-PNG decoding through the same
    // seam is covered by MultimodalSpec.
    "mm_features" -> ((s, d) =>
      Multimodal.featureRows(Multimodal.mediaTable(docs(s, d)))
        .orderBy("media_id", "feature_pos")),
    // Full-content verification of the nearest-neighbor resize kernel:
    // the oracle recomputes every resized byte (src index arithmetic
    // over the hex-decoded payload) and compares per-media checksums.
    "mm_resize" -> ((s, d) => {
      import s.implicits._
      Multimodal.resize(Multimodal.mediaTable(docs(s, d)), 16, 12)
        .map(m => (m.media_id, m.kind, m.n_bytes, m.payload.map(b => (b & 0xff).toLong).sum))
        .toDF("media_id", "kind", "n_bytes", "byte_sum")
        .orderBy("media_id")
    }),
    // REAL-codec correctness row: committed PNG fixtures decoded by
    // javax.imageio vs an ANALYTIC golden (DuckDB can't decode PNG, so
    // the oracle is a VALUES table derived on paper — see PngFixtures).
    // Independent of sfDir by design: the fixtures are the input.
    "mm_decode" -> ((s, _) =>
      PngFixtures.decodeQuery(s).orderBy("media_id", "feature_pos")),
    // REAL-audio-codec correctness row: committed WAV fixtures decoded
    // by javax.sound.sampled vs an ANALYTIC amplitude-histogram golden
    // (DuckDB can't decode WAV — see WavFixtures). NO stub fallback.
    "mm_audio" -> ((s, _) =>
      WavFixtures.decodeQuery(s).orderBy("media_id", "feature_pos")),
    // Perceptual image fingerprint (aHash) over the committed PNGs —
    // real decode + exact-integer resample/threshold vs the on-paper
    // golden hashes (see PngFixtures.phashGolden).
    "mm_phash" -> ((s, _) => PngFixtures.phashQuery(s).orderBy("media_id")),
    // Audio envelope fingerprint over the committed WAVs — real decode
    // + integer frame means + sign-of-derivative bits (see
    // WavFixtures.aphashGolden).
    "mm_aphash" -> ((s, _) => WavFixtures.aphashQuery(s).orderBy("media_id")),
    // REAL-video-decode correctness rows (round 12, last stub closed):
    // committed uncompressed Y4M fixtures parsed by the hand-written
    // YUV4MPEG2 container reader vs ANALYTIC luma goldens (DuckDB
    // can't decode Y4M — see Y4mFixtures). NO stub fallback.
    "mm_video" -> ((s, _) =>
      Y4mFixtures.decodeQuery(s).orderBy("media_id", "feature_pos")),
    // Per-frame integer mean luma over the same fixtures — the
    // temporal frame-sampling shape on the real parse.
    "mm_video_frames" -> ((s, _) =>
      Y4mFixtures.framesQuery(s).orderBy("media_id", "frame_no")),
    // Cross-codec dispatch under the gate: all three real-codec
    // fixture sets through ONE extractFeatures pass (see
    // MediaFixtures — the per-codec rows prove each branch, this row
    // proves the production seam's kind dispatch).
    "mm_features_real" -> ((s, _) =>
      MediaFixtures.featuresQuery(s).orderBy("media_id", "feature_pos")),
    // Frame sampling: per-video frame count + checksum of each frame's
    // lead byte — pins the slice geometry (stride, offset) exactly.
    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.mediaTable(docs(s, d)))
        .select(col("media_id"), col("frame_no"),
          conv(hex(substring(col("frame"), 1, 1)), 16, 10).cast("long").as("first_byte"))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"), sum("first_byte").as("first_byte_sum"))
        .orderBy("media_id")),
  )

  // ---- shared SQL fragments (DuckDB dialect) ----

  /** DuckDB mirror of [[TextAnalysis.bpeTrain]]: `iters` unrolled
    * merge iterations (the sim_ivf_kmeans oracle pattern — SQL can't
    * loop, so each driver-side argmax becomes a LIMIT-1 CTE). */
  private def bpeMergesSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""SELECT $i AS step, (SELECT l FROM b$i) AS left_sym, (SELECT r FROM b$i) AS right_sym,
         |       (SELECT cnt FROM b$i) AS pair_n,
         |       (SELECT CAST(SUM(freq) AS BIGINT) FROM s$i) AS n_symbols_after""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeLoopCtes(iters)}
       |SELECT * FROM ($steps) ORDER BY step""".stripMargin
  }

  /** [[TextAnalysis.bpeApply]]: per-word subword counts from the final
    * symbol table s`iters`, joined back to the exploded corpus. */
  private def bpeApplySql(iters: Int): String =
    s"""WITH ${bpeLoopCtes(iters)},
       |wl AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sub
       |       FROM s$iters GROUP BY word),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(wl.n_sub) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id, word FROM dw WHERE length(word) > 0) d
       |JOIN wl USING (word)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** The unrolled merge-loop CTEs shared by [[bpeMergesSql]] and
    * [[bpeApplySql]]: w0/s0 then p/b/m/i/k/s blocks per iteration,
    * ending in the final symbol table s`iters`. */
  private def bpeLoopCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS (SELECT word, freq, pos, s,
         |         lead(s) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM $prev),
         |b$i AS (SELECT s AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS cnt
         |        FROM p$i WHERE nxt IS NOT NULL GROUP BY 1, 2
         |        ORDER BY cnt DESC, l, r LIMIT 1),
         |m$i AS (SELECT word, freq, pos, s, nxt,
         |               (s = (SELECT l FROM b$i) AND nxt = (SELECT r FROM b$i)) AS m
         |        FROM p$i),
         |i$i AS (SELECT *, CASE WHEN m THEN
         |                 pos - ROW_NUMBER() OVER (PARTITION BY word, m ORDER BY pos)
         |               END AS isl FROM m$i),
         |k$i AS (SELECT *, m AND ((pos - MIN(pos) OVER (PARTITION BY word, isl)) % 2 = 0)
         |                 AS kept FROM i$i),
         |s$i AS (SELECT word, freq,
         |               ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |               CASE WHEN kept THEN s || nxt ELSE s END AS s
         |        FROM (SELECT *, lag(kept) OVER (PARTITION BY word ORDER BY pos) AS prev_kept
         |              FROM k$i)
         |        WHERE NOT coalesce(prev_kept, false))""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |s0 AS (
       |  SELECT word, freq, CAST(pos AS BIGINT) AS pos, s
       |  FROM (SELECT word, freq, unnest(string_split(word, '')) AS s,
       |               generate_subscripts(string_split(word, ''), 1) AS pos
       |        FROM w0)),
       |$iterCtes""".stripMargin
  }

  private val TOKS = "SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents"

  private def shinglesSql(k: Int): String = shinglesSqlFrom(k, "documents")

  /** POSITIONAL k-gram shingles (doc_id, pos, shingle), 1-based —
    * [[TextAnalysis.shingles]]' exact shape (no distinct: positions
    * matter). */
  private def positionalShinglesSql(k: Int): String =
    s"""SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |       array_to_string(toks[pos:pos+${k - 1}], ' ') AS shingle
       |FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - ${k - 2})) AS pos
       |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |      WHERE len(toks) >= $k)""".stripMargin

  /** Winnowed fingerprint set (doc_id, fp) — keep in sync with
    * TextAnalysis.winnowFingerprints: md5 per positional k-gram,
    * length-w rows-frame min, full windows only, distinct. */
  private def winnowFpsSql(k: Int, w: Int): String =
    s"""SELECT DISTINCT doc_id, fp FROM (
       |  SELECT doc_id, pos, n_pos,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp
       |  FROM (SELECT doc_id, pos, md5(shingle) AS h,
       |               count(*) OVER (PARTITION BY doc_id) AS n_pos
       |        FROM (${positionalShinglesSql(k)})))
       |WHERE pos <= n_pos - ${w - 1}""".stripMargin

  /** Distinct k-gram shingles of any (doc_id, text) relation. */
  private def shinglesSqlFrom(k: Int, rel: String): String =
    s"""SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, array_to_string(toks[pos:pos+${k - 1}], ' ') AS shingle
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - ${k - 2})) AS pos
       |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM $rel)
       |        WHERE len(toks) >= $k))""".stripMargin

  private val QV =
    """SELECT vec_id, label,
      |       list_transform(embedding,
      |         x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      |FROM embeddings""".stripMargin

  private val QV2 =
    s"""SELECT vec_id, label, q,
       |       CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
       |FROM ($QV)""".stripMargin

  private def planeSql(j: Int): String =
    s"((pos * ${j + 3} * 2654435761) % 2000001 - 1000000)"

  /** Quantized power iteration unrolled — keep in sync with
    * Similarity.pcaTop (scatter matrix, 1e6 range normalization,
    * per-round L∞ renormalization to ±1e4, truncation-toward-zero
    * sign-split so // matches Spark's div on negatives). */
  /** One quantized power-iteration chain over matrix CTE `mat`,
    * seeding from v0; CTE names prefixed with `pfx` (empty prefix
    * reproduces the original emb_pca names). */
  private def pcaIterCtes(mat: String, pfx: String, iters: Int): String =
    (1 to iters).map { t =>
      val pv = if (t == 1) "v0" else s"${pfx}v${t - 1}"
      s"""${pfx}u$t AS MATERIALIZED (SELECT $mat.j, CAST(sum($mat.m * $pv.v) AS BIGINT) AS u
         |        FROM $mat JOIN $pv ON $pv.k = $mat.k GROUP BY $mat.j),
         |${pfx}s$t AS MATERIALIZED (SELECT greatest(1, max(abs(u)) // 10000) AS st FROM ${pfx}u$t),
         |${pfx}v$t AS MATERIALIZED (SELECT j AS k,
         |               CASE WHEN u >= 0 THEN u // st ELSE -((-u) // st) END AS v
         |        FROM ${pfx}u$t, ${pfx}s$t)""".stripMargin
    }.mkString(",\n")

  private def pcaCtes(iters: Int): String = {
    val iterCtes = pcaIterCtes("mm", "", iters)
    s"""qv AS MATERIALIZED ($QV),
       |pe AS MATERIALIZED (SELECT vec_id, generate_subscripts(q, 1) - 1 AS j, unnest(q) AS qj FROM qv),
       |sq AS MATERIALIZED (SELECT j, CAST(sum(qj) AS BIGINT) AS s FROM pe GROUP BY j),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM qv),
       |gg AS MATERIALIZED (SELECT a.j AS j, b.j AS k, CAST(sum(a.qj * b.qj) AS BIGINT) AS sqq
       |       FROM pe a JOIN pe b ON a.vec_id = b.vec_id GROUP BY a.j, b.j),
       |m0 AS MATERIALIZED (SELECT gg.j, gg.k, nn.n * gg.sqq - sa.s * sb.s AS m
       |       FROM gg, nn, sq sa, sq sb WHERE sa.j = gg.j AND sb.j = gg.k),
       |msc AS MATERIALIZED (SELECT greatest(1, max(abs(m)) // 1000000) AS sc FROM m0),
       |mm AS MATERIALIZED (SELECT j, k, CASE WHEN m >= 0 THEN m // sc ELSE -((-m) // sc) END AS m
       |       FROM m0, msc),
       |v0 AS MATERIALIZED (SELECT j AS k, CAST(10000 AS BIGINT) AS v FROM sq),
       |$iterCtes""".stripMargin
  }

  private def pcaOracleSql(iters: Int): String =
    s"""WITH ${pcaCtes(iters)}
       |SELECT CAST(k AS BIGINT) AS dim, CAST(v AS BIGINT) AS v
       |FROM v$iters ORDER BY dim""".stripMargin

  /** Hotelling deflation unrolled over the pcaCtes chain — keep in
    * sync with Similarity.pcaTop2 (integer Rayleigh quotient, outer
    * product rescaled by v_max² = 1e8, sign-split truncation). */
  private def pca2OracleSql(iters: Int): String =
    s"""WITH ${pcaCtes(iters)},
       |w1 AS MATERIALIZED (SELECT mm.j, CAST(sum(mm.m * v.v) AS BIGINT) AS u
       |       FROM mm JOIN v$iters v ON v.k = mm.k GROUP BY mm.j),
       |ld AS MATERIALIZED (SELECT CAST(sum(v.v * w1.u) AS BIGINT) AS num,
       |              CAST(sum(v.v * v.v) AS BIGINT) AS den
       |       FROM w1 JOIN v$iters v ON v.k = w1.j),
       |lam AS MATERIALIZED (SELECT CASE WHEN num >= 0 THEN num // den
       |                    ELSE -((-num) // den) END AS lam FROM ld),
       |mm2 AS MATERIALIZED (SELECT mm.j, mm.k,
       |               mm.m - (CASE WHEN lam.lam * vj.v * vk.v >= 0
       |                            THEN (lam.lam * vj.v * vk.v) // 100000000
       |                            ELSE -((-(lam.lam * vj.v * vk.v)) // 100000000)
       |                       END) AS m
       |        FROM mm
       |        JOIN v$iters vj ON vj.k = mm.j
       |        JOIN v$iters vk ON vk.k = mm.k, lam),
       |${pcaIterCtes("mm2", "b", iters)}
       |SELECT CAST(k AS BIGINT) AS dim, CAST(v AS BIGINT) AS v
       |FROM bv$iters ORDER BY dim""".stripMargin

  /** LSH-bucketed cosine pair CTEs ending in `pairs(id_a, id_b,
    * cos_sim)` — semantics of [[Similarity.annPairs]] (NumFamilies
    * independent hyperplane families OR'd, buckets over MaxBandBucket
    * docs leave candidate generation); shared by sim_ann_pairs and
    * dedup_embedding. Keep in sync with Similarity.annPairs. */
  /** BM25 scoring CTE chain ending in `bm(doc_id, n_hits, score)` —
    * semantics of [[TextAnalysis.bm25Search]] (k1=1.2, b=0.75, Lucene
    * idf, per-term contributions summed as 1e4-scaled longs); shared
    * by text_bm25 and text_hybrid. */
  private def bm25Ctes: String = {
    val terms = Bm25Query.map(w => s"('$w')").mkString(", ")
    s"""q(word) AS (VALUES $terms),
       |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |tf AS (SELECT word, doc_id, count(*) AS tf FROM tk JOIN q USING (word) GROUP BY 1, 2),
       |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |n AS (SELECT count(*) AS n,
       |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toktotal
       |      FROM documents),
       |bm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       |              round(CAST(sum(CAST(round(
       |                  ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
       |                  * tf.tf * (1.2 + 1.0)
       |                  / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
       |                                    / (CAST(n.toktotal AS DOUBLE) / n.n)))
       |                * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS score
       |       FROM tf JOIN df USING (word) JOIN dl USING (doc_id), n
       |       GROUP BY doc_id)""".stripMargin
  }

  /** 48-bit value of the first 12 hex chars of `hexCol` — exact in
    * BIGINT, identical to Spark's conv(substring(hexCol, 1, 12), 16,
    * 10); the [[packCoreSql]] nibble sum over an arbitrary column. */
  private def hex48Sql(hexCol: String): String =
    (0 until 12)
      .map(i => s"(strpos('0123456789abcdef', substring($hexCol, ${i + 1}, 1)) - 1)"
        + s" * ${1L << (4 * (11 - i))}")
      .mkString("(", " + ", ")")

  /** 32-bit value of the first 8 hex chars of `hexCol` — the
    * [[hex48Sql]] nibble sum at the width prioritySample's
    * overflow-safe priority arithmetic uses. */
  private def hex32Sql(hexCol: String): String =
    (0 until 8)
      .map(i => s"(strpos('0123456789abcdef', substring($hexCol, ${i + 1}, 1)) - 1)"
        + s" * ${1L << (4 * (7 - i))}")
      .mkString("(", " + ", ")")

  /** Signature + bucket-cap CTE chain ending in `fams(vec_id, fam,
    * sig)` — the static-width hyperplane banding shared by the ANN
    * pair oracle and the recall-audit oracle. */
  private def annSigCtes: String = {
    val totalPlanes = Similarity.NumFamilies * Similarity.NumPlanes
    val dSums = (0 until totalPlanes)
      .map(p => s"SUM(qi * ${planeSql(p)}) AS d$p").mkString(",\n    ")
    val famSelects = (0 until Similarity.NumFamilies).map { f =>
      val bits = (0 until Similarity.NumPlanes)
        .map(j => s"CASE WHEN d${f * Similarity.NumPlanes + j} >= 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"SELECT vec_id, $f AS fam, $bits AS sig FROM ds"
    }.mkString("\n    UNION ALL ")
    s"""qv AS ($QV2),
       |pe AS (SELECT vec_id, unnest(q) AS qi, generate_subscripts(q, 1) AS pos FROM qv),
       |ds AS (SELECT vec_id,
       |    $dSums
       |  FROM pe GROUP BY vec_id),
       |fams AS (
       |  SELECT vec_id, fam, sig FROM (
       |    SELECT *, count(*) OVER (PARTITION BY fam, sig) AS bucket_n
       |    FROM ($famSelects))
       |  WHERE bucket_n <= ${Dedup.MaxBandBucket})""".stripMargin
  }

  private def annPairsCtes(threshold: Double): String = {
    s"""WITH $annSigCtes,
       |wb AS (SELECT f.fam, f.sig, v.vec_id,
       |              list_transform(v.q, x -> CAST(x AS DOUBLE)) AS q, v.n2
       |       FROM fams f JOIN qv v USING (vec_id)),
       |dots AS (
       |  -- quantized values are < 2^53: double dot product is exact;
       |  -- DISTINCT dedups the OR of families (same exact dot per pair)
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |         list_dot_product(a.q, b.q) AS dot, a.n2 AS n2a, b.n2 AS n2b
       |  FROM wb a JOIN wb b
       |    ON a.fam = b.fam AND a.sig = b.sig AND a.vec_id < b.vec_id),
       |pairs AS (
       |  SELECT id_a, id_b,
       |         round(dot / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))), 6) AS cos_sim
       |  FROM dots
       |  WHERE dot / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) >= $threshold)""".stripMargin
  }

  /** Recall-audit oracle for [[Similarity.annRecall]] at the
    * static gate-scale width: sampled same-hash-bucket pairs with
    * exact quantized cosine, caught via the capped banding's candidate
    * set (no threshold — candidate recall IS served recall, the verify
    * filter being exact). `theory_t` embeds the SAME Scala-computed
    * literals the Spark plan attaches ([[Similarity.annRecallTheory]]).
    * Keep the sampling spelling in sync with lshRecallOracleSql's. */
  private def annRecallOracleSql: String = {
    val theoryVals = Similarity
      .annRecallTheory(Similarity.NumPlanes, Similarity.NumFamilies)
      .map { case (d, v) => s"($d, CAST($v AS DOUBLE))" }.mkString(", ")
    s"""WITH $annSigCtes,
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM fams a JOIN fams b
       |           ON a.fam = b.fam AND a.sig = b.sig AND a.vec_id < b.vec_id),
       |nbk AS (SELECT greatest(16, count(*) // 32) AS b FROM embeddings),
       |pbt AS (SELECT vec_id, ${hex48Sql("hx")} % (SELECT b FROM nbk) AS pb
       |        FROM (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS hx FROM embeddings)),
       |qd AS (SELECT q.vec_id, list_transform(q.q, x -> CAST(x AS DOUBLE)) AS qdd,
       |              q.n2, p.pb
       |       FROM qv q JOIN pbt p USING (vec_id)),
       |sp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |              list_dot_product(a.qdd, b.qdd)
       |                / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
       |       FROM qd a JOIN qd b ON a.pb = b.pb AND a.vec_id < b.vec_id),
       |sc AS (SELECT CAST(greatest(0, least(9, CAST(floor(cos * 10) AS BIGINT)))
       |                AS INTEGER) AS decile,
       |              CASE WHEN EXISTS (SELECT 1 FROM cand c
       |                                WHERE c.id_a = sp.id_a AND c.id_b = sp.id_b)
       |                   THEN 1 ELSE 0 END AS caught
       |       FROM sp),
       |g AS (SELECT decile, count(*) AS n_pairs, sum(caught) AS n_caught
       |      FROM sc GROUP BY decile),
       |theory_t(decile, theory) AS (VALUES $theoryVals)
       |SELECT g.decile, CAST(n_pairs AS BIGINT) AS n_pairs,
       |       CAST(n_caught AS BIGINT) AS n_caught,
       |       CAST(n_caught * 10000 // n_pairs AS BIGINT) AS capture_bp,
       |       t.theory
       |FROM g JOIN theory_t t ON t.decile = g.decile
       |ORDER BY g.decile""".stripMargin
  }

  /** The sequence-pack core over a `cnt(doc_id, n_tokens)` CTE:
    * derived bucket count, 48-bit md5 bucket hash, per-bucket running
    * offsets, floor-division chunk spans — semantics of
    * [[Curation.packSequencesBy]]. */
  /** The pack CTE chain ending in `o(doc_id, n_tokens, bucket, off)` —
    * shared by the per-doc layout queries and the efficiency audit. */
  private def packBaseCtes(cntCtes: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    // Horner-free 48-bit value: sum of nibble * 16^(11-i) — exact in
    // BIGINT, identical to Spark's conv(substring(md5, 1, 12), 16, 10)
    val hash48 = (0 until 12)
      .map(i => s"${nib(i + 1)} * ${1L << (4 * (11 - i))}")
      .mkString("(", " + ", ")")
    s"""WITH $cntCtes,
       |nb AS (SELECT greatest(16, CAST(sum(n_tokens) AS BIGINT)
       |                           // ${Curation.TargetTokensPerBucket}) AS n
       |       FROM cnt),
       |t AS (SELECT doc_id, n_tokens,
       |             $hash48 % (SELECT n FROM nb) AS bucket
       |      FROM cnt),
       |o AS (
       |  SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM t)""".stripMargin
  }

  private def packCoreSql(cntCtes: String): String =
    s"""${packBaseCtes(cntCtes)}
       |SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
       |       CAST(off AS BIGINT) AS offset_in_bucket,
       |       CAST(off // 256 AS BIGINT) AS first_pack,
       |       CAST((off + n_tokens - 1) // 256 AS BIGINT) AS last_pack
       |FROM o ORDER BY doc_id""".stripMargin

  /** Per-doc quality CTE `q(doc_id, source, n_tokens, quality)` —
    * [[TextAnalysis.quality]]'s arithmetic with the source column
    * carried through; shared by the pipeline_source_* oracles. */
  private def docQualityCte: String = {
    val enStop = TextAnalysis.stopwords.filter(_._1 == "en").map(w => s"'${w._2}'").mkString(", ")
    s"""q AS (
       |  SELECT doc_id, source,
       |         CAST(len(tk) AS BIGINT) AS n_tokens,
       |         round(least(1.0,
       |           0.5 * least(CAST(len(tk) AS DOUBLE) / 50.0, 1.0) +
       |           0.5 * least(CAST(len(list_filter(tk, t -> t IN ($enStop))) AS DOUBLE) * 4.0
       |                       / len(tk), 1.0)), 4) AS quality
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents))""".stripMargin
  }

  /** Positional-shingle span CTEs ending in `spans(doc_a, doc_b,
    * start_a, start_b, len_tokens)` — semantics of [[Dedup.spanPairs]]
    * (df = DISTINCT docs per shingle; diagonal gaps-and-islands).
    * Shared by dedup_spans and dedup_spans_clean. */
  private def spanCtes(k: Int, minRun: Int): String =
    s"""sh AS (${positionalShinglesSql(k)}),
       |cap AS (SELECT shingle FROM (
       |          SELECT shingle, count(DISTINCT doc_id) AS df
       |          FROM sh GROUP BY shingle)
       |        WHERE df > ${Dedup.MaxShingleDf}),
       |kept AS (SELECT sh.* FROM sh
       |         WHERE shingle NOT IN (SELECT shingle FROM cap)),
       |hits AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
       |         a.pos - b.pos AS diag
       |  FROM kept a JOIN kept b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |isl AS (
       |  SELECT *, pos_a - row_number()
       |              OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
       |  FROM hits),
       |spans AS (
       |  SELECT doc_a, doc_b,
       |         CAST(min(pos_a) AS BIGINT) AS start_a,
       |         CAST(min(pos_a) - diag AS BIGINT) AS start_b,
       |         CAST(count(*) + ${k - 1} AS BIGINT) AS len_tokens
       |  FROM isl GROUP BY doc_a, doc_b, diag, isl
       |  HAVING count(*) + ${k - 1} >= $minRun)""".stripMargin

  /** Incremental-span CTEs — semantics of
    * [[Dedup.spanPairsIncremental]]: base/batch split of the
    * positional shingles, df blacklist over BASE distinct docs,
    * batch-vs-base hits, same islands machinery. */
  private def spanIncrCtes(k: Int, minRun: Int): String =
    s"""sh AS (${positionalShinglesSql(k)}),
       |shb AS (SELECT * FROM sh WHERE doc_id % 5 <> 4),
       |shn AS (SELECT * FROM sh WHERE doc_id % 5 = 4),
       |cap AS (SELECT shingle FROM (
       |          SELECT shingle, count(DISTINCT doc_id) AS df
       |          FROM shb GROUP BY shingle)
       |        WHERE df > ${Dedup.MaxShingleDf}),
       |kb AS (SELECT shb.* FROM shb
       |       WHERE shingle NOT IN (SELECT shingle FROM cap)),
       |kn AS (SELECT shn.* FROM shn
       |       WHERE shingle NOT IN (SELECT shingle FROM cap)),
       |hits AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
       |         a.pos - b.pos AS diag
       |  FROM kn a JOIN kb b ON a.shingle = b.shingle),
       |isl AS (
       |  SELECT *, pos_a - row_number()
       |              OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
       |  FROM hits),
       |spans AS (
       |  SELECT doc_a, doc_b,
       |         CAST(min(pos_a) AS BIGINT) AS start_a,
       |         CAST(min(pos_a) - diag AS BIGINT) AS start_b,
       |         CAST(count(*) + ${k - 1} AS BIGINT) AS len_tokens
       |  FROM isl GROUP BY doc_a, doc_b, diag, isl
       |  HAVING count(*) + ${k - 1} >= $minRun)""".stripMargin

  /** Unrolled fixed-iteration spherical k-means CTEs — semantics of
    * [[Similarity.kmeansCentroids]] (seeded md5 init, integer centroid
    * sums, score DESC / cell ASC argmax) — ending in `cent2` (the
    * trained centroids) and `asg` (every vector's final cell,
    * carrying qd/q/n2). Assumes a preceding `qv` CTE ($QV2); shared by
    * sim_ivf_kmeans and sim_ivfpq_topk. */
  private def kmeansCtes: String = {
    def assign(centTbl: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, cell, qd, q, n2 FROM (
         |    SELECT v.vec_id, c.cell, v.qd, v.q, v.n2,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY list_dot_product(v.qd, c.cv) / sqrt(CAST(c.cn2 AS DOUBLE)) DESC,
         |                      c.cell) AS rn
         |    FROM qd v CROSS JOIN $centTbl c)
         |  WHERE rn = 1)""".stripMargin
    def update(assignTbl: String, out: String) =
      s"""${out}_c AS (
         |  SELECT cell, pos, CAST(SUM(qi) AS BIGINT) AS c
         |  FROM (SELECT cell, unnest(q) AS qi, generate_subscripts(q, 1) AS pos FROM $assignTbl)
         |  GROUP BY cell, pos),
         |$out AS (
         |  SELECT cell, list(CAST(c AS DOUBLE) ORDER BY pos) AS cv,
         |         CAST(SUM(c * c) AS BIGINT) AS cn2
         |  FROM ${out}_c GROUP BY cell)""".stripMargin
    s"""qd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) AS qd, q, n2 FROM qv),
       |seeds AS (
       |  SELECT vec_id AS cell, list_transform(q, x -> CAST(x AS DOUBLE)) AS cv, n2 AS cn2
       |  FROM qv ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${Similarity.KmeansK}),
       |${assign("seeds", "a1")},
       |${update("a1", "cent1")},
       |${assign("cent1", "a2")},
       |${update("a2", "cent2")},
       |${assign("cent2", "asg")}""".stripMargin
  }

  /** DuckDB slice of subspace m out of a quantized vector column. */
  private def pqSlice(v: String): String =
    s"list_slice($v, m * ${Similarity.PqSubDim} + 1, m * ${Similarity.PqSubDim} + ${Similarity.PqSubDim})"

  /** Lloyd-refined PQ codebook CTEs — semantics of
    * [[Similarity.pqCodebook]]: seed sample init, then `iters`
    * per-subspace k-means passes (exact-long L2 argmin assignment,
    * component mean snapped to long via round(sum/count) — the double
    * division of two exact integers rounds identically in any
    * engine). Ends in `pqcb{iters}` (m, code, cq, cn2) and `pqsub`
    * (vec_id, m, sq double-list, sqi long-list). Assumes `qv`;
    * shared by sim_pq_topk and sim_ivfpq_topk. */
  private def pqCbCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""pqa$i AS (
         |  SELECT m, code, sqi FROM (
         |    SELECT s.m, c.code, s.sqi,
         |           row_number() OVER (PARTITION BY s.vec_id, s.m
         |             ORDER BY c.cn2 - 2 * CAST(list_dot_product(s.sq, c.cq) AS BIGINT),
         |                      c.code) AS rn
         |    FROM pqsub s JOIN pqcb${i - 1} c USING (m))
         |  WHERE rn = 1),
         |pqu$i AS (
         |  SELECT m, code, pos, CAST(round(SUM(qi) / COUNT(*)) AS BIGINT) AS c
         |  FROM (SELECT m, code, unnest(sqi) AS qi, generate_subscripts(sqi, 1) AS pos
         |        FROM pqa$i)
         |  GROUP BY m, code, pos),
         |pqcb$i AS (
         |  SELECT m, code, list(CAST(c AS DOUBLE) ORDER BY pos) AS cq,
         |         CAST(SUM(c * c) AS BIGINT) AS cn2
         |  FROM pqu$i GROUP BY m, code)""".stripMargin
    }.mkString(",\n")
    s"""ms AS (SELECT unnest(range(0, ${Similarity.PqM})) AS m),
       |pqseed AS (SELECT vec_id AS code, q FROM qv
       |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT ${Similarity.PqK}),
       |pqcb0 AS (SELECT m, code,
       |                 list_transform(${pqSlice("q")}, x -> CAST(x AS DOUBLE)) AS cq,
       |                 CAST(list_sum(list_transform(${pqSlice("q")}, x -> x * x)) AS BIGINT) AS cn2
       |          FROM pqseed, ms),
       |pqsub AS (SELECT vec_id, m,
       |                 list_transform(${pqSlice("q")}, x -> CAST(x AS DOUBLE)) AS sq,
       |                 ${pqSlice("q")} AS sqi
       |          FROM qv, ms)${if (iters > 0) ",\n" + iterCtes else ""}""".stripMargin
  }

  /** PQ encoding + per-probe LUT + ADC serve CTEs over the final
    * codebook `pqcb{iters}` — ends in `pqcodes` and `pqlut`. */
  private def pqServeCtes(iters: Int): String =
    s"""pqcodes AS (
       |  SELECT vec_id, m, code, cn2 FROM (
       |    SELECT s.vec_id, s.m, c.code, c.cn2,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY c.cn2 - 2 * CAST(list_dot_product(s.sq, c.cq) AS BIGINT),
       |                      c.code) AS rn
       |    FROM pqsub s JOIN pqcb$iters c USING (m))
       |  WHERE rn = 1),
       |pqprobes AS (SELECT s.vec_id AS probe_id, s.m, v.n2 AS pn2, s.sq AS psq
       |             FROM pqsub s JOIN qv v USING (vec_id) WHERE s.vec_id < 10),
       |pqlut AS (SELECT p.probe_id, p.pn2, p.m, c.code,
       |                 CAST(list_dot_product(p.psq, c.cq) AS BIGINT) AS pdot
       |          FROM pqprobes p JOIN pqcb$iters c USING (m))""".stripMargin

  /** The 8 per-shingle minhash min-aggregates (8-hex slices of two md5
    * digests) — [[Dedup.minhashSignatures]]' arithmetic. */
  private def minhashSigExprs: String = (0 until Dedup.NumHashes).map { s =>
    val src = if (s < 4) "md5(shingle)" else "md5('x|' || shingle)"
    s"min(substring($src, ${1 + 8 * (s % 4)}, 8)) AS mh$s"
  }.mkString(",\n  ")

  /** Per-band (doc_id, band, sig) rows from a signature relation. */
  private def bandUnionSql(sigRel: String, bandRows: Int = Dedup.BandRows): String =
    (0 until Dedup.NumHashes / bandRows).map { b =>
      val lo = b * bandRows
      val sig = (lo until lo + bandRows).map(i => s"mh$i").mkString(" || ")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM $sigRel"
    }.mkString("\n  UNION ALL ")

  /** MinHash band-candidate CTEs ending in `cand(doc_a, doc_b)` —
    * semantics of [[Dedup.minhashCandidates]] (band buckets over
    * MaxBandBucket docs leave candidate generation; keep in sync).
    * Shared by dedup_minhash and dedup_components. */
  private def minhashCandCtes: String = minhashCandCtes(Dedup.BandRows)

  private def minhashCandCtes(bandRows: Int): String = {
    val mins = minhashSigExprs
    val bandSelects = bandUnionSql("sig", bandRows)
    s"""sh AS (${shinglesSql(3)}),
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, band, sig FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, sig) AS bucket_n
       |    FROM ($bandSelects))
       |  WHERE bucket_n <= ${Dedup.MaxBandBucket}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Sampled-pair LSH recall oracle at a given rows-per-band —
    * semantics of [[Dedup.lshRecall]] (16+ derived sample buckets,
    * df-capped true jaccard, decile capture vs the 1-(1-j^r)^b
    * S-curve). Shared by dedup_lsh_recall (r = BandRows) and
    * dedup_lsh_recall_b8 (r = 1, 8 bands). */
  private def lshRecallOracleSql(bandRows: Int): String = {
    val nBands = Dedup.NumHashes / bandRows
    s"""WITH ${minhashCandCtes(bandRows)},
       |nbk AS (SELECT greatest(16, count(*) // 32) AS b FROM documents),
       |pb AS (SELECT doc_id,
       |              ${hex48Sql("hx")} % (SELECT b FROM nbk) AS pb
       |       FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents)),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM pb a JOIN pb b
       |            ON a.pb = b.pb AND a.doc_id < b.doc_id),
       |dfc AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
       |        WHERE df > ${Dedup.MaxShingleDf}),
       |kept AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM dfc)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
       |pa AS (SELECT p.doc_a, p.doc_b, k1.shingle
       |       FROM pairs p JOIN kept k1 ON k1.doc_id = p.doc_a),
       |inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM pa
       |          WHERE EXISTS (SELECT 1 FROM kept k2
       |                        WHERE k2.doc_id = pa.doc_b AND k2.shingle = pa.shingle)
       |          GROUP BY doc_a, doc_b),
       |scored AS (
       |  SELECT coalesce(i.inter, 0) AS inter,
       |         coalesce(sa.sz, 0) + coalesce(sb.sz, 0) - coalesce(i.inter, 0) AS den,
       |         CASE WHEN EXISTS (SELECT 1 FROM cand c
       |                           WHERE c.doc_a = p.doc_a AND c.doc_b = p.doc_b)
       |              THEN 1 ELSE 0 END AS caught
       |  FROM pairs p
       |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
       |  LEFT JOIN sizes sa ON sa.doc_id = p.doc_a
       |  LEFT JOIN sizes sb ON sb.doc_id = p.doc_b),
       |jb AS (SELECT CASE WHEN den = 0 THEN 0 ELSE inter * 10000 // den END AS jac_bp,
       |              caught
       |       FROM scored),
       |g AS (SELECT CAST(least(jac_bp // 1000, 9) AS INTEGER) AS decile,
       |             count(*) AS n_pairs, sum(caught) AS n_caught
       |      FROM jb GROUP BY decile)
       |SELECT decile, CAST(n_pairs AS BIGINT) AS n_pairs,
       |       CAST(n_caught AS BIGINT) AS n_caught,
       |       CAST(n_caught * 10000 // n_pairs AS BIGINT) AS capture_bp,
       |       round(1 - pow(1 - pow((decile + 0.5) / 10, $bandRows), $nBands), 4)
       |         AS theory
       |FROM g ORDER BY decile""".stripMargin
  }

  /** SimHash fingerprint CTEs (tf-weighted md5 hex-digit majority) —
    * semantics of [[Dedup.simhash]]. */
  private val FPS_SQL =
    """tf AS (
      |  SELECT doc_id, tok, count(*) AS cnt, md5(tok) AS h
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY doc_id, tok),
      |bits AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN sum(CASE WHEN substring(h, pos + 1, 1) >= '8'
      |                            THEN cnt ELSE -cnt END) >= 0
      |              THEN '1' ELSE '0' END AS bit
      |  FROM tf, (SELECT unnest(range(0, 32)) AS pos)
      |  GROUP BY doc_id, pos),
      |fps AS (SELECT doc_id, string_agg(bit, '' ORDER BY pos) AS fp
      |        FROM bits GROUP BY doc_id)""".stripMargin

  /** Deterministic sharded epoch shuffle (epoch 0) — keep in sync with
    * Curation.epochShuffle; shared by pipeline_shuffle (the declared
    * plan) and pipeline_shards (the SINK round-trip: the same rows
    * read back from the partitioned on-disk loader layout). */
  private lazy val epochShuffleOracleSql: String =
    s"""WITH tot AS (SELECT greatest(8,
       |               CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
       |                 // ${Curation.TargetTokensPerBucket}) AS r
       |             FROM documents),
       |shn AS (SELECT min(CAST(power(2, g) AS BIGINT)) AS s
       |        FROM generate_series(3, 50) AS t(g), tot
       |        WHERE CAST(power(2, g) AS BIGINT) >= r),
       |k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '#0') AS key
       |      FROM documents),
       |s AS (SELECT doc_id, key,
       |             ${hex48Sql("key")} % (SELECT s FROM shn) AS shard FROM k)
       |SELECT doc_id, shard,
       |       CAST(row_number() OVER (PARTITION BY shard
       |                               ORDER BY key, doc_id) AS BIGINT) AS pos
       |FROM s ORDER BY doc_id""".stripMargin

  /** K-means IVF multi-probe oracle: Lloyd cells (kmeansCtes), probe
    * routing to KmeansNprobe nearest cells, exact-cosine scoring — keep
    * in sync with Similarity.ivfTopKKmeans/ivfTopKNprobe. Shared
    * verbatim by sim_ivf_kmeans (train-inline) and sim_ivf_serve
    * (cached index). */
  private lazy val ivfKmeansOracleSql: String =
    s"""WITH qv AS ($QV2),
       |$kmeansCtes,
       |probes0 AS (SELECT vec_id AS probe_id, qd AS pq, n2 AS pn2
       |            FROM asg WHERE vec_id < 10),
       |pcells AS (
       |  SELECT probe_id, cell, pq, pn2 FROM (
       |    SELECT p.probe_id, c.cell, p.pq, p.pn2,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY list_dot_product(p.pq, c.cv) / sqrt(CAST(c.cn2 AS DOUBLE)) DESC,
       |                      c.cell) AS crank
       |    FROM probes0 p CROSS JOIN cent2 c)
       |  WHERE crank <= ${Similarity.KmeansNprobe}),
       |scored AS (
       |  SELECT pc.probe_id, a.vec_id,
       |         list_dot_product(pc.pq, a.qd)
       |           / (sqrt(CAST(pc.pn2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) AS cos
       |  FROM pcells pc JOIN asg a ON a.cell = pc.cell AND a.vec_id <> pc.probe_id)
       |SELECT probe_id, vec_id AS neighbor_id, round(cos, 6) AS cos_sim,
       |       CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |                                   ORDER BY cos DESC, vec_id) AS rn
       |      FROM scored)
       |WHERE rn <= 5 ORDER BY probe_id, rank""".stripMargin

  /** PQ ADC top-k oracle: Lloyd-trained codebook (pqCbCtes), exact-long
    * L2 argmin codes, per-probe LUT, ADC scores — keep in sync with
    * Similarity.pqCodebook/pqCodes/pqTopK. Shared verbatim by
    * sim_pq_topk (train-inline) and sim_pq_serve (cached index): the
    * build is deterministic, so both produce identical rows. */
  private lazy val pqTopKOracleSql: String =
    s"""WITH qv AS ($QV2),
       |${pqCbCtes(Similarity.PqIters)},
       |${pqServeCtes(Similarity.PqIters)},
       |adc AS (SELECT l.probe_id, d.vec_id, l.pn2,
       |               CAST(SUM(l.pdot) AS BIGINT) AS adot,
       |               CAST(SUM(d.cn2) AS BIGINT) AS rn2
       |        FROM pqcodes d JOIN pqlut l ON l.m = d.m AND l.code = d.code
       |        WHERE d.vec_id <> l.probe_id
       |        GROUP BY 1, 2, 3),
       |scored AS (SELECT probe_id, vec_id,
       |                  CAST(adot AS DOUBLE)
       |                    / (sqrt(CAST(pn2 AS DOUBLE)) * sqrt(CAST(rn2 AS DOUBLE))) AS adc
       |           FROM adc)
       |SELECT probe_id, vec_id AS neighbor_id, round(adc, 6) AS adc_cos,
       |       CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |                                   ORDER BY adc DESC, vec_id) AS rn
       |      FROM scored)
       |WHERE rn <= 5 ORDER BY probe_id, rank""".stripMargin

  /** IVF x PQ oracle: kmeans coarse cells (kmeansCtes) route probes to
    * their KmeansNprobe nearest cells; candidates in those cells are
    * ADC-scored over the Lloyd-trained codebook — keep in sync with
    * Similarity.ivfPqTopK (no-residual IVFPQ: codes quantize the raw
    * vector, so the codebook CTEs are exactly sim_pq_topk's). Shared
    * verbatim by sim_ivfpq_topk and sim_ivfpq_serve. */
  private lazy val ivfPqTopKOracleSql: String =
    s"""WITH qv AS ($QV2),
       |$kmeansCtes,
       |${pqCbCtes(Similarity.PqIters)},
       |${pqServeCtes(Similarity.PqIters)},
       |ccodes AS (SELECT d.*, a.cell FROM pqcodes d JOIN asg a USING (vec_id)),
       |probes0 AS (SELECT vec_id AS probe_id, qd AS pq, n2 AS pn2
       |            FROM asg WHERE vec_id < 10),
       |pcells AS (
       |  SELECT probe_id, cell FROM (
       |    SELECT p.probe_id, c.cell,
       |           row_number() OVER (PARTITION BY p.probe_id
       |             ORDER BY list_dot_product(p.pq, c.cv) / sqrt(CAST(c.cn2 AS DOUBLE)) DESC,
       |                      c.cell) AS crank
       |    FROM probes0 p CROSS JOIN cent2 c)
       |  WHERE crank <= ${Similarity.KmeansNprobe}),
       |adc AS (SELECT l.probe_id, d.vec_id, l.pn2,
       |               CAST(SUM(l.pdot) AS BIGINT) AS adot,
       |               CAST(SUM(d.cn2) AS BIGINT) AS rn2
       |        FROM ccodes d
       |        JOIN pcells pc ON pc.cell = d.cell
       |        JOIN pqlut l ON l.probe_id = pc.probe_id
       |                    AND l.m = d.m AND l.code = d.code
       |        WHERE d.vec_id <> l.probe_id
       |        GROUP BY 1, 2, 3),
       |scored AS (SELECT probe_id, vec_id,
       |                  CAST(adot AS DOUBLE)
       |                    / (sqrt(CAST(pn2 AS DOUBLE)) * sqrt(CAST(rn2 AS DOUBLE))) AS adc
       |           FROM adc)
       |SELECT probe_id, vec_id AS neighbor_id, round(adc, 6) AS adc_cos,
       |       CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |                                   ORDER BY adc DESC, vec_id) AS rn
       |      FROM scored)
       |WHERE rn <= 5 ORDER BY probe_id, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
        |       count(*) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents""".stripMargin,
    // keep in sync with Dedup.exactNormSummary (lower + \s+ collapse +
    // trim; DuckDB regexp_replace needs the 'g' flag Spark implies)
    "dedup_exact_norm" ->
      """SELECT count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_raw_distinct,
        |       count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
        |         AS n_norm_distinct,
        |       count(DISTINCT md5(text))
        |         - count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
        |         AS n_norm_only_dups
        |FROM documents""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $minhashCandCtes
         |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin,
    // minhash estimate vs true distinct-shingle Jaccard per candidate
    // pair — keep in sync with Dedup.minhashError (floor division on
    // both quantizations; NumHashes-granular estimate)
    "dedup_minhash_err" -> {
      val eqSum = (0 until Dedup.NumHashes)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $minhashCandCtes,
         |est AS (SELECT c.doc_a, c.doc_b,
         |               (($eqSum) * 10000) // ${Dedup.NumHashes} AS est_q
         |        FROM cand c JOIN sig a ON a.doc_id = c.doc_a
         |                    JOIN sig b ON b.doc_id = c.doc_b),
         |ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ds GROUP BY 1),
         |io AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
         |       FROM cand c JOIN ds a ON a.doc_id = c.doc_a
         |                   JOIN ds b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |       GROUP BY 1, 2)
         |SELECT e.doc_a, e.doc_b, e.est_q,
         |       (coalesce(io.i, 0) * 10000)
         |         // (sa.sz + sb.sz - coalesce(io.i, 0)) AS true_q,
         |       abs(e.est_q - (coalesce(io.i, 0) * 10000)
         |         // (sa.sz + sb.sz - coalesce(io.i, 0))) AS err_q
         |FROM est e
         |LEFT JOIN io ON io.doc_a = e.doc_a AND io.doc_b = e.doc_b
         |JOIN sz sa ON sa.doc_id = e.doc_a
         |JOIN sz sb ON sb.doc_id = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin
    },
    // cross-source near-dup matrix — keep in sync with
    // Dedup.sourceOverlap (unordered pair via least/greatest)
    "dedup_source_overlap" ->
      s"""WITH $minhashCandCtes,
         |m AS (SELECT least(sa.source, sb.source) AS source_a,
         |             greatest(sa.source, sb.source) AS source_b
         |      FROM cand c JOIN documents sa ON sa.doc_id = c.doc_a
         |                  JOIN documents sb ON sb.doc_id = c.doc_b)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // exact tier beats near tier; near matches go through the
    // base-side bucket blacklist — keep in sync with
    // Dedup.incrementalDedup
    "dedup_incremental" ->
      s"""WITH base AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
         |batch AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
         |bh AS (SELECT md5(text) AS h, min(doc_id) AS em FROM base GROUP BY 1),
         |ex AS (SELECT b.doc_id, bh.em
         |       FROM (SELECT doc_id, md5(text) AS h FROM batch) b JOIN bh USING (h)),
         |shb AS (${shinglesSqlFrom(3, "base")}),
         |shn AS (${shinglesSqlFrom(3, "batch")}),
         |sigb AS (SELECT doc_id, $minhashSigExprs FROM shb GROUP BY doc_id),
         |sigbatch AS (SELECT doc_id, $minhashSigExprs FROM shn GROUP BY doc_id),
         |bandsb AS (${bandUnionSql("sigb")}),
         |bandsn AS (${bandUnionSql("sigbatch")}),
         |cap AS (SELECT band, sig FROM (
         |          SELECT band, sig, count(*) AS c FROM bandsb GROUP BY 1, 2)
         |        WHERE c > ${Dedup.MaxBandBucket}),
         |keptb AS (SELECT * FROM bandsb bb
         |          WHERE NOT EXISTS (SELECT 1 FROM cap c
         |                            WHERE c.band = bb.band AND c.sig = bb.sig)),
         |nr AS (SELECT n.doc_id, min(b.doc_id) AS nm
         |       FROM bandsn n JOIN keptb b ON n.band = b.band AND n.sig = b.sig
         |       GROUP BY 1)
         |SELECT t.doc_id,
         |       CASE WHEN ex.em IS NOT NULL THEN 'exact'
         |            WHEN nr.nm IS NOT NULL THEN 'near'
         |            ELSE 'new' END AS status,
         |       coalesce(ex.em, nr.nm) AS match_doc
         |FROM (SELECT doc_id FROM batch) t
         |LEFT JOIN ex USING (doc_id) LEFT JOIN nr USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // Transitive closure (the dedup_components oracle) + the
    // text_quality score, argmax per cluster via row_number — keep in
    // sync with Curation.keepBest.
    "pipeline_keep_best" -> {
      val enStop = TextAnalysis.stopwords.filter(_._1 == "en").map(w => s"'${w._2}'").mkString(", ")
      s"""WITH RECURSIVE $minhashCandCtes,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |      UNION SELECT doc_b, doc_a FROM cand),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS rep_doc
         |        FROM reach GROUP BY src),
         |qual AS (
         |  SELECT doc_id,
         |         round(least(1.0,
         |           0.5 * least(CAST(len(tk) AS DOUBLE) / 50.0, 1.0) +
         |           0.5 * least(CAST(len(list_filter(tk, t -> t IN ($enStop))) AS DOUBLE) * 4.0
         |                       / len(tk), 1.0)), 4) AS quality
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
         |best AS (SELECT rep_doc, doc_id AS keep_doc FROM (
         |    SELECT l.rep_doc, l.doc_id,
         |           row_number() OVER (PARTITION BY l.rep_doc
         |                              ORDER BY q.quality DESC, l.doc_id) AS rn
         |    FROM lab l JOIN qual q USING (doc_id)) WHERE rn = 1)
         |SELECT d.doc_id,
         |       coalesce(b.keep_doc, d.doc_id) AS keep_doc,
         |       coalesce(b.keep_doc, d.doc_id) = d.doc_id AS kept
         |FROM documents d
         |LEFT JOIN lab l USING (doc_id)
         |LEFT JOIN best b ON l.rep_doc = b.rep_doc
         |ORDER BY d.doc_id""".stripMargin
    },
    // alpha=0.5 via sqrt (engine-exact); weights normalized over the
    // per-language sqrt(token count) — keep in sync with
    // Curation.temperatureMixture
    "pipeline_mixture" ->
      """WITH l AS (SELECT lang, count(*) AS n_docs,
        |                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY lang),
        |z AS (SELECT sum(sqrt(n_tokens)) AS z FROM l)
        |SELECT lang, n_docs, n_tokens,
        |       round(sqrt(n_tokens) / z, 6) AS weight,
        |       CAST(round(100000.0 * sqrt(n_tokens) / z) AS BIGINT) AS target_tokens,
        |       round(least(1.0, 100000.0 * sqrt(n_tokens) / z / n_tokens), 6) AS rate
        |FROM l, z ORDER BY lang""".stripMargin,
    // the mixture executed — same rate arithmetic as pipeline_mixture
    // (6-dec round, then micro-rate), 48-bit md5 bucket mod 1e6; keep
    // in sync with Curation.mixtureSample
    "pipeline_mixture_sample" -> {
      def nib(i: Int) =
        s"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
      val hash48 = (0 until 12)
        .map(i => s"${nib(i + 1)} * ${1L << (4 * (11 - i))}")
        .mkString("(", " + ", ")")
      s"""WITH l AS (SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |           FROM documents GROUP BY lang),
         |z AS (SELECT sum(sqrt(n_tokens)) AS z FROM l),
         |r AS (SELECT lang,
         |             CAST(round(round(least(1.0, 100000.0 * sqrt(n_tokens) / z / n_tokens), 6)
         |                        * 1000000) AS BIGINT) AS rate_q
         |      FROM l, z)
         |SELECT d.doc_id, d.lang, $hash48 % 1000000 AS bucket_q, r.rate_q
         |FROM documents d JOIN r USING (lang)
         |WHERE $hash48 % 1000000 < r.rate_q
         |ORDER BY doc_id""".stripMargin
    },
    // per-source centroid cosine — sign-safe integer means (CASE spells
    // truncation-toward-zero so // matches Spark's div on negatives);
    // keep in sync with Similarity.sourceCentroidSim
    "emb_source_sim" ->
      s"""WITH qv AS ($QV),
         |src AS (SELECT v.vec_id, d.source, v.q
         |        FROM qv v JOIN documents d ON d.doc_id = v.vec_id),
         |pe AS (SELECT source, unnest(q) AS qi, generate_subscripts(q, 1) AS pos FROM src),
         |cent AS (SELECT source, pos,
         |                CAST(CASE WHEN sum(qi) >= 0 THEN sum(qi) // count(*)
         |                          ELSE -((-sum(qi)) // count(*)) END AS BIGINT) AS c
         |         FROM pe GROUP BY 1, 2),
         |cv AS (SELECT source, list(CAST(c AS DOUBLE) ORDER BY pos) AS v,
         |              CAST(sum(c * c) AS BIGINT) AS n2
         |       FROM cent GROUP BY source)
         |SELECT a.source AS source_a, b.source AS source_b,
         |       round(list_dot_product(a.v, b.v)
         |             / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6) AS cos_sim
         |FROM cv a JOIN cv b ON a.source < b.source
         |ORDER BY source_a, source_b""".stripMargin,
    // Transitive closure of the candidate graph via recursive CTE
    // (pairs are few post-LSH; the closure is exact), then
    // component rep = min reachable doc — keep in sync with
    // Dedup.components' min-label fixpoint.
    "dedup_components" ->
      s"""WITH RECURSIVE $minhashCandCtes,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |      UNION SELECT doc_b, doc_a FROM cand),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS rep_doc
         |        FROM reach GROUP BY src)
         |SELECT l.doc_id, l.rep_doc, CAST(c.n AS BIGINT) AS n_docs
         |FROM lab l
         |JOIN (SELECT rep_doc, count(*) AS n FROM lab GROUP BY rep_doc) c
         |  USING (rep_doc)
         |ORDER BY doc_id""".stripMargin,
    // component-size histogram + restored singleton row — keep in
    // sync with Dedup.clusterSizes
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $minhashCandCtes,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |      UNION SELECT doc_b, doc_a FROM cand),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS rep_doc
         |        FROM reach GROUP BY src),
         |cs AS (SELECT rep_doc, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY 1)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM cs GROUP BY 1
         |UNION ALL
         |SELECT 1, (SELECT count(*) FROM documents) - (SELECT count(*) FROM lab)
         |ORDER BY cluster_size""".stripMargin,
    // unigram entropy: ln(n) - sum(c*ln c)/n, rounded like text_logprob
    // — keep in sync with TextAnalysis.entropy
    "text_entropy" ->
      """SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
        |FROM (SELECT doc_id, count(*) AS c
        |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |            FROM documents)
        |      WHERE length(word) > 0 GROUP BY doc_id, word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // exact integer per-dimension stats of 1e3-quantized embeddings —
    // keep in sync with Similarity.dimStats (floor-div mean)
    "emb_dimstats" ->
      """WITH x AS (SELECT unnest(range(1, len(embedding) + 1)) AS p, embedding
        |           FROM embeddings),
        |qs AS (SELECT CAST(p - 1 AS BIGINT) AS dim,
        |              CAST(round(CAST(embedding[p] AS DOUBLE) * 1000) AS BIGINT) AS q
        |       FROM x)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |       min(q) AS min_q, max(q) AS max_q,
        |       CAST(sum(q) AS BIGINT) AS sum_q,
        |       CAST(sum(q * q) AS BIGINT) AS sum_q2,
        |       CAST(sum(q) * 1000 // count(*) AS BIGINT) AS mean_mq
        |FROM qs GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_pca" -> pcaOracleSql(5),
    "emb_pca2" -> pca2OracleSql(5),
    // projection over the same unrolled CTEs: pe ⋈ v5 per vector
    "emb_pca_project" ->
      s"""WITH ${pcaCtes(5)},
         |proj AS (SELECT pe.vec_id, CAST(sum(pe.qj * v.v) AS BIGINT) AS raw
         |         FROM pe JOIN v5 v ON v.k = pe.j GROUP BY pe.vec_id)
         |SELECT vec_id,
         |       CAST(CASE WHEN raw >= 0 THEN raw // 10000
         |                 ELSE -((-raw) // 10000) END AS BIGINT) AS coord
         |FROM proj ORDER BY vec_id""".stripMargin,
    "dedup_jaccard" ->
      // sizes AND intersections over the same df-capped universe —
      // keep in sync with Dedup.jaccardPairs
      s"""WITH sh AS (${shinglesSql(3)}),
         |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |kept AS (SELECT shingle FROM dfs WHERE df <= ${Dedup.MaxShingleDf}),
         |sizes AS (SELECT doc_id, count(*) AS sz
         |          FROM sh JOIN kept USING (shingle) GROUP BY doc_id),
         |shared AS (SELECT shingle FROM dfs
         |           WHERE df > 1 AND df <= ${Dedup.MaxShingleDf}),
         |shj AS (SELECT sh.* FROM sh JOIN shared USING (shingle)),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b,
         |       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
         |           JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // positional-shingle self-join + diagonal gaps-and-islands; df =
    // DISTINCT docs per shingle — keep in sync with Dedup.spanPairs
    "dedup_spans" ->
      s"""WITH ${spanCtes(3, 10)}
         |SELECT doc_a, doc_b, start_a, start_b, len_tokens
         |FROM spans
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,
    "dedup_spans_incr" ->
      s"""WITH ${spanIncrCtes(3, 10)}
         |SELECT doc_a, doc_b, start_a, start_b, len_tokens
         |FROM spans
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,
    // dropped-position count over the same span CTEs (distinct (doc,
    // pos) == Spark's per-doc orig-minus-kept sizes) — keep in sync
    // with Dedup.removeSpans
    "dedup_span_coverage" ->
      s"""WITH ${spanCtes(3, 10)},
         |drops AS (SELECT doc_b AS doc_id, start_b AS s,
         |                 start_b + len_tokens AS e
         |          FROM spans),
         |dw AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos
         |       FROM (SELECT doc_id,
         |                    generate_subscripts(string_split(text, ' '), 1) AS pos
         |             FROM documents
         |             WHERE doc_id IN (SELECT doc_id FROM drops))),
         |dropped AS (SELECT DISTINCT d.doc_id, d.pos
         |            FROM dw d JOIN drops r
         |              ON r.doc_id = d.doc_id AND d.pos >= r.s AND d.pos < r.e),
         |tot AS (SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
         |        FROM documents),
         |rem AS (SELECT CAST(count(*) AS BIGINT) AS removed_tokens,
         |               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_affected
         |        FROM dropped)
         |SELECT tot.total_tokens, rem.removed_tokens, rem.n_docs_affected,
         |       CAST(rem.removed_tokens * 10000 // tot.total_tokens AS BIGINT)
         |         AS coverage_bp
         |FROM tot, rem""".stripMargin,
    // rebuild affected docs without their dropped positions (higher-id
    // doc of each pair loses the run; overlaps union via DISTINCT) —
    // keep in sync with Dedup.removeSpans
    "dedup_spans_clean" ->
      s"""WITH ${spanCtes(3, 10)},
         |drops AS (SELECT doc_b AS doc_id, start_b AS s,
         |                 start_b + len_tokens AS e
         |          FROM spans),
         |dw AS (SELECT doc_id, tok, CAST(pos AS BIGINT) AS pos
         |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |                    generate_subscripts(string_split(text, ' '), 1) AS pos
         |             FROM documents
         |             WHERE doc_id IN (SELECT doc_id FROM drops))),
         |dropped AS (SELECT DISTINCT d.doc_id, d.pos
         |            FROM dw d JOIN drops r
         |              ON r.doc_id = d.doc_id AND d.pos >= r.s AND d.pos < r.e),
         |rebuilt AS (
         |  SELECT a.doc_id,
         |         coalesce(string_agg(CASE WHEN x.pos IS NULL THEN dw.tok END,
         |                             ' ' ORDER BY dw.pos), '') AS text2,
         |         CAST(count(x.pos) AS BIGINT) AS n_removed
         |  FROM (SELECT DISTINCT doc_id FROM drops) a
         |  JOIN dw USING (doc_id)
         |  LEFT JOIN dropped x ON x.doc_id = dw.doc_id AND x.pos = dw.pos
         |  GROUP BY a.doc_id)
         |SELECT d.doc_id,
         |       coalesce(r.text2, d.text) AS text,
         |       coalesce(r.n_removed, 0) AS n_removed
         |FROM documents d LEFT JOIN rebuilt r USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $FPS_SQL
         |SELECT fp, count(*) AS n_docs, min(doc_id) AS rep_doc
         |FROM fps GROUP BY fp HAVING count(*) > 1
         |ORDER BY fp""".stripMargin,
    "dedup_simhash_near" ->
      // band buckets over MaxBandBucket docs leave candidate
      // generation — keep in sync with Dedup.simhashNearPairs
      s"""WITH $FPS_SQL,
         |bands AS (
         |  SELECT doc_id, fp, b, sig FROM (
         |    SELECT *, count(*) OVER (PARTITION BY b, sig) AS bucket_n
         |    FROM (SELECT doc_id, fp, b, substring(fp, 1 + 8 * b, 8) AS sig
         |          FROM fps, (SELECT unnest(range(0, 4)) AS b)))
         |  WHERE bucket_n <= ${Dedup.MaxBandBucket}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                  a.fp AS fa, b.fp AS fb
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       CAST(len(list_filter(range(1, 33),
         |                p -> substring(fa, p, 1) <> substring(fb, p, 1))) AS INTEGER) AS dist
         |FROM cand
         |WHERE len(list_filter(range(1, 33),
         |          p -> substring(fa, p, 1) <> substring(fb, p, 1))) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "text_repetition" ->
      s"""SELECT doc_id, count(*) AS n_grams,
         |       count(DISTINCT shingle) AS n_distinct,
         |       round(1.0 - CAST(count(DISTINCT shingle) AS DOUBLE) / count(*), 4)
         |         AS rep_ratio
         |FROM (
         |  SELECT doc_id, array_to_string(toks[pos:pos+2], ' ') AS shingle
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS pos
         |        FROM ($TOKS) WHERE len(toks) >= 3))
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // closed-form least squares over ln(rank)/ln(cnt) of the top-100 —
    // keep in sync with TextAnalysis.zipfFit
    "text_zipf" ->
      """WITH toks AS (
        |  SELECT word FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0),
        |top AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word
        |        ORDER BY cnt DESC, word LIMIT 100),
        |xy AS (SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, word) AS DOUBLE)) AS x,
        |              ln(CAST(cnt AS DOUBLE)) AS y
        |       FROM top),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS nn, sum(x) AS sx, sum(y) AS sy,
        |              sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |       FROM xy)
        |SELECT CAST(nn AS BIGINT) AS n_tokens,
        |       round((nn * sxy - sx * sy) / (nn * sxx - sx * sx), 4) AS slope,
        |       round((sy - (nn * sxy - sx * sy) / (nn * sxx - sx * sx) * sx) / nn, 4)
        |         AS intercept,
        |       round(pow(nn * sxy - sx * sy, 2)
        |             / ((nn * sxx - sx * sx) * (nn * syy - sy * sy)), 4) AS r2
        |FROM st""".stripMargin,
    // sampled-pair LSH recall over the shared candidate CTEs — keep in
    // sync with Dedup.lshRecall (16 sample buckets, df-capped true
    // jaccard, decile capture vs the 1-(1-j^r)^b S-curve)
    "dedup_lsh_recall" -> lshRecallOracleSql(Dedup.BandRows),
    // the bands knob the S-curve audit exists to size, demonstrated:
    // 8 bands x 1 row — higher recall at low Jaccard (more candidate
    // pairs), the capture-rate shift visible against dedup_lsh_recall
    "dedup_lsh_recall_b8" -> lshRecallOracleSql(1),
    // CMS build + top-k probe — keep in sync with TextAnalysis.cmsAudit
    // (depth 4, width 1024, md5(j|word) 48-bit bucket hash)
    "text_cms" -> {
      s"""WITH toks AS (
         |  SELECT word FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE len(word) > 0),
         |ex AS (SELECT word, count(*) AS exact FROM toks GROUP BY word),
         |r0 AS (SELECT word, exact, j FROM ex CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
         |r1 AS (SELECT word, exact, j, md5(CAST(j AS VARCHAR) || '|' || word) AS hx FROM r0),
         |r2 AS (SELECT word, exact, j, ${hex48Sql("hx")} % 1024 AS bucket FROM r1),
         |cms AS (SELECT j, bucket, sum(exact) AS cell FROM r2 GROUP BY j, bucket),
         |top AS (SELECT word, exact FROM ex ORDER BY exact DESC, word LIMIT 20),
         |probe AS (SELECT t.word, t.exact, r.j, r.bucket
         |          FROM top t JOIN r2 r ON r.word = t.word)
         |SELECT p.word, CAST(p.exact AS BIGINT) AS exact,
         |       CAST(min(c.cell) AS BIGINT) AS est,
         |       CAST((min(c.cell) - p.exact) * 10000 // p.exact AS BIGINT) AS over_bp
         |FROM probe p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
         |GROUP BY p.word, p.exact
         |ORDER BY exact DESC, word""".stripMargin
    },
    // NB train + predict + confusion, one token scan — keep in sync
    // with TextAnalysis.nbConfusion (add-one smoothing, shared vocab,
    // 4-decimal score rounding, score DESC / cand ASC argmax)
    "text_nb" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, word FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  WHERE len(word) > 0),
        |langs AS (SELECT DISTINCT lang AS cand FROM documents),
        |c AS (SELECT word, lang AS cand, count(*) AS cnt FROM toks GROUP BY word, lang),
        |lt AS (SELECT lang AS cand, count(*) AS t FROM toks GROUP BY lang),
        |v AS (SELECT count(DISTINCT word) AS v FROM toks),
        |prior AS (SELECT lang AS cand, count(*) AS dl FROM documents GROUP BY lang),
        |dtot AS (SELECT count(*) AS dd FROM documents),
        |scored AS (
        |  SELECT tk.doc_id, tk.lang, lg.cand,
        |         round(sum(ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE)
        |                      / CAST(lt.t + v.v AS DOUBLE)))
        |               + ln(CAST(prior.dl AS DOUBLE) / dtot.dd), 4) AS score_q
        |  FROM toks tk
        |  CROSS JOIN langs lg
        |  LEFT JOIN c ON c.word = tk.word AND c.cand = lg.cand
        |  JOIN lt ON lt.cand = lg.cand
        |  CROSS JOIN v
        |  JOIN prior ON prior.cand = lg.cand
        |  CROSS JOIN dtot
        |  GROUP BY tk.doc_id, tk.lang, lg.cand, prior.dl, dtot.dd),
        |pred AS (
        |  SELECT doc_id, lang, cand AS pred_lang
        |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                     ORDER BY score_q DESC, cand) AS rn
        |        FROM scored)
        |  WHERE rn = 1)
        |SELECT lang, pred_lang, count(*) AS n_docs
        |FROM pred GROUP BY lang, pred_lang
        |ORDER BY lang, pred_lang""".stripMargin,
    // winnowing summary — full-corpus coverage via the left joins;
    // keep in sync with TextAnalysis.winnowSummary (k=5, w=4)
    "text_winnowing" ->
      s"""WITH fps AS (${winnowFpsSql(5, 4)}),
         |grams AS (SELECT doc_id, count(*) AS n_grams
         |          FROM (${positionalShinglesSql(5)}) GROUP BY doc_id),
         |f AS (SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp
         |      FROM fps GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(g.n_grams, 0) AS BIGINT) AS n_grams,
         |       CAST(coalesce(f.n_fps, 0) AS BIGINT) AS n_fps,
         |       f.min_fp,
         |       CAST(CASE WHEN coalesce(g.n_grams, 0) = 0 THEN 0
         |                 ELSE coalesce(f.n_fps, 0) * 10000 // g.n_grams END AS BIGINT)
         |         AS density_bp
         |FROM documents d
         |LEFT JOIN grams g USING (doc_id)
         |LEFT JOIN f USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // MOSS shared-fingerprint pairs — keep in sync with
    // Dedup.winnowPairs (k=5, w=4, minShared=3, df cap)
    "dedup_winnow" ->
      s"""WITH fps AS (${winnowFpsSql(5, 4)}),
         |kept AS (SELECT doc_id, fp FROM fps
         |         WHERE fp NOT IN (
         |           SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY fp)
         |           WHERE df > ${Dedup.MaxShingleDf}))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       count(*) AS n_shared
         |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY doc_a, doc_b
         |HAVING count(*) >= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // priority sampling — keep in sync with Curation.prioritySample
    // (k=100; tau = the 101st priority; est_w = max(weight, tau);
    // weights over 2^31−1 force-include at priority Long.MaxValue so
    // the multiply never overflows BIGINT and inclusion stays exact)
    "pipeline_reservoir" -> {
      s"""WITH k0 AS (SELECT doc_id, source, n_chars AS weight,
         |                   md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
         |p AS (SELECT doc_id, source, weight,
         |             CASE WHEN weight > ${(1L << 31) - 1} THEN ${Long.MaxValue}
         |             ELSE weight * ${1L << 32}
         |               // (${hex32Sql("hx")} + 1) END AS priority
         |      FROM k0),
         |t AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
         |      FROM p QUALIFY rn <= 101),
         |tau AS (SELECT CASE WHEN count(*) < 101 THEN 0
         |               ELSE min(priority) END AS tau FROM t)
         |SELECT doc_id, source, CAST(weight AS BIGINT) AS weight,
         |       CAST(priority AS BIGINT) AS priority,
         |       CAST(rn AS INTEGER) AS rank,
         |       CAST(greatest(weight, tau.tau) AS BIGINT) AS est_w
         |FROM t, tau WHERE rn <= 100 ORDER BY rank""".stripMargin
    },
    // bucket = first md5 byte (two lowercase hex digits) mod 64 —
    // keep in sync with Curation.stratifiedSample
    "pipeline_sample" -> {
      def nib(i: Int) =
        s"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
      s"""SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
         |FROM (
         |  SELECT doc_id, lang, (${nib(1)} * 16 + ${nib(2)}) % 64 AS bucket,
         |         CASE lang WHEN 'en' THEN 48 WHEN 'de' THEN 32 WHEN 'fr' THEN 32
         |                   WHEN 'es' THEN 32 WHEN 'zh' THEN 8 ELSE 0 END AS rate
         |  FROM documents)
         |WHERE bucket < rate
         |ORDER BY doc_id""".stripMargin
    },
    // keep in sync with Dedup.contamination (df-capped train index,
    // shared-shingle counts, minHits threshold)
    "pipeline_contamination" ->
      s"""WITH sh AS (${shinglesSql(3)}),
         |tr AS (SELECT * FROM sh WHERE doc_id >= 50),
         |pr AS (SELECT doc_id AS probe_id, shingle FROM sh WHERE doc_id < 50),
         |dfs AS (SELECT shingle, count(*) AS df FROM tr GROUP BY shingle),
         |kept AS (SELECT tr.* FROM tr
         |         WHERE shingle NOT IN (SELECT shingle FROM dfs
         |                               WHERE df > ${Dedup.MaxShingleDf}))
         |SELECT t.doc_id, p.probe_id, count(*) AS n_shared
         |FROM kept t JOIN pr p USING (shingle)
         |GROUP BY t.doc_id, p.probe_id
         |HAVING count(*) >= 2
         |ORDER BY doc_id, probe_id""".stripMargin,
    // Composition of the text_langid, text_quality and exact-dedup
    // oracles — keep in sync with Curation.trainingSet.
    "pipeline_training_set" -> {
      val sw = TextAnalysis.stopwords.map { case (l, w) => s"('$l','$w')" }.mkString(", ")
      val enStop = TextAnalysis.stopwords.filter(_._1 == "en").map(w => s"'${w._2}'").mkString(", ")
      s"""WITH sw(cand_lang, word) AS (VALUES $sw),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |langs AS (SELECT DISTINCT cand_lang FROM sw),
         |scores AS (
         |  SELECT doc_id, cand_lang, count(*) AS hits
         |  FROM toks JOIN sw USING (word) GROUP BY doc_id, cand_lang),
         |allscores AS (
         |  SELECT d.doc_id, l.cand_lang, coalesce(s.hits, 0) AS hits
         |  FROM (SELECT doc_id FROM documents) d
         |  CROSS JOIN langs l
         |  LEFT JOIN scores s ON s.doc_id = d.doc_id AND s.cand_lang = l.cand_lang),
         |lang1 AS (
         |  SELECT doc_id, cand_lang AS pred_lang
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                     ORDER BY hits DESC, cand_lang) AS rn
         |        FROM allscores)
         |  WHERE rn = 1),
         |qual AS (
         |  SELECT doc_id,
         |         round(least(1.0,
         |           0.5 * least(CAST(len(tk) AS DOUBLE) / 50.0, 1.0) +
         |           0.5 * least(CAST(len(list_filter(tk, t -> t IN ($enStop))) AS DOUBLE) * 4.0
         |                       / len(tk), 1.0)), 4) AS quality
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
         |reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT q.doc_id, l.pred_lang, q.quality
         |FROM qual q JOIN lang1 l USING (doc_id)
         |WHERE q.doc_id IN (SELECT doc_id FROM reps)
         |  AND l.pred_lang IN ('en') AND q.quality >= 0.5
         |ORDER BY q.doc_id""".stripMargin
    },
    // bucket = first 48 md5 bits mod the DERIVED bucket count
    // (max(16, tokens/target)), running offset windowed PER BUCKET,
    // integer floor division for chunk spans — keep in sync with
    // Curation.packSequencesBy/autoBuckets (SUM over a window is
    // HUGEINT in DuckDB, hence the outer BIGINT casts).
    "pipeline_pack" -> packCoreSql(
      """cnt AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)""".stripMargin),
    // efficiency fold over the same pack CTEs — keep in sync with
    // Curation.packEfficiency
    "pipeline_pack_eval" -> {
      s"""${packBaseCtes(
           """cnt AS (
             |  SELECT doc_id,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents)""".stripMargin)},
         |g AS (SELECT bucket, sum(n_tokens) AS used,
         |             max((off + n_tokens - 1) // 256) + 1 AS n_packs,
         |             sum(CASE WHEN off // 256 <> (off + n_tokens - 1) // 256
         |                      THEN 1 ELSE 0 END) AS n_cut
         |      FROM o GROUP BY bucket)
         |SELECT CAST(sum(used) AS BIGINT) AS total_tokens,
         |       CAST(sum(n_packs) AS BIGINT) AS n_packs,
         |       CAST(sum(n_packs) * 256 AS BIGINT) AS capacity,
         |       CAST(sum(n_cut) AS BIGINT) AS n_cut_docs,
         |       CAST(sum(used) * 10000 // (sum(n_packs) * 256) AS BIGINT) AS fill_bp
         |FROM g""".stripMargin
    },
    // the same pack core over bpeApply's subword counts — keep in sync
    // with Curation.packSequencesBy + TextAnalysis.bpeApply
    "pipeline_pack_bpe" -> packCoreSql(
      s"""${bpeLoopCtes(3)},
         |wl AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sub
         |       FROM s3 GROUP BY word),
         |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |cnt AS (SELECT d.doc_id, CAST(sum(wl.n_sub) AS BIGINT) AS n_tokens
         |        FROM (SELECT doc_id, word FROM dw WHERE length(word) > 0) d
         |        JOIN wl USING (word)
         |        GROUP BY d.doc_id)""".stripMargin),
    "text_stats" ->
      s"""SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
         |       CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS n_tok_chars,
         |       round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS ttr,
         |       round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks), 4) AS mean_tok_len
         |FROM ($TOKS)
         |ORDER BY doc_id""".stripMargin,
    // sliding windows: starts every 48 tokens, 64-token slices (range
    // end-exclusive, list slicing 1-based inclusive = Spark slice) —
    // keep in sync with Curation.contextChunks
    "pipeline_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, len(toks) AS n,
        |             unnest(range(1, len(toks) + 1, 48)) AS start FROM t)
        |SELECT doc_id,
        |       CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
        |       CAST(start AS BIGINT) AS start,
        |       CAST(least(64, n - start + 1) AS BIGINT) AS chunk_len,
        |       array_to_string(toks[start : start + 63], ' ') AS text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    // compaction preserves content exactly: count + order-independent
    // 48-bit XOR over (doc_id, text) — the layout facts (file counts,
    // sizes) are PipelineSpec's, not SQL's
    "pipeline_compact" ->
      s"""SELECT count(*) AS n_docs,
         |       bit_xor(${hex48Sql("md5(CAST(doc_id AS VARCHAR) || ':' || text)")}) AS content_x
         |FROM documents""".stripMargin,
    // per-directory compaction is content- and layout-preserving: the
    // rollup and day count over the compacted layout equal the source
    "pipeline_compact_days" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       count(DISTINCT CAST(ts AS DATE)) AS n_days
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // add-one-smoothed target/corpus unigram log-ratio, mean per doc —
    // keep in sync with Curation.importanceWeights (target lang 'en')
    "pipeline_dsir" ->
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |tk AS (SELECT doc_id, lang, word FROM t WHERE length(word) > 0),
        |u AS (SELECT word, count(*) AS cnt,
        |             count(CASE WHEN lang = 'en' THEN 1 END) AS tcnt
        |      FROM tk GROUP BY word),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |               CAST(sum(tcnt) AS BIGINT) AS ttotal,
        |               count(*) AS vocab FROM u)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       round(sum(ln(CAST(u.tcnt + 1 AS DOUBLE) / (ttotal + vocab))
        |                 - ln(CAST(u.cnt + 1 AS DOUBLE) / (total + vocab)))
        |             / count(*), 4) + 0.0 AS dsir_weight
        |FROM tk JOIN u USING (word), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Okapi BM25, Lucene idf, contributions summed as 1e4-scaled longs
    // — keep in sync with TextAnalysis.bm25Search (k1=1.2, b=0.75)
    "text_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_hits, score FROM bm ORDER BY doc_id""".stripMargin,
    // the merged standing index serves the same scores as the
    // query-time path (the index tables are monoids under disjoint
    // union), so the oracle is text_bm25's verbatim
    "text_bm25_incr" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_hits, score FROM bm ORDER BY doc_id""".stripMargin,
    // sharded deterministic epoch shuffle — keep in sync with
    // Curation.epochShuffle/autoShards (epoch 0; shard count derived
    // from the corpus token count, rounded UP to a power of two;
    // power(2, g) and its BIGINT cast are IEEE-exact for g <= 50, so
    // the min-over-powers spelling avoids log2's rounding hazard)
    "pipeline_shuffle" -> epochShuffleOracleSql,
    // the sink round-trip serves the same rows the shuffle declares
    "pipeline_shards" -> epochShuffleOracleSql,
    // CCNet head/middle/tail terciles of the 1e4-quantized unigram LM
    // score, nearest-rank cutoffs per language — keep in sync with
    // Curation.ccnetBuckets / TextAnalysis.logProb
    "pipeline_ccnet" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tk AS (SELECT doc_id, word FROM t WHERE length(word) > 0),
        |u AS (SELECT word, count(*) AS cnt FROM tk GROUP BY word),
        |tot AS (SELECT sum(cnt) AS total FROM u),
        |lp AS (SELECT doc_id,
        |              CAST(round(round(sum(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)))
        |                               / count(*), 4) * 10000) AS BIGINT) AS lp_q
        |       FROM tk JOIN u USING (word), tot GROUP BY doc_id),
        |sc AS (SELECT d.doc_id, d.lang, lp.lp_q FROM documents d JOIN lp USING (doc_id)),
        |hist AS (SELECT lang, lp_q, count(*) AS cnt FROM sc GROUP BY 1, 2),
        |cdf AS (SELECT lang, lp_q,
        |               sum(cnt) OVER (PARTITION BY lang ORDER BY lp_q) AS cum,
        |               sum(cnt) OVER (PARTITION BY lang) AS n
        |        FROM hist),
        |cuts AS (SELECT lang,
        |                min(CASE WHEN cum * 3 >= n THEN lp_q END) AS t1,
        |                min(CASE WHEN cum * 3 >= n * 2 THEN lp_q END) AS t2
        |         FROM cdf GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.lp_q,
        |       CASE WHEN s.lp_q <= c.t1 THEN 'tail'
        |            WHEN s.lp_q <= c.t2 THEN 'middle'
        |            ELSE 'head' END AS bucket
        |FROM sc s JOIN cuts c USING (lang)
        |ORDER BY doc_id""".stripMargin,
    // corpus datasheet card — keep in sync with Curation.corpusCard;
    // the near-dup pair count replays the candidate CTEs the card
    // reads from the build-once index
    "pipeline_corpus_card" ->
      s"""WITH $minhashCandCtes,
         |$docQualityCte,
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |                CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_content
         |         FROM documents),
         |voc AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS n_vocab
         |        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |        WHERE length(word) > 0),
         |mq AS (SELECT CAST(sum(CAST(round(quality * 10000) AS BIGINT)) // count(*) AS BIGINT)
         |                AS mean_quality_q FROM q),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_neardup_pairs FROM cand)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM base
         |  UNION ALL SELECT 'n_tokens', n_tokens FROM base
         |  UNION ALL SELECT 'n_vocab', n_vocab FROM voc
         |  UNION ALL SELECT 'n_langs', n_langs FROM base
         |  UNION ALL SELECT 'n_sources', n_sources FROM base
         |  UNION ALL SELECT 'n_distinct_content', n_distinct_content FROM base
         |  UNION ALL SELECT 'n_exact_dup_docs', n_docs - n_distinct_content FROM base
         |  UNION ALL SELECT 'n_neardup_pairs', n_neardup_pairs FROM np
         |  UNION ALL SELECT 'mean_quality_q', mean_quality_q FROM mq)
         |ORDER BY metric""".stripMargin,
    // cluster-representative split — the dedup_components closure with
    // holdoutSplit's byte thresholds keyed on the representative; keep
    // in sync with Curation.leakFreeSplit (232/12/12 of 256ths)
    "pipeline_split_leakfree" -> {
      def nib(i: Int) =
        s"(strpos('0123456789abcdef', substring(md5(CAST(group_id AS VARCHAR)), $i, 1)) - 1)"
      s"""WITH RECURSIVE $minhashCandCtes,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |      UNION SELECT doc_b, doc_a FROM cand),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS rep_doc
         |        FROM reach GROUP BY src),
         |grp AS (SELECT d.doc_id, coalesce(l.rep_doc, d.doc_id) AS group_id
         |        FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id)
         |SELECT doc_id, group_id,
         |       CASE WHEN b < 232 THEN 'train'
         |            WHEN b < 244 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, group_id, ${nib(1)} * 16 + ${nib(2)} AS b FROM grp)
         |ORDER BY doc_id""".stripMargin
    },
    // PII regex redaction — keep in sync with TextAnalysis.scrubPii
    // (same three patterns, same replace order; DuckDB needs the 'g'
    // flag where Spark replaces all matches by default)
    "text_pii" ->
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones,
         |       CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
         |       regexp_replace(regexp_replace(regexp_replace(text,
         |           '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |           '${TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
         |           '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS text_clean
         |FROM documents ORDER BY doc_id""".stripMargin,
    // RRF fusion of the BM25 top-20 and probe-0 cosine top-20 — keep
    // in sync with TextAnalysis.hybridTopK (rrfK=60; rank 0 = absent)
    "text_hybrid" ->
      s"""WITH $bm25Ctes,
         |qv AS ($QV2),
         |qd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) AS q, n2 FROM qv),
         |probe AS (SELECT vec_id AS probe_id, q AS pq, n2 AS pn2 FROM qd WHERE vec_id = 0),
         |scored AS (
         |  SELECT v.vec_id,
         |         list_dot_product(p.pq, v.q)
         |           / (sqrt(CAST(p.pn2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE))) AS cos
         |  FROM probe p JOIN qd v ON v.vec_id <> p.probe_id),
         |sem AS (SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS sem_rank
         |        FROM (SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rn
         |              FROM scored)
         |        WHERE rn <= 20),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
         |        FROM (SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 20))
         |SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         |       coalesce(l.lex_rank, 0) AS lex_rank,
         |       coalesce(s.sem_rank, 0) AS sem_rank,
         |       round(CASE WHEN l.lex_rank IS NOT NULL THEN 1.0 / (l.lex_rank + 60) ELSE 0.0 END
         |           + CASE WHEN s.sem_rank IS NOT NULL THEN 1.0 / (s.sem_rank + 60) ELSE 0.0 END,
         |         6) AS rrf
         |FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
         |ORDER BY doc_id""".stripMargin,
    // per-doc top-5 keywords: rank key is the 1e4-quantized tf·ln(N/df)
    // — keep in sync with TextAnalysis.tfidfKeywords
    "text_tfidf" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tk WHERE length(word) > 0 GROUP BY 1, 2),
        |dfw AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, word,
        |              CAST(round(tf * ln(CAST(n.n AS DOUBLE) / df) * 10000) AS BIGINT) AS score_q
        |       FROM tf JOIN dfw USING (word), n)
        |SELECT doc_id, word, round(CAST(score_q AS DOUBLE) / 10000.0, 4) AS tfidf,
        |       CAST(rn AS INTEGER) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY score_q DESC, word) AS rn
        |      FROM sc)
        |WHERE rn <= 5 ORDER BY doc_id, rank""".stripMargin,
    // per-source KMV sketch: k smallest md5 values of the distinct
    // token set; est = (kept-1)/frac(kth) over the 48-bit prefix —
    // keep in sync with TextAnalysis.kmvDistinct (k=64)
    "text_kmv" ->
      s"""WITH tk AS (SELECT DISTINCT source, md5(word) AS h
         |            FROM (SELECT source, unnest(string_split(text, ' ')) AS word
         |                  FROM documents)
         |            WHERE length(word) > 0),
         |mk AS (SELECT source, h,
         |              row_number() OVER (PARTITION BY source ORDER BY h) AS rn
         |       FROM tk),
         |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth_hash
         |        FROM mk WHERE rn <= 64 GROUP BY 1)
         |SELECT source, n_kept, kth_hash,
         |       round((n_kept - 1) / (${hex48Sql("kth_hash")} / ${(1L << 48).toDouble}), 4)
         |         AS est_distinct
         |FROM agg ORDER BY source""".stripMargin,
    // integer-exact PageRank, 5 unrolled iterations over the
    // symmetrized ANN pair graph — keep in sync with Graph.pageRank
    // (damping 0.85, teleport 15%/N, floor division everywhere)
    "graph_pagerank" -> {
      val iters = 5
      val teleportNum = 15L * Graph.PrBase / 100L
      val body = (1 to iters).map { i =>
        s"""c$i AS (SELECT e.dst AS id, sum(p.pr // d.deg) AS s
           |        FROM edges e JOIN p${i - 1} p ON p.id = e.src
           |                     JOIN deg d ON d.src = e.src
           |        GROUP BY 1),
           |p$i AS (SELECT nodes.id,
           |               $teleportNum // n + (85 * coalesce(c$i.s, 0)) // 100 AS pr
           |        FROM nodes CROSS JOIN cnt LEFT JOIN c$i ON c$i.id = nodes.id)""".stripMargin
      }.mkString(",\n")
      s"""${annPairsCtes(Similarity.AnnThreshold)},
         |nodes AS (SELECT vec_id AS id FROM embeddings),
         |cnt AS (SELECT count(*) AS n FROM nodes),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |p0 AS (SELECT id, ${Graph.PrBase} // n AS pr FROM nodes, cnt),
         |$body
         |SELECT id AS vec_id, CAST(pr AS BIGINT) AS pr_scaled,
         |       round(CAST(pr AS DOUBLE) / ${Graph.PrBase}.0, 9) AS pr
         |FROM p$iters ORDER BY vec_id""".stripMargin
    },
    // Gopher rule battery — keep in sync with TextAnalysis.gopherRules
    // (same thresholds: words 20-80, mean len 4.0-10.0 as 1e4 ints,
    // >=2 stop hits, top word <=20%; all fractions floor division)
    "text_gopher" -> {
      val enStop = TextAnalysis.stopwords.filter(_._1 == "en")
        .map(w => s"'${w._2}'").mkString(", ")
      s"""WITH b AS (SELECT doc_id,
         |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |        CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters,
         |        CAST(len(list_filter(string_split(text, ' '),
         |                             w -> w IN ($enStop))) AS BIGINT) AS stop_hits
         |     FROM documents),
         |m AS (SELECT doc_id, max(c) AS top_c FROM (
         |        SELECT doc_id, word, count(*) AS c
         |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |        GROUP BY 1, 2) GROUP BY 1),
         |j AS (SELECT b.doc_id, b.n_words, b.stop_hits,
         |             b.n_letters * 10000 // b.n_words AS mean_len_q,
         |             m.top_c * 10000 // b.n_words AS top_frac_q
         |      FROM b JOIN m USING (doc_id)),
         |f AS (SELECT doc_id, n_words, mean_len_q, stop_hits, top_frac_q,
         |             CAST(n_words BETWEEN 20 AND 80 AS INTEGER) AS wc_ok,
         |             CAST(mean_len_q BETWEEN 40000 AND 100000 AS INTEGER) AS len_ok,
         |             CAST(stop_hits >= 2 AS INTEGER) AS stop_ok,
         |             CAST(top_frac_q <= 2000 AS INTEGER) AS dom_ok
         |      FROM j)
         |SELECT doc_id, n_words, mean_len_q, stop_hits, top_frac_q,
         |       wc_ok, len_ok, stop_ok, dom_ok,
         |       wc_ok * len_ok * stop_ok * dom_ok AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    },
    // degree-ordered triangle counting over the minhash candidate
    // graph — keep in sync with Graph.triangles (orientation by
    // (deg, id), wedges at the low corner, cc as exact floor division)
    "graph_triangles" ->
      s"""WITH $minhashCandCtes,
         |nodes AS (SELECT doc_id AS id FROM documents),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |      UNION ALL SELECT doc_b, doc_a FROM cand),
         |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |o AS (SELECT e.src, e.dst, dd.deg AS degd
         |      FROM e JOIN deg ds ON ds.id = e.src JOIN deg dd ON dd.id = e.dst
         |      WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)),
         |wg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w2
         |       FROM o e1 JOIN o e2 ON e1.src = e2.src
         |        AND (e1.degd < e2.degd OR (e1.degd = e2.degd AND e1.dst < e2.dst))),
         |t AS (SELECT u, v, w2 FROM wg JOIN o ON o.src = wg.v AND o.dst = wg.w2),
         |pn AS (SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
         |       FROM (SELECT u AS id FROM t
         |             UNION ALL SELECT v FROM t
         |             UNION ALL SELECT w2 FROM t) GROUP BY 1)
         |SELECT n.id AS doc_id,
         |       coalesce(deg.deg, 0) AS degree,
         |       coalesce(pn.n_triangles, 0) AS n_triangles,
         |       CAST(CASE WHEN coalesce(deg.deg, 0) >= 2
         |                 THEN (2 * coalesce(pn.n_triangles, 0) * 10000)
         |                      // (deg.deg * (deg.deg - 1))
         |                 ELSE 0 END AS BIGINT) AS cc_q
         |FROM nodes n LEFT JOIN deg ON deg.id = n.id LEFT JOIN pn ON pn.id = n.id
         |ORDER BY doc_id""".stripMargin,
    // unigram self-scoring: mean ln(freq/total) per doc — keep in
    // sync with TextAnalysis.logProb
    "text_logprob" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tk AS (SELECT doc_id, word FROM t WHERE length(word) > 0),
        |u AS (SELECT word, count(*) AS cnt FROM tk GROUP BY word),
        |tot AS (SELECT sum(cnt) AS total FROM u)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       round(sum(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)))
        |             / count(*), 4) AS mean_logprob
        |FROM tk JOIN u USING (word), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bigram conditional with stupid backoff through the unigram —
    // keep in sync with TextAnalysis.logProb2 (minCount=2, backoff=0.4)
    "text_logprob2" ->
      """WITH tk AS (SELECT doc_id, toks
        |            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |            WHERE len(toks) >= 2),
        |bg AS (SELECT doc_id, toks[pos] AS w1, toks[pos + 1] AS w2
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS pos FROM tk)
        |       WHERE length(toks[pos]) > 0 AND length(toks[pos + 1]) > 0),
        |bi AS (SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY 1, 2),
        |kept AS (SELECT * FROM bi WHERE cnt2 >= 2),
        |ctx AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS ctx FROM bi GROUP BY 1),
        |u AS (SELECT word, count(*) AS cnt
        |      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |      WHERE length(word) > 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM u)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(sum(CASE WHEN k.cnt2 IS NOT NULL
        |                      THEN ln(CAST(k.cnt2 AS DOUBLE) / CAST(ctx.ctx AS DOUBLE))
        |                      ELSE ln(0.4 * CAST(u.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
        |                 END) / count(*), 4) AS mean_logprob2
        |FROM bg LEFT JOIN kept k USING (w1, w2)
        |JOIN ctx USING (w1)
        |JOIN u ON u.word = bg.w2, tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // histogram CDF + nearest-rank integer predicate — keep in sync
    // with TextAnalysis.lengthQuantiles
    "text_quantiles" ->
      """WITH h AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
        |                  count(*) AS cnt
        |           FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, len,
        |             sum(cnt) OVER (PARTITION BY lang ORDER BY len) AS cum,
        |             sum(cnt) OVER (PARTITION BY lang) AS n
        |      FROM h)
        |SELECT lang,
        |       CAST(min(CASE WHEN cum * 100 >= n * 25 THEN len END) AS BIGINT) AS p25,
        |       CAST(min(CASE WHEN cum * 100 >= n * 50 THEN len END) AS BIGINT) AS p50,
        |       CAST(min(CASE WHEN cum * 100 >= n * 75 THEN len END) AS BIGINT) AS p75,
        |       CAST(min(CASE WHEN cum * 100 >= n * 90 THEN len END) AS BIGINT) AS p90
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "text_langid" -> {
      val sw = TextAnalysis.stopwords.map { case (l, w) => s"('$l','$w')" }.mkString(", ")
      s"""WITH sw(cand_lang, word) AS (VALUES $sw),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |langs AS (SELECT DISTINCT cand_lang FROM sw),
         |scores AS (
         |  SELECT doc_id, cand_lang, count(*) AS hits
         |  FROM toks JOIN sw USING (word) GROUP BY doc_id, cand_lang),
         |allscores AS (
         |  SELECT d.doc_id, l.cand_lang, coalesce(s.hits, 0) AS hits
         |  FROM (SELECT doc_id FROM documents) d
         |  CROSS JOIN langs l
         |  LEFT JOIN scores s ON s.doc_id = d.doc_id AND s.cand_lang = l.cand_lang)
         |SELECT doc_id, cand_lang AS pred_lang, CAST(hits AS BIGINT) AS score
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                   ORDER BY hits DESC, cand_lang) AS rn
         |      FROM allscores)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    // shared per-doc quality CTE (text_quality's arithmetic + source)
    "pipeline_source_stats" ->
      s"""WITH $docQualityCte
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE)
         |             / 10000.0 / count(*), 4) AS mean_quality
         |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "pipeline_source_cap" ->
      s"""WITH $docQualityCte
         |SELECT doc_id, source, quality, CAST(rn AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY source
         |                                   ORDER BY quality DESC, doc_id) AS rn
         |      FROM q)
         |WHERE rn <= 10 ORDER BY source, rank""".stripMargin,
    "text_quality" -> {
      val enStop = TextAnalysis.stopwords.filter(_._1 == "en").map(w => s"'${w._2}'").mkString(", ")
      s"""SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(len(list_filter(toks, t -> t IN ($enStop))) AS BIGINT) AS stop_hits,
         |       round(least(1.0,
         |         0.5 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) +
         |         0.5 * least(CAST(len(list_filter(toks, t -> t IN ($enStop))) AS DOUBLE) * 4.0
         |                     / len(toks), 1.0)), 4) AS quality
         |FROM ($TOKS)
         |ORDER BY doc_id""".stripMargin
    },
    "text_bpe" ->
      s"""SELECT lang, count(*) AS n_docs,
         |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
         |       CAST(sum(len(regexp_extract_all(text, '${TextAnalysis.BPE_PATTERN}'))) AS BIGINT) AS bpe_tokens
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // The merge loop unrolled: one CTE block per iteration, mirroring
    // TextAnalysis.bpeTrain exactly — lead() pair counts, 1-row argmax
    // (cnt DESC, l, r), gaps-and-islands greedy-overlap resolution,
    // lag-consumed row drop, row_number re-positioning.
    "text_bpe_merges" -> bpeMergesSql(3),
    "text_bpe_apply" -> bpeApplySql(3),
    "text_fingerprint" ->
      s"""SELECT doc_id, min(md5(shingle)) AS fp, count(*) AS n_shingles
         |FROM (${shinglesSql(5)})
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "sim_topk" ->
      s"""WITH qv AS ($QV2),
         |qd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) AS q, n2 FROM qv),
         |probes AS (SELECT vec_id AS probe_id, q AS pq, n2 AS pn2 FROM qd WHERE vec_id < 10),
         |scored AS (
         |  -- quantized values are < 2^53: double dot product is exact
         |  SELECT p.probe_id, v.vec_id,
         |         list_dot_product(p.pq, v.q)
         |           / (sqrt(CAST(p.pn2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE))) AS cos
         |  FROM probes p JOIN qd v ON v.vec_id <> p.probe_id)
         |SELECT probe_id, vec_id AS neighbor_id, round(cos, 6) AS cos_sim,
         |       CAST(rn AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |                                   ORDER BY cos DESC, vec_id) AS rn
         |      FROM scored)
         |WHERE rn <= 5 ORDER BY probe_id, rank""".stripMargin,
    // the sim_topk oracle with the cross-label fence — keep in sync
    // with Similarity.hardNegatives
    "sim_hard_negatives" ->
      s"""WITH qv AS ($QV2),
         |qd AS (SELECT vec_id, label, list_transform(q, x -> CAST(x AS DOUBLE)) AS q, n2 FROM qv),
         |probes AS (SELECT vec_id AS probe_id, label AS p_label, q AS pq, n2 AS pn2
         |           FROM qd WHERE vec_id < 10),
         |scored AS (
         |  SELECT p.probe_id, v.vec_id, v.label,
         |         list_dot_product(p.pq, v.q)
         |           / (sqrt(CAST(p.pn2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE))) AS cos
         |  FROM probes p JOIN qd v
         |    ON v.vec_id <> p.probe_id AND v.label <> p.p_label)
         |SELECT probe_id, vec_id AS neg_id, CAST(label AS INTEGER) AS neg_label,
         |       round(cos, 6) AS cos_sim, CAST(rn AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |                                   ORDER BY cos DESC, vec_id) AS rn
         |      FROM scored)
         |WHERE rn <= 5 ORDER BY probe_id, rank""".stripMargin,
    // the adaptive path (now the default name AND its _adaptive alias)
    // degenerates to the fixed (planes, families) at every gate sf
    // (n <= 2^NumPlanes * targetBucket), so the static CTE is the
    // exact oracle for all three names there; a mis-fired adaptivity
    // (wider sigs at gate scale) would change the candidate set and
    // FAIL this hash gate — the degeneracy itself is what's checked
    "sim_ann_pairs" ->
      s"""${annPairsCtes(Similarity.AnnThreshold)}
         |SELECT id_a, id_b, cos_sim FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,
    "sim_ann_pairs_adaptive" ->
      s"""${annPairsCtes(Similarity.AnnThreshold)}
         |SELECT id_a, id_b, cos_sim FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,
    "sim_ann_pairs_fixed" ->
      s"""${annPairsCtes(Similarity.AnnThreshold)}
         |SELECT id_a, id_b, cos_sim FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,
    // recall audit of the adaptive default: sampled same-bucket pairs
    // (derived B ~ N/32, the lshRecall sampling), exact quantized
    // cosine, caught = the SAME banding's candidate set pre-threshold;
    // theory literals are Scala-computed once (annRecallTheory) and
    // embedded verbatim on both sides — no cross-engine acos/pow
    "sim_ann_recall" -> annRecallOracleSql,
    // unranked threshold variant of the sim_topk oracle — filter on
    // the UNROUNDED cosine, round only for output (matches
    // Similarity.rangeSearch)
    "sim_range" ->
      s"""WITH qv AS ($QV2),
         |qd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) AS q, n2 FROM qv),
         |probes AS (SELECT vec_id AS probe_id, q AS pq, n2 AS pn2 FROM qd WHERE vec_id < 10),
         |scored AS (
         |  SELECT p.probe_id, v.vec_id,
         |         list_dot_product(p.pq, v.q)
         |           / (sqrt(CAST(p.pn2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE))) AS cos
         |  FROM probes p JOIN qd v ON v.vec_id <> p.probe_id)
         |SELECT probe_id, vec_id AS neighbor_id, round(cos, 6) AS cos_sim
         |FROM scored WHERE cos >= ${Similarity.AnnThreshold}
         |ORDER BY probe_id, neighbor_id""".stripMargin,
    "dedup_embedding" ->
      s"""${annPairsCtes(Similarity.AnnThreshold)}
         |SELECT id_a AS doc_a, id_b AS doc_b, cos_sim
         |FROM pairs
         |WHERE id_a IN (SELECT doc_id FROM documents)
         |  AND id_b IN (SELECT doc_id FROM documents)
         |ORDER BY doc_a, doc_b""".stripMargin,
    // transitive closure over the embedding-cosine pair graph — the
    // dedup_components oracle pattern on dedup_embedding's pairs
    "dedup_embedding_components" -> {
      val ann = annPairsCtes(Similarity.AnnThreshold).stripPrefix("WITH ")
      s"""WITH RECURSIVE $ann,
         |epairs AS (SELECT id_a AS doc_a, id_b AS doc_b FROM pairs
         |           WHERE id_a IN (SELECT doc_id FROM documents)
         |             AND id_b IN (SELECT doc_id FROM documents)),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM epairs
         |      UNION SELECT doc_b, doc_a FROM epairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
         |lab AS (SELECT src AS doc_id, least(src, min(dst)) AS rep_doc
         |        FROM reach GROUP BY src)
         |SELECT l.doc_id, l.rep_doc, CAST(c.n AS BIGINT) AS n_docs
         |FROM lab l
         |JOIN (SELECT rep_doc, count(*) AS n FROM lab GROUP BY rep_doc) c
         |  USING (rep_doc)
         |ORDER BY doc_id""".stripMargin
    },
    // md5-byte thresholds into 256ths — keep in sync with
    // Curation.holdoutSplit (train/val/test = 232/12/12)
    "pipeline_split" -> {
      def nib(i: Int) =
        s"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
      s"""SELECT doc_id,
         |       CASE WHEN b < 232 THEN 'train'
         |            WHEN b < 244 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${nib(1)} * 16 + ${nib(2)} AS b FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    // Product quantization unrolled: Lloyd-refined codebook
    // (pqCbCtes), exact-long L2 argmin codes (score = cn2 - 2*dot; n2x
    // constant within the argmin), per-probe LUT, ADC scores — keep in
    // sync with Similarity.pqCodebook/pqCodes/pqTopK. list_dot_product
    // over quantized values < 2^53 is exact, so the BIGINT casts are
    // lossless.
    "sim_pq_topk" -> pqTopKOracleSql,
    // serve-path variant: identical rows (deterministic build), same
    // unrolled-training oracle
    "sim_pq_serve" -> pqTopKOracleSql,
    // IVF x PQ: kmeans coarse cells (kmeansCtes) route probes to their
    // KmeansNprobe nearest cells; candidates in those cells are
    // ADC-scored over the Lloyd-trained codebook — keep in sync with
    // Similarity.ivfPqTopK (no-residual IVFPQ: codes quantize the raw
    // vector, so the codebook CTEs are exactly sim_pq_topk's).
    "sim_ivfpq_topk" -> ivfPqTopKOracleSql,
    // serve-path variant: identical rows (deterministic build), same
    // unrolled-training oracle
    "sim_ivfpq_serve" -> ivfPqTopKOracleSql,
    "sim_ivfpq_pruned" -> ivfPqTopKOracleSql,
    "sim_ivf_topk" ->
      s"""WITH qv AS ($QV2),
         |qd AS (SELECT vec_id, label, list_transform(q, x -> CAST(x AS DOUBLE)) AS qd, n2 FROM qv),
         |pe AS (SELECT label, unnest(q) AS qi, generate_subscripts(q, 1) AS pos FROM qv),
         |cent AS (SELECT label, pos, CAST(SUM(qi) AS BIGINT) AS c FROM pe GROUP BY label, pos),
         |centv AS (
         |  SELECT label AS cell, list(CAST(c AS DOUBLE) ORDER BY pos) AS cv,
         |         CAST(SUM(c * c) AS BIGINT) AS cn2
         |  FROM cent GROUP BY label),
         |assign AS (
         |  SELECT vec_id, cell, qd, n2 FROM (
         |    SELECT v.vec_id, c.cell, v.qd, v.n2,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY list_dot_product(v.qd, c.cv) / sqrt(CAST(c.cn2 AS DOUBLE)) DESC,
         |                      c.cell) AS rn
         |    FROM qd v CROSS JOIN centv c)
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS probe_id, cell, qd AS pq, n2 AS pn2
         |           FROM assign WHERE vec_id < 10),
         |scored AS (
         |  SELECT p.probe_id, a.vec_id,
         |         list_dot_product(p.pq, a.qd)
         |           / (sqrt(CAST(p.pn2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) AS cos
         |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.probe_id)
         |SELECT probe_id, vec_id AS neighbor_id, round(cos, 6) AS cos_sim,
         |       CAST(rn AS INTEGER) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |                                   ORDER BY cos DESC, vec_id) AS rn
         |      FROM scored)
         |WHERE rn <= 5 ORDER BY probe_id, rank""".stripMargin,
    // recall@5 audit: the sim_topk (exact) and sim_ivf_topk (cell-
    // routed) CTE blocks joined per probe — keep in sync with both
    "sim_ivf_recall" ->
      s"""WITH qv AS ($QV2),
         |qd AS (SELECT vec_id, label, list_transform(q, x -> CAST(x AS DOUBLE)) AS qd, n2 FROM qv),
         |exact AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.vec_id AS probe_id, v.vec_id,
         |           row_number() OVER (PARTITION BY p.vec_id
         |             ORDER BY list_dot_product(p.qd, v.qd)
         |                        / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE))) DESC,
         |                      v.vec_id) AS rn
         |    FROM qd p JOIN qd v ON v.vec_id <> p.vec_id
         |    WHERE p.vec_id < 10)
         |  WHERE rn <= 5),
         |pe AS (SELECT label, unnest(q) AS qi, generate_subscripts(q, 1) AS pos FROM qv),
         |cent AS (SELECT label, pos, CAST(SUM(qi) AS BIGINT) AS c FROM pe GROUP BY label, pos),
         |centv AS (
         |  SELECT label AS cell, list(CAST(c AS DOUBLE) ORDER BY pos) AS cv,
         |         CAST(SUM(c * c) AS BIGINT) AS cn2
         |  FROM cent GROUP BY label),
         |assign AS (
         |  SELECT vec_id, cell, qd, n2 FROM (
         |    SELECT v.vec_id, c.cell, v.qd, v.n2,
         |           row_number() OVER (PARTITION BY v.vec_id
         |             ORDER BY list_dot_product(v.qd, c.cv) / sqrt(CAST(c.cn2 AS DOUBLE)) DESC,
         |                      c.cell) AS rn
         |    FROM qd v CROSS JOIN centv c)
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS probe_id, cell, qd AS pq, n2 AS pn2
         |           FROM assign WHERE vec_id < 10),
         |approx AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, a.vec_id,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY list_dot_product(p.pq, a.qd)
         |                        / (sqrt(CAST(p.pn2 AS DOUBLE)) * sqrt(CAST(a.n2 AS DOUBLE))) DESC,
         |                      a.vec_id) AS rn
         |    FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.probe_id)
         |  WHERE rn <= 5)
         |SELECT e.probe_id,
         |       CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |       CAST(count(*) AS BIGINT) AS k,
         |       CAST(count(a.vec_id) * 10000 // count(*) AS BIGINT) AS recall_bp
         |FROM exact e LEFT JOIN approx a
         |  ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
         |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin,
    // Unrolled fixed-iteration spherical k-means (seeded md5 init,
    // integer centroid sums, assignment argmax with score DESC / cell
    // ASC tie-break) — keep in sync with Similarity.kmeansCentroids.
    "sim_ivf_kmeans" -> ivfKmeansOracleSql,
    // serve-path variant: identical rows (deterministic build), same
    // unrolled-training oracle
    "sim_ivf_serve" -> ivfKmeansOracleSql,
    // incremental ingest: Lloyd trains over the BASE slice only (the
    // qv CTE kmeansCtes consumes is the filtered base), then the new
    // batch assigns against the frozen cent2 with the same
    // score-DESC / cell-ASC argmax — keep in sync with
    // Similarity.ivfAppendAssign / assignCells
    "sim_ivf_append" ->
      s"""WITH qvall AS ($QV2),
         |qv AS (SELECT * FROM qvall WHERE vec_id < 400),
         |$kmeansCtes,
         |newd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) AS qd
         |         FROM qvall WHERE vec_id >= 400)
         |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
         |  SELECT n.vec_id, c.cell,
         |         row_number() OVER (PARTITION BY n.vec_id
         |           ORDER BY list_dot_product(n.qd, c.cv)
         |                      / sqrt(CAST(c.cn2 AS DOUBLE)) DESC,
         |                    c.cell) AS rn
         |  FROM newd n CROSS JOIN cent2 c)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // per-cell occupancy of base vs appended batch — keep in sync
    // with Similarity.ivfAppendDrift
    "sim_ivf_drift" ->
      s"""WITH qvall AS ($QV2),
         |qv AS (SELECT * FROM qvall WHERE vec_id < 400),
         |$kmeansCtes,
         |newd AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE)) AS qd
         |         FROM qvall WHERE vec_id >= 400),
         |newasg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY list_dot_product(n.qd, c.cv)
         |                        / sqrt(CAST(c.cn2 AS DOUBLE)) DESC,
         |                      c.cell) AS rn
         |    FROM newd n CROSS JOIN cent2 c)
         |  WHERE rn = 1),
         |bc AS (SELECT cell, count(*) AS n_base FROM asg GROUP BY cell),
         |nc AS (SELECT cell, count(*) AS n_new FROM newasg GROUP BY cell)
         |SELECT CAST(cell AS BIGINT) AS cell,
         |       CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
         |       CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
         |       CAST(coalesce(n_new, 0) * 10000
         |              // (coalesce(n_base, 0) + coalesce(n_new, 0)) AS BIGINT)
         |         AS new_share_bp
         |FROM bc FULL OUTER JOIN nc USING (cell) ORDER BY cell""".stripMargin,
    // ADC error audit: the unrolled PQ training + serve CTEs score
    // every (probe, vector) pair; per-pair errors quantize to 1e-6
    // BEFORE aggregation (exact integer rollup) — keep in sync with
    // Similarity.pqAdcErrors
    "sim_pq_err" ->
      s"""WITH qv AS ($QV2),
         |${pqCbCtes(Similarity.PqIters)},
         |${pqServeCtes(Similarity.PqIters)},
         |adc AS (SELECT l.probe_id, d.vec_id, l.pn2,
         |               CAST(SUM(l.pdot) AS BIGINT) AS adot,
         |               CAST(SUM(d.cn2) AS BIGINT) AS rn2
         |        FROM pqcodes d JOIN pqlut l ON l.m = d.m AND l.code = d.code
         |        WHERE d.vec_id <> l.probe_id
         |        GROUP BY 1, 2, 3),
         |adcs AS (SELECT probe_id, vec_id,
         |                CAST(adot AS DOUBLE)
         |                  / (sqrt(CAST(pn2 AS DOUBLE)) * sqrt(CAST(rn2 AS DOUBLE))) AS adc
         |         FROM adc),
         |ex AS (SELECT p.vec_id AS probe_id, v.vec_id,
         |              list_dot_product(p.q, v.q)
         |                / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE))) AS cos
         |       FROM qv p JOIN qv v ON v.vec_id <> p.vec_id
         |       WHERE p.vec_id < 10),
         |errs AS (SELECT e.probe_id,
         |                CAST(abs(round((a.adc - e.cos) * 1000000)) AS BIGINT) AS err_q
         |         FROM ex e JOIN adcs a USING (probe_id, vec_id))
         |SELECT probe_id, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(err_q) AS BIGINT) AS sum_abs_err_q,
         |       CAST(max(err_q) AS BIGINT) AS max_abs_err_q
         |FROM errs GROUP BY probe_id ORDER BY probe_id""".stripMargin,
    // SemDeDup over the same unrolled Lloyd cells: within-cell pairs,
    // epsilon-ball by id order — keep in sync with
    // Similarity.semanticDedup (threshold = AnnThreshold)
    "dedup_semantic" ->
      s"""WITH qv AS ($QV2),
         |$kmeansCtes,
         |big AS (SELECT cell FROM asg GROUP BY cell
         |        HAVING count(*) > ${Dedup.MaxBandBucket}),
         |close AS (
         |  SELECT a.vec_id, count(*) AS n_close, min(b.vec_id) AS rep_id
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  WHERE a.cell NOT IN (SELECT cell FROM big)
         |    AND list_dot_product(a.qd, b.qd)
         |          / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |        >= ${Similarity.AnnThreshold}
         |  GROUP BY a.vec_id)
         |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
         |       CAST(coalesce(c.n_close, 0) AS BIGINT) AS n_close,
         |       CAST(coalesce(c.rep_id, -1) AS BIGINT) AS rep_id,
         |       CASE WHEN a.cell IN (SELECT cell FROM big) THEN 'mega'
         |            WHEN c.vec_id IS NULL THEN 'keep' ELSE 'drop' END AS status
         |FROM asg a LEFT JOIN close c ON a.vec_id = c.vec_id
         |ORDER BY a.vec_id""".stripMargin,
    "sim_centroids" ->
      s"""WITH qv AS ($QV),
         |pe AS (SELECT label, unnest(q) AS qi,
         |              generate_subscripts(q, 1) - 1 AS pos FROM qv)
         |SELECT label, CAST(pos AS BIGINT) AS pos,
         |       round(CAST(SUM(qi) AS DOUBLE) / COUNT(*) / 1000, 6) AS c
         |FROM pe GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    // The stub decoder is a hi-nibble byte histogram: bin(b) =
    // (b & 0xff) * 16 / 256 = b >> 4, i.e. the byte's first hex digit —
    // which DuckDB can read directly off hex(blob).
    "mm_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image'
        |              WHEN doc_id % 3 = 1 THEN 'audio'
        |              ELSE 'video' END AS kind,
        |         hex(CAST(text AS BLOB)) AS hx,
        |         octet_length(CAST(text AS BLOB)) AS n_bytes
        |  FROM documents),
        |bins AS (SELECT unnest(range(0, 16)) AS feature_pos),
        |cnt AS (
        |  SELECT media_id,
        |         strpos('0123456789ABCDEF', substring(hx, CAST(2 * p + 1 AS INTEGER), 1)) - 1
        |           AS feature_pos,
        |         count(*) AS c
        |  FROM (SELECT media_id, hx, unnest(range(0, n_bytes)) AS p FROM m)
        |  GROUP BY 1, 2)
        |SELECT m.media_id, m.kind, CAST(m.n_bytes AS BIGINT) AS n_bytes,
        |       CAST(b.feature_pos AS BIGINT) AS feature_pos,
        |       round(CAST(coalesce(c.c, 0) AS DOUBLE) / greatest(m.n_bytes, 1), 6)
        |         AS feature_val
        |FROM m CROSS JOIN bins b
        |LEFT JOIN cnt c ON c.media_id = m.media_id AND c.feature_pos = b.feature_pos
        |ORDER BY m.media_id, b.feature_pos""".stripMargin,
    // Real-codec golden: the oracle is the ANALYTIC histogram of the
    // committed PNG patterns (see PngFixtures.golden) — DuckDB never
    // touches the codec, so a decode/fallback bug on the Spark side
    // cannot cancel out of the compare.
    "mm_decode" -> PngFixtures.goldenSql,
    "mm_audio" -> WavFixtures.goldenSql,
    "mm_phash" -> PngFixtures.phashGoldenSql,
    "mm_aphash" -> WavFixtures.aphashGoldenSql,
    "mm_video" -> Y4mFixtures.goldenSql,
    "mm_video_frames" -> Y4mFixtures.framesGoldenSql,
    "mm_features_real" -> MediaFixtures.goldenSql,
    // Byte value at payload index `src` read off hex(blob) — the same
    // strpos trick mm_features uses, as a reusable SQL fragment.
    "mm_resize" -> {
      def hexByte(src: String) =
        s"""((strpos('0123456789ABCDEF', substring(hx, CAST(2 * ($src) + 1 AS INTEGER), 1)) - 1) * 16
           | + (strpos('0123456789ABCDEF', substring(hx, CAST(2 * ($src) + 2 AS INTEGER), 1)) - 1))""".stripMargin
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |         CASE WHEN doc_id % 3 = 0 THEN 'image'
         |              WHEN doc_id % 3 = 1 THEN 'audio'
         |              ELSE 'video' END AS kind,
         |         hex(CAST(text AS BLOB)) AS hx,
         |         octet_length(CAST(text AS BLOB)) AS nb,
         |         n_chars % 64 + 16 AS w,
         |         n_chars % 48 + 12 AS h
         |  FROM documents),
         |px AS (
         |  SELECT media_id, kind, hx, nb,
         |         ((i // 16) * h // 12) * w + ((i % 16) * w // 16) AS src
         |  FROM (SELECT m.*, unnest(range(0, 192)) AS i FROM m))
         |SELECT media_id, kind, CAST(192 AS BIGINT) AS n_bytes,
         |       CAST(sum(CASE WHEN src < nb THEN ${hexByte("src")} ELSE 0 END) AS BIGINT)
         |         AS byte_sum
         |FROM px GROUP BY media_id, kind ORDER BY media_id""".stripMargin
    },
    "mm_frames" -> {
      def hexByte(src: String) =
        s"""((strpos('0123456789ABCDEF', substring(hx, CAST(2 * ($src) + 1 AS INTEGER), 1)) - 1) * 16
           | + (strpos('0123456789ABCDEF', substring(hx, CAST(2 * ($src) + 2 AS INTEGER), 1)) - 1))""".stripMargin
      s"""WITH m AS (
         |  SELECT doc_id AS media_id, hex(CAST(text AS BLOB)) AS hx,
         |         octet_length(CAST(text AS BLOB)) AS nb
         |  FROM documents WHERE doc_id % 3 = 2),
         |fr AS (
         |  SELECT media_id, hx, unnest(range(0, nb // 128)) AS f
         |  FROM m)
         |SELECT media_id, count(*) AS n_frames,
         |       CAST(sum(${hexByte("f * 128")}) AS BIGINT) AS first_byte_sum
         |FROM fr GROUP BY media_id ORDER BY media_id""".stripMargin
    },
    "mm_kind_stats" ->
      """SELECT kind, count(*) AS n_media,
        |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |       round(CAST(sum(width) AS DOUBLE) / count(*), 4) AS avg_width,
        |       round(CAST(sum(height) AS DOUBLE) / count(*), 4) AS avg_height
        |FROM (SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
        |                  WHEN doc_id % 3 = 1 THEN 'audio'
        |                  ELSE 'video' END AS kind,
        |             octet_length(CAST(text AS BLOB)) AS n_bytes,
        |             n_chars % 64 + 16 AS width,
        |             n_chars % 48 + 12 AS height
        |      FROM documents)
        |GROUP BY kind ORDER BY kind""".stripMargin,
  )
}

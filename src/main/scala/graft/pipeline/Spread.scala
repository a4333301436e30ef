package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

/** MAP-SIDE SPREAD of a compact table before a row-exploding
  * transform — the shared fix for the explode-stage partial-aggregate
  * fallback, the engine's single biggest spill mechanism (round 16,
  * SURVEY §21.5; measured at the 300× LSH-recall rung and re-found
  * independently at the 100× span and PQ rungs).
  *
  * The mechanism: a parquet scan of a compact table (docs, quantized
  * vectors) is a handful of input splits, so any EXPLODE planned into
  * the scan stage fans hundreds of millions of rows inside those few
  * map tasks — and the first partial hash aggregate downstream
  * (a distinct, a per-doc groupBy, a per-(vec,m) argmin) falls back
  * to sort-based aggregation under fixed task memory, external-sorting
  * the whole fan per task AND emitting ~2× phantom pass-through
  * shuffle records. Reduce-side partition counts tune NOTHING here:
  * raising them moved the 300× spill 96 → 88 GB, and a global
  * 1024-partition A/B made it WORSE (AQE re-coalesces reduce sides;
  * the map side never changes). The lever is to repartition the
  * COMPACT form (tiny rows — the shuffle is cheap) on the downstream
  * key, so each map task explodes and partial-aggregates a bounded
  * slice; keying by the aggregate's own grouping column also makes
  * the partials exact (one output row per key per task).
  *
  * `rowsPerPart` is the per-family measured divisor — docs (or
  * vectors) per partition, sized so one task's exploded fan is about
  * one task's worth of sort memory:
  *  - 1500 for k-shingle set consumers (distinct / per-doc minhash:
  *    ~100-200 distinct shingles per doc; /2000 left the 100× rung at
  *    250 partitions — just under the 256 session default, so the
  *    rung kept the fallback: 3.2 GB spill, ~170M under-combined
  *    rows. The threshold must bind BEFORE the fallback does.);
  *  - 500 for POSITIONAL shingle consumers (span/winnow planes: every
  *    position survives, ~1k hit rows per doc at the 100× rung);
  *  - 500 for PQ subspace explodes (fan PqM × PqK = 256 per vector;
  *    a /150 A/B traded spill for task-scheduling overhead — x100
  *    wall 11.3 → 17.0 s at 7,364 tasks — so finer is not better).
  *
  * Below the session default the input is returned UNCHANGED — gate
  * scales (sf0.01/sf0.1: thousands of rows) derive far below 256
  * partitions and keep their plans byte-identical, so the oracle gate
  * exercises the same plan shape production runs at small corpora.
  */
object Spread {

  /** Docs per partition for k-shingle SET consumers (distinct /
    * per-doc minhash aggregates) — see the rowsPerPart rationale
    * above. */
  val ShingleSetDocsPerPart = 1500L

  /** Docs per partition for POSITIONAL consumers with a LARGE per-doc
    * fan (~1k rows/doc: winnow's md5-keyed window, jaccard's self-join
    * and pair-aggregate pins): per-task slices must stay small because
    * the fan multiplies them — jaccard at ~1.5M join rows per task
    * measured 25 GB of x100 spill before this pin re-sized it (~0.5M
    * rows/task). Winnow's fp SELF-JOIN moved to the coarser
    * [[PairJoinDocsPerPart]] in round 17 (its fan is ~10× smaller);
    * jaccard's join keys narrowed from 30-60 B strings to 8 B
    * dictionary ids in round 18 — the divisor survived its re-A/B at
    * the narrower shape anyway because the fan, not the key width, is
    * what binds task memory here. */
  val PositionalDocsPerPart = 500L

  /** Docs per partition for the SPAN plane (spanPairs /
    * spanPairsIncremental): its post-join rows are 4 narrow ints
    * (doc_a, doc_b, pos_a, diag), so a 3× coarser slice still sorts
    * in-memory (~36 MB/task at every measured rung) while cutting the
    * shuffle BLOCK count 9× — the divisor trades per-task sort memory
    * against M×R block growth, which is quadratic in the partition
    * count. The x300 spans adjudication (event-log stage attribution,
    * SCALE_r17_x300 vs the /1500 A/B): at /500 the rung ran 3000×3000
    * partitions → 18M ~1 KB local block fetches → run-time 2× CPU+GC
    * (file-op bound, spill 0, records exactly linear — wasted wall,
    * not wasted work); at /1500 the same rung is 92.9 s vs 219.9 s
    * warm, spill still 0, records identical. Env-overridable
    * (SPARK_GRAFT_SPREAD_SPAN) for granularity A/Bs. */
  val SpanDocsPerPart: Long = {
    val v = sys.env.get("SPARK_GRAFT_SPREAD_SPAN")
      .flatMap(_.toLongOption).getOrElse(1500L)
    require(v > 0, s"SPARK_GRAFT_SPREAD_SPAN must be positive, got $v")
    v
  }

  /** Docs per partition for REDUCE-side pair-join pins whose per-doc
    * fan is SMALL (~100-200 rows/doc: winnow's fp table, minhash_err's
    * candidate×shingle intersection feed). Round 17 close-out, the
    * x300 decade-extension of the shingle consumers: winnow's fp
    * self-join at the /500 pin ran 3000 reduce partitions reading a
    * 3000-map-side exchange — 17.3M ~200 B local block fetches per
    * pass, run-time 3× CPU with ~0 fetch wait and spill 0 (the spans
    * R×R block matrix, §22.5, re-found on the JOIN plane); and
    * minhash_err's intersection SMJ, left to AQE, coalesced to 43
    * partitions and spilled 6.25 GB sorting the expanded intermediate
    * (the q21 over-coalesce shape, §22.8). The divisor splits the
    * difference the row-shape law dictates: what binds task memory is
    * rows/task = fan-per-doc × divisor, and these planes' fan is 10×
    * smaller than jaccard's join fan (which measured 25 GB of spill at
    * /1500 ≈ 1.5M rows/task), so /1500 here is ~150-250k rows
    * (~10-15 MB sorts, in-memory) while the block matrix shrinks 9×
    * vs /500. A/B at x300 (SCALE_r17_joinpins vs SCALE_r17_shingle300,
    * same box): winnow warm 130.7 → 54.9 s with records identical
    * (156.6M; the wall stage's per-pass local fetches 17.3M → ≤6.0M
    * and its run-time fell from 3× CPU to near-CPU); minhash_err
    * spill 6.25 GB → 0 at warm 93.0 → 109.0 s — the pin TRADES ~17%
    * single-box wall (1000-way exchange overheads) for zero sort
    * spill, the same direction as the accepted ivfpq /150 A/B: spill
    * compounds with scale and concurrency, task-scheduling overhead
    * amortizes across a real cluster's cores. x10/x30/x100: spill 0
    * at every rung for both queries. */
  val PairJoinDocsPerPart = 1500L

  /** Vectors per partition for PQ subspace explodes (fan PqM × PqK
    * per vector). */
  val SubspaceVecsPerPart = 500L

  /** Vectors per partition for the ANN signature plane
    * ([[Similarity.annPairs]]): the family explode is only 8 rows per
    * vector but each row carries the quantized q array (~300 B), so
    * 5000 vectors ≈ 12-14 MB of signature rows per task — one task's
    * in-memory sort. Round 17, the family-cap probe's side finding
    * (event-log attribution at n=1.6M): the un-spread plane spilled
    * 21.7 GB per pass across three stages — the signature explode
    * inside the 34-split scan (7.5 GB), the bucket join's SMJ sorts
    * at 128 AQE-coalesced partitions (9.3 GB), and the pair distinct
    * re-reduced at 34 AQE partitions (4.7 GB) — the §21.5 + §21.8
    * triple, one plane later. */
  val SigVecsPerPart = 5000L

  /** Exact row count of a compact table, a [[graft.BuildCache]] entry —
    * partitioning INPUT, so it must be exact (Catalyst size estimates
    * multiply through derived plans: a test corpus built by transforms
    * claimed 3.9 GB and derived a 62k-partition shuffle) but must not
    * re-run per plan build. */
  def memoCount(df: DataFrame, idCol: String): Long =
    graft.BuildCache("rowCount", graft.BuildCache.of(df))(df.select(idCol).count())

  /** Partition count the spread (and any downstream keyed repartition
    * sharing its scale) should use: ~1 partition per `rowsPerPart`
    * compact rows, never below the session default. */
  def parts(df: DataFrame, n: Long, rowsPerPart: Long): Int = {
    val defaultParts = df.sparkSession.sessionState.conf.numShufflePartitions
    math.max(defaultParts, (n / rowsPerPart).toInt)
  }

  /** Spread `df` (n rows, compact) across [[parts]] partitions hashed
    * on `keys` — identity below the session default. */
  def byKey(df: DataFrame, n: Long, rowsPerPart: Long, keys: Column*): DataFrame = {
    val defaultParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val p = parts(df, n, rowsPerPart)
    if (p > defaultParts) df.repartition(p, keys: _*) else df
  }

  /** Bind floor for [[byKeyFloored]]: the raw derived partition count
    * (n / rowsPerPart) at which the spread fires even though it is
    * below the session default. The identity-below-default heuristic
    * of [[byKey]] conflates "few partitions needed" with "no spread
    * needed" — the fallback fires whenever the exploded fan outgrows
    * the SCAN stage's few input splits, which happens far below the
    * session partition count: the /1500 span divisor left the x30
    * rung (150k docs, raw 100 < 256) unspread and the §21.5 fallback
    * returned with 22.9 GB of spill on a rung that was clean at /500
    * only because 300 > 256 happened to bind. 64 raw parts ≈ 100k
    * docs at the span divisor — comfortably below the measured x10
    * clean-identity rung (50k docs, raw 33, spill 0) and the x30
    * cliff. Gate scales (≤ 5k docs, raw ≤ 3) keep identity plans. */
  val BindFloor = 64L

  /** [[byKey]] that fires at [[BindFloor]] raw parts instead of the
    * session default, spreading across max(session default, raw)
    * partitions — for explode fans big enough to fallback while their
    * derived partition count is still below the session default. */
  def byKeyFloored(df: DataFrame, n: Long, rowsPerPart: Long, keys: Column*): DataFrame =
    if (n / rowsPerPart >= BindFloor) df.repartition(parts(df, n, rowsPerPart), keys: _*)
    else df

  /** [[byKey]] with the count supplied by [[memoCount]] on `idCol`,
    * which is also the hash key — the common "spread docs by doc_id"
    * call shape. */
  def byId(df: DataFrame, idCol: String, rowsPerPart: Long): DataFrame =
    byKey(df, memoCount(df, idCol), rowsPerPart, org.apache.spark.sql.functions.col(idCol))

  /** [[byKey]] that repartitions even below the session default — for
    * plans whose consumer branches SHARE the spread exchange as their
    * ReuseExchange anchor (e.g. [[Dedup.jaccardPairs]], where the df
    * cap, both self-join sides and the sizes aggregate all read it):
    * without an exchange, a sub-threshold corpus would be re-scanned
    * once per branch. The compact table is tiny by definition, so the
    * always-exchange costs one small shuffle and buys one-scan plans
    * at every scale. */
  def anchorByKey(df: DataFrame, n: Long, rowsPerPart: Long, keys: Column*): DataFrame =
    df.repartition(parts(df, n, rowsPerPart), keys: _*)
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (vec_id, embedding:
  * array<float>, label).
  *
  * Embeddings are quantized to integers (round(x * Q)) before any
  * distance math. That makes every dot product / norm an exact integer
  * sum — reproducible bit-for-bit across engines and partitionings —
  * while costing ~1e-3 relative error, far below ranking resolution.
  * (Float summation order is nondeterministic under shuffle; an
  * integer dot product is not.) cosine = dot / (sqrt(n2a) * sqrt(n2b))
  * is then a deterministic function of exact integers.
  *
  * Scale paths:
  *  - [[bruteTopK]]: probe set x corpus broadcast join — the baseline;
  *    right answer, O(P*N) — fine for small probe sets at any N.
  *  - [[lshBuckets]] / [[annPairs]]: random-hyperplane LSH — the
  *    hyperplanes are integer-arithmetic pseudo-vectors, so bucket
  *    assignment is also exact. Only same-bucket pairs are compared:
  *    the all-pairs blowup never materializes.
  */
object Similarity {

  val Q = 1000L

  /** Bits per hyperplane family. Collision prob of a pair at angle θ
    * is (1 − θ/π)^NumPlanes within one family — raise this with corpus
    * size to keep buckets small. */
  val NumPlanes = 6

  /** Independent hyperplane families (OR of bands, like minhash's 4×2
    * banding): a pair is a candidate if it collides in ANY family, so
    * recall lost to more bits per family is bought back with more
    * families — the two knobs scale independently of each other. */
  val NumFamilies = 2

  // p99 of pairwise cosine on the synthetic embeddings is ~0.29; 0.3
  // keeps the verified set small but non-empty at every sf
  val AnnThreshold = 0.3

  private val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline.Similarity")

  /** Per-dimension corpus statistics over the quantized embeddings:
    * count, min, max, sum and sum-of-squares of q plus the floor-div
    * mean in milli-q units — the embedding-hygiene audit run before
    * any ANN index build (a dead dimension, an off-center mean, or a
    * wild range says re-normalize before paying for the index).
    * Everything is an exact integer aggregate of 1e3-quantized values
    * (sum_q2 ≤ n·1e6 holds to trillions of rows in a long); variance
    * is left to the consumer as (n·sum_q2 − sum_q²)/n² so this
    * operator never divides by n² itself. One posexplode → one
    * partial-aggregating groupBy(dim); output is |dims| rows.
    * Output: (dim, n, min_q, max_q, sum_q, sum_q2, mean_mq). */
  def dimStats(emb: DataFrame): DataFrame =
    quantized(emb)
      .select(posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        min("x").as("min_q"),
        max("x").as("max_q"),
        sum("x").as("sum_q"),
        sum(col("x") * col("x")).as("sum_q2"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        col("min_q"), col("max_q"), col("sum_q"), col("sum_q2"))
      .withColumn("mean_mq", expr("sum_q * 1000 div n"))

  /** (vec_id, label, q: array<long>, n2: long) — quantized vectors. */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(
      col("vec_id"), col("label"),
      // cast float -> double BEFORE scaling: both engines must round
      // the same double value or boundary elements quantize differently
      transform(col("embedding"), x => round(x.cast("double") * Q).cast("long")).as("q"))
      .withColumn("n2", dot(emb.sparkSession, col("q"), col("q")))

  // native codegen'd integer dot product — the HOF spelling
  // aggregate(zip_with(a, b, _*_), ...) evaluates interpreted in the
  // hot loop of every similarity operator (see functions.DotProductLong)
  private def dot(spark: org.apache.spark.sql.SparkSession,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.DotProductLong.dotLong(spark, a, b)

  /** Exact brute-force cosine top-k for a probe set. The probe side is
    * broadcast; the corpus streams — no shuffle of the corpus. */
  def bruteTopK(emb: DataFrame, probeIds: Seq[Long], k: Int = 5): DataFrame = {
    val qv = quantized(emb)
    val probes = qv
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("n2").as("pn2"))
    val joined = qv.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        dot(emb.sparkSession, col("pq"), col("q")).cast("double") /
          (sqrt(col("pn2").cast("double")) * sqrt(col("n2").cast("double"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"), col("rank"))
  }

  // The deterministic hyperplane-component formula
  // ((i+1) * (plane+3) * 2654435761) % 2000001 − 1000000 lives in
  // graft.functions.PlaneSignature (round 15); keep it in sync with
  // the SQL spelling in the oracle CTEs.

  /** Sign-of-dot LSH signatures, one row per (vector, family):
    * `numFamilies` independent families of `numPlanes` bits each
    * (family f uses global plane indices f*numPlanes ..
    * f*numPlanes+numPlanes-1). Carries q/n2 so callers don't
    * re-quantize + re-join.
    *
    * A pure per-row PROJECTION (round 15): each sig bit is one
    * codegen'd [[graft.functions.PlaneSignature]] loop over the vector.
    * The previous spelling posexploded every vector into a row per
    * dimension and summed the plane dots under a groupBy(vec_id) —
    * 64× the rows, each dragging the full q array through a hash
    * aggregate whose sort-fallback spilled 4.3 GB at the 100× rung
    * (SCALE_r15_lsh solo run: identical 4,305,084,906-byte spill on
    * both ANN variants — the shared signature stage — on a query
    * whose entire shuffle is 178 MB). Map-side expressions need no
    * fan, no aggregate, and no exchange at all before the bucket
    * join.
    *
    * The sig columns live in the codegen'd child PROJECTION (never in
    * the generator expression — GenerateExec evaluates generators
    * INTERPRETED, a measured 11 s → 103 s cliff), and each family is
    * ONE [[graft.functions.PlaneSignature]] expression whose
    * generated code is a single static call — see that scaladoc for
    * the second, JIT-side cliff this shape dodges. */
  def lshFamilySignatures(emb: DataFrame,
      numFamilies: Int = NumFamilies,
      numPlanes: Int = NumPlanes): DataFrame = {
    val spark = emb.sparkSession
    val qv = quantized(emb)
    val sigCols = (0 until numFamilies).map { f =>
      graft.functions.PlaneSignature
        .planeSig(spark, col("q"), f * numPlanes, numPlanes).as(s"sig$f")
    }
    val famStructs = (0 until numFamilies).map { f =>
      struct(lit(f).as("family"), col(s"sig$f").as("sig"))
    }
    qv
      .select(Seq(col("vec_id"), col("q"), col("n2")) ++ sigCols: _*)
      .select(col("vec_id"), col("q"), col("n2"),
        explode(array(famStructs: _*)).as("fs"))
      .select(col("vec_id"), col("fs.family").as("family"), col("fs.sig").as("sig"),
        col("q"), col("n2"))
  }

  /** ANN near-dup pairs: same LSH bucket in ANY family, verified
    * quantized cosine >= threshold. Join is on (family, sig) —
    * candidates only, and candidate generation is bounded the same two
    * ways as the text-plane LSH ([[Dedup.minhashCandidates]]):
    *
    *  - a bucket with more than `maxBucket` members leaves candidate
    *    generation via a two-phase groupBy.count over-cap blacklist +
    *    broadcast anti-join (partial-aggregating, so the hot bucket
    *    never floods one task; the blacklist is provably tiny — at most
    *    corpus/maxBucket rows). A pair is lost only if EVERY family
    *    buckets it into a mega-cluster — near-identical boilerplate
    *    embeddings, which group/exact dedup reports as one group row;
    *  - banding: more bits per family (smaller buckets at bigger
    *    corpora) is paid for with more families, not with recall.
    *
    * Without the cap the join is ~N²/2^NumPlanes — quadratic at any
    * fixed signature width. */
  def annPairs(emb: DataFrame, threshold: Double = AnnThreshold,
      maxBucket: Long = Dedup.MaxBandBucket,
      numFamilies: Int = NumFamilies,
      numPlanes: Int = NumPlanes): DataFrame = {
    log.info(s"annPairs: LSH buckets with > $maxBucket vectors are dropped from " +
      "the candidate join (bounded d^2 blowup); mega-cluster membership is " +
      "reported by group-dedup, not pairwise")
    // Spread-policy rollout (round 17 — the family-cap probe's
    // event-log attribution at n=1.6M measured the un-spread plane
    // spilling 21.7 GB/pass in the [[Dedup.Spread]] triple:
    // explode-in-scan, AQE-coalesced join sorts, re-reduced distinct;
    // see [[Spread.SigVecsPerPart]]). All three treatments bind at
    // [[Spread.BindFloor]] raw parts — gate scales (n ≤ 5k, raw 1)
    // keep byte-identical plans, preserving the adaptive-path
    // bit-identity the oracle gate relies on.
    val nVec = corpusN(emb)
    val sigParts = Spread.parts(emb, nVec, Spread.SigVecsPerPart)
    val bind = nVec / Spread.SigVecsPerPart >= Spread.BindFloor
    val sigs = lshFamilySignatures(
      Spread.byKeyFloored(emb, nVec, Spread.SigVecsPerPart, col("vec_id")),
      numFamilies, numPlanes)
    // two-phase skew-safe cap (see Dedup.minhashCandidates): partial-agg
    // counts -> tiny over-cap blacklist -> broadcast anti-join drops
    // mega-buckets map-side, before the self-join shuffle
    val overCap = sigs
      .groupBy("family", "sig").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("family"), col("sig"))
    val kept0 = sigs.join(broadcast(overCap), Seq("family", "sig"), "left_anti")
    // JOIN-KEY pin: the SMJ's sorts run above this exchange (which the
    // join needs anyway) at sigParts instead of AQE's 64 MB-advisory
    // coalesce — signature rows are wide (q array), so the coalesced
    // tasks sorted ~50 MB each and spilled 9.3 GB at n=1.6M
    val kept =
      if (bind) kept0.repartition(sigParts, col("family"), col("sig"))
      else kept0
    val a = kept.select(col("family"), col("sig"), col("vec_id").as("id_a"),
      col("q").as("q_a"), col("n2").as("n2_a"))
    val b = kept.select(col("family"), col("sig"), col("vec_id").as("id_b"),
      col("q").as("q_b"), col("n2").as("n2_b"))
    val scored = a.join(b, Seq("family", "sig"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(emb.sparkSession, col("q_a"), col("q_b")).cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))))
      .filter(col("cos") >= threshold)
      // a pair colliding in several families computes the SAME exact
      // cosine each time (deterministic function of exact integers), so
      // distinct after the cheap threshold filter dedups the OR of bands
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos_sim"))
    // PAIR-KEY pin before the distinct (§21.8: multi-family collisions
    // are rare, so the partial distinct combines ~nothing and AQE
    // coalesced the narrow pair exchange to 34 partitions at n=1.6M —
    // 4.7 GB of re-reduction spill); the explicit exchange is
    // byte-neutral and AQE-exempt, and both distinct passes land
    // above it
    val pinned =
      if (bind) scored.repartition(sigParts, col("id_a"), col("id_b"))
      else scored
    pinned.distinct()
  }

  /** Corpus-sized LSH parameters — the round-13 answer to the byte
    * ladder's finding that FIXED-width hyperplane LSH grows candidate
    * volume super-linearly (SCALE_r13: the embedding pair plane's
    * shuffle bytes fitted α≈1.5 at fixed 6-bit signatures, because
    * expected bucket occupancy n/2^bits grows with n and same-bucket
    * candidates grow with occupancy²  until the skew cap truncates —
    * and a cap that fires on RANDOM collisions costs recall, not just
    * time). The textbook fix, named in [[annPairs]]'s scaladoc since
    * round 10, now implemented:
    *
    *  - planes = max(base, ceil(log2(n / targetBucket))): expected
    *    bucket occupancy stays ~targetBucket at ANY corpus size, so
    *    per-bucket candidate generation stays O(n · targetBucket) —
    *    linear — and the cap returns to its designed role (data skew
    *    backstop, not random-collision bailout);
    *  - families grow with the added bits to hold recall at the
    *    reference similarity: a pair at cosine-similarity s collides
    *    per-family with prob ~s^planes, so each added plane divides
    *    per-family recall by s — families ×(1/refSim)^(planes−base)
    *    buys it back (OR over families), capped at maxFamilies
    *    because family count is the multiplicative COST knob (sig
    *    compute and bucket rows are both ∝ families·planes — the
    *    O(log n) per-vector price every banded LSH pays at scale).
    *
    * At the oracle gate scales (n ≤ 2^base·targetBucket) this
    * DEGENERATES to (base, NumFamilies) — the adaptive path is
    * bit-identical to [[annPairs]] there, which is what lets the
    * driver's SQL oracle (static plane count) gate it; the adaptivity
    * itself is spec-pinned on a replicated corpus and measured by the
    * scale ladder's byte exponents.
    *
    * RECALL FLOOR AT CAPPED WIDTHS (round 15 — measured, not just
    * modeled): the post-cap trade is gated by a spec that runs the
    * banded join itself at planes > NumPlanes with families held at
    * the cap, on a corpus of planted ~0.8-cosine pairs
    * (PipelineSpec "capped-width LSH"): observed recall must sit
    * within [model − 0.15, model + 0.25] of [[estimatedLshRecall]]
    * applied per pair (per-plane agreement 1 − θ/π) and strictly
    * below 0.9 — the trade is real, bounded by the model, and
    * exact-dup pairs (cos = 1, width-invariant) are never lost. */
  def adaptiveLshParams(n: Long, targetBucket: Long = 64L,
      refSim: Double = 0.85, maxFamilies: Int = 8): (Int, Int) = {
    require(n >= 0 && targetBucket > 0 && refSim > 0 && refSim < 1)
    val want = math.max(1L, (n + targetBucket - 1) / targetBucket)
    val planes = math.max(NumPlanes,
      64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, want - 1)))
    val uncapped = math.max(NumFamilies,
      math.ceil(NumFamilies * math.pow(1.0 / refSim, (planes - NumPlanes).toDouble)).toInt)
    val fams = math.min(maxFamilies, uncapped)
    // once the family cap binds (n ≳ 1M at the defaults) each further
    // plane divides per-family recall by refSim with nothing buying it
    // back — make the trade LOUD, not silent (r13 advice): report the
    // model's recall at the reference similarity so an operator sizing
    // a corpus sees the decay and can raise maxFamilies / targetBucket
    // (cost knobs) deliberately. Exact duplicates (cos = 1) are
    // width-invariant and unaffected.
    if (uncapped > maxFamilies)
      log.warn(f"adaptiveLshParams: family cap $maxFamilies binds at n=$n " +
        f"(planes=$planes, uncapped families=$uncapped) — estimated recall " +
        f"at sim=$refSim%.2f is ${estimatedLshRecall(planes, fams, refSim)}%.3f " +
        "(exact-dup recall unaffected); raise maxFamilies/targetBucket to buy it back")
    (planes, fams)
  }

  /** OR-over-families collision probability for a pair whose per-plane
    * sign-agreement probability is `s` — the recall model behind
    * [[adaptiveLshParams]]'s compensation rule (per-family collision
    * s^planes, independent families): 1 − (1 − s^planes)^families.
    * Pure math, spec-pinned (PipelineSpec) so the post-cap decay curve
    * is a documented number, not a guess. */
  def estimatedLshRecall(planes: Int, families: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, planes.toDouble), families.toDouble)

  /** The corpus row count, memoized ([[Spread.memoCount]]). */
  def corpusN(emb: DataFrame): Long = Spread.memoCount(emb, "vec_id")

  /** [[annPairs]] with corpus-sized signatures ([[adaptiveLshParams]]).
    * The corpus count rides the session memo ([[corpusN]]). */
  def annPairsAdaptive(emb: DataFrame, threshold: Double = AnnThreshold,
      maxBucket: Long = Dedup.MaxBandBucket,
      targetBucket: Long = 64L): DataFrame = {
    val n = corpusN(emb)
    val (planes, fams) = adaptiveLshParams(n, targetBucket)
    log.info(s"annPairsAdaptive: n=$n -> planes=$planes families=$fams")
    annPairs(emb, threshold, maxBucket, numFamilies = fams, numPlanes = planes)
  }

  /** The candidate-pair set of [[annPairs]]' banding BEFORE cosine
    * verification — same signatures, same two-phase skew cap, same
    * (family, sig) self-join, minus the q/n2 carry and the threshold.
    * This is what a recall audit must score against: the verify step
    * is EXACT, so on true pairs ≥ threshold the banding's candidate
    * recall IS the served output's recall. */
  private[graft] def annCandidates(emb: DataFrame,
      maxBucket: Long = Dedup.MaxBandBucket,
      numFamilies: Int = NumFamilies,
      numPlanes: Int = NumPlanes): DataFrame = {
    val sigs = lshFamilySignatures(emb, numFamilies, numPlanes)
      .select("family", "sig", "vec_id")
    val overCap = sigs
      .groupBy("family", "sig").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("family"), col("sig"))
    val kept = sigs.join(broadcast(overCap), Seq("family", "sig"), "left_anti")
    kept.select(col("family"), col("sig"), col("vec_id").as("id_a"))
      .join(kept.select(col("family"), col("sig"), col("vec_id").as("id_b")),
        Seq("family", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** ANN RECALL audit over a deterministic pair sample — the
    * hyperplane-family analogue of [[Dedup.lshRecall]] (r15 verdict
    * #4: the adaptive default's candidate VOLUME was measured linear
    * to 100×, but its observed recall vs the exact pair set had only
    * ever been measured at fixture scale and for the minhash family).
    * Vectors sharing a hash bucket (md5 48-bit mod B, B derived ~N/32)
    * form the sampled pair set — ~16·N pairs at any corpus size, fan
    * per bucket ~32 by construction. Per sampled pair: the EXACT
    * quantized cosine (integer dot, the only doubles are final
    * sqrt/div — IEEE-exact in both engines), and whether
    * [[annPairsAdaptive]]'s banding ([[annCandidates]] at the SAME
    * adaptive width) caught it. Output per cosine decile: pair count,
    * caught count, capture rate, and the hyperplane model's prediction
    * [[estimatedLshRecall]](planes, fams, 1 − acos(mid)/π) at the
    * decile midpoint — observed-vs-theory is the number that sizes
    * (planes × families) before a 100 TB corpus trusts its ANN recall.
    *
    * The theory column is a pure function of (planes, fams, decile):
    * its 10 values are computed HERE, once, driver-side, and attached
    * as literals — the SQL oracle embeds the same Scala-computed
    * values, so no transcendental (acos/pow) is ever evaluated by two
    * engines and rounded to agreement.
    *
    * CARRY SHAPE, audited against [[Dedup.lshRecall]]'s r15 surgery:
    * the bucket id is a pure function of vec_id computed map-side; the
    * pair sample is ONE self-join of the bucket-tagged quantized table
    * (both q vectors ride the join output only as far as the adjacent
    * cosine projection — never shuffled again); caught joins on the
    * (id_a, id_b) key the sample is already partitioned by. No
    * pair × dimension fan anywhere. */
  /** The 10 decile-midpoint theory values for an (planes, fams)
    * banding — [[estimatedLshRecall]] at per-plane agreement
    * 1 − acos((d + 0.5)/10)/π, rounded to 4 decimals ONCE, here.
    * [[annRecall]] attaches them as literals and the SQL oracle embeds
    * the same call's output, so both engines display identical
    * constants instead of agreeing on transcendentals. */
  def annRecallTheory(planes: Int, fams: Int): Seq[(Int, Double)] =
    (0 to 9).map { d =>
      val mid = (d + 0.5) / 10.0
      d -> BigDecimal(estimatedLshRecall(planes, fams, 1.0 - math.acos(mid) / math.Pi))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

  def annRecall(emb: DataFrame, nBuckets: Int = 0,
      maxBucket: Long = Dedup.MaxBandBucket,
      targetBucket: Long = 64L): DataFrame = {
    val spark = emb.sparkSession
    val n = corpusN(emb)
    val (planes, fams) = adaptiveLshParams(n, targetBucket)
    val buckets = if (nBuckets > 0) nBuckets.toLong else math.max(16L, n / 32)
    def pbOf(id: org.apache.spark.sql.Column) =
      conv(substring(md5(id.cast("string")), 1, 12), 16, 10).cast("long") % buckets
    val qv = quantized(emb)
      .select(col("vec_id"), col("q"), col("n2"))
      .withColumn("pb", pbOf(col("vec_id")))
    val pairs = qv.as("a").join(qv.as("b"),
        col("a.pb") === col("b.pb") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        (dot(spark, col("a.q"), col("b.q")).cast("double") /
          (sqrt(col("a.n2").cast("double")) * sqrt(col("b.n2").cast("double")))).as("cos"))
    val caught = annCandidates(emb, maxBucket, fams, planes)
      .withColumn("caught", lit(1L))
    val theoryCol = annRecallTheory(planes, fams).foldLeft(lit(null).cast("double")) {
      case (acc, (d, v)) => when(col("decile") === d, lit(v)).otherwise(acc)
    }
    pairs
      .join(caught, Seq("id_a", "id_b"), "left")
      .withColumn("decile",
        greatest(lit(0L), least(lit(9L), floor(col("cos") * 10))).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("capture_bp", expr("n_caught * 10000 div n_pairs"))
      .withColumn("theory", theoryCol)
      .select(col("decile"), col("n_pairs"), col("n_caught"),
        col("capture_bp"), col("theory"))
  }

  /** IVF (inverted-file) top-k — the ANN scale path: a coarse
    * quantizer (integer centroid SUMS per label cell, so assignment is
    * exact integer math — cosine argmax is scale-invariant, so the
    * un-normalized sum works as the centroid) routes each probe to its
    * nearest cell, and only that cell's vectors are scored. nprobe=1;
    * the cells come from the label partition (10 cells here — at scale
    * a k-means pass would build them the same shape).
    *
    * Everything stays deterministic across engines: centroid
    * components are exact longs, dots are exact longs, the only
    * doubles are final sqrt/div of exact integers. */
  def ivfTopK(emb: DataFrame, probeIds: Seq[Long], k: Int = 5): DataFrame =
    ivfTopKFromIndex(ivfIndex(emb), probeIds, k)

  /** The IVF index: every vector assigned to its nearest coarse cell,
    * carrying (q, n2) so probing needs no re-quantization. This is the
    * "build once, query many" half of IVF — at corpus scale, persist
    * or write this once (e.g. `ivfIndex(emb).write.partitionBy("cell")
    * .parquet(...)`) and serve every top-k query from it; cell-local
    * probing then reads only the probed cells' partitions. */
  def ivfIndex(emb: DataFrame): DataFrame = {
    val qv = quantized(emb)
    // integer centroid sums per (label cell, dim)
    val cent = qv
      .select(col("label").cast("long").as("cell"), col("q"))
      .transform(centroidsOf)
    assignCells(qv, cent)
  }

  /** Integer centroid per cell: element-wise SUM of the member vectors
    * (cosine argmax is scale-invariant, so the un-normalized sum works
    * as the centroid and stays exact), plus its squared norm. Input:
    * (cell, q); output: (cell, cv: array<long>, cn2: long). */
  private def centroidsOf(members: DataFrame): DataFrame =
    members
      .select(col("cell"), posexplode(col("q")).as(Seq("pos", "qi")))
      .groupBy("cell", "pos")
      .agg(sum("qi").as("c"))
      .groupBy("cell")
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("c")))), _.getField("c"))
          .as("cv"),
        sum(col("c") * col("c")).as("cn2"))
      .select(col("cell"), col("cv"), col("cn2"))

  /** Assign every vector to its nearest coarse cell (cosine argmax ==
    * dot/|c| argmax since |q| is constant per vector). max_by over a
    * (cscore, -cell) struct = hash aggregate — no sort, no window
    * shuffle; tie-break matches "score DESC, cell ASC" exactly
    * because struct comparison is lexicographic. The centroid table is
    * k rows — genuinely broadcast-safe at any corpus size. */
  private def assignCells(qv: DataFrame, cent: DataFrame): DataFrame =
    qv
      .crossJoin(broadcast(cent))
      .withColumn("cscore",
        dot(qv.sparkSession, col("q"), col("cv")).cast("double") / sqrt(col("cn2").cast("double")))
      .groupBy("vec_id")
      .agg(max_by(
        struct(col("cell"), col("q"), col("n2")),
        struct(col("cscore"), (-col("cell")).as("negcell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.q").as("q"), col("best.n2").as("n2"))

  val KmeansK = 8
  val KmeansIters = 2

  /** Label-free coarse quantizer: fixed-iteration spherical k-means
    * (Lloyd) in exact integer arithmetic, deterministic across engines
    * and partitionings:
    *
    *  - init: the k vectors with the smallest md5(vec_id) — a seeded
    *    pseudo-random draw both engines spell identically; each seed's
    *    own vec_id is its cell id;
    *  - assign: cosine argmax against integer centroid sums (exact
    *    long dots; ties broken score DESC, cell ASC);
    *  - update: element-wise integer SUM of members (un-normalized —
    *    cosine is scale-invariant, so no division ever happens);
    *  - repeat `iters` times. Cells that lose all members vanish (both
    *    engines drop them identically).
    *
    * One corpus pass per iteration (the k-row centroid table is
    * broadcast) — the standard k-means cost model; iters is small and
    * fixed, so the 100 TB cost is `iters + 1` scans, not a convergence
    * gamble. */
  def kmeansCentroids(emb: DataFrame, k: Int = KmeansK, iters: Int = KmeansIters): DataFrame = {
    // persist the quantized corpus for the iteration loop (the MLlib
    // KMeans pattern): every iteration executes eagerly via
    // localized(), so without this each one re-scans the parquet and
    // re-quantizes every vector. MEMORY_AND_DISK: spills rather than
    // OOMs when the corpus outgrows executor memory.
    val qv = quantized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try kmeansCentroidsFrom(qv, k, iters) finally qv.unpersist(false)
  }

  /** [[kmeansCentroids]] against an ALREADY-PERSISTED quantized corpus
    * — composite builds ([[ivfPqIndex]]) quantize once and share. */
  private[pipeline] def kmeansCentroidsFrom(qv: DataFrame, k: Int = KmeansK,
      iters: Int = KmeansIters): DataFrame = {
    val spark = qv.sparkSession
    import spark.implicits._
    // materialize each iteration's k centroid rows (k x dim longs —
    // bounded by construction, the same driver-side step MLlib's
    // KMeans takes): without this the lazy lineage replays every
    // previous iteration inside the next one — measured 16 corpus
    // scans in the final plan for iters=2; with it, each Lloyd
    // iteration is exactly ONE corpus scan against a local centroid
    // table, and values are bit-identical (same plan per iteration,
    // just cut at the k-row boundary)
    def localized(cent: DataFrame): DataFrame =
      cent.select(col("cell"), col("cv"), col("cn2"))
        .as[(Long, Seq[Long], Long)].collect().toSeq
        .toDF("cell", "cv", "cn2")
    var cent = localized(qv
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cell"), col("q").as("cv"), col("n2").as("cn2")))
    for (_ <- 1 to iters)
      cent = localized(centroidsOf(assignCells(qv, cent).select(col("cell"), col("q"))))
    cent
  }

  /** [[ivfIndex]] with the label column replaced by learned k-means
    * cells — the build path a real (unlabeled) 100 TB corpus needs.
    * Same output shape; [[ivfTopKFromIndex]] serves from it
    * unchanged. */
  def ivfIndexKmeans(emb: DataFrame, k: Int = KmeansK, iters: Int = KmeansIters): DataFrame =
    assignCells(quantized(emb), kmeansCentroids(emb, k, iters))

  /** Multi-probe IVF top-k: each probe is routed to its `nprobe`
    * NEAREST cells (not just its own assignment) and scored against
    * only those cells' vectors — the standard IVF recall knob. The
    * centroid table is k rows, so ranking a probe's cells is a window
    * over k rows per probe (bounded by construction); the candidate
    * read stays O(nprobe/k of the corpus) and partition-prunes when
    * the index is stored cell-partitioned. */
  def ivfTopKNprobe(assign: DataFrame, cent: DataFrame, probeIds: Seq[Long],
      k: Int = 5, nprobe: Int = 2): DataFrame = {
    val probes = assign
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("n2").as("pn2"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("cscore"), asc("cell"))
    val probeCells = probes
      .crossJoin(broadcast(cent))
      .withColumn("cscore",
        dot(assign.sparkSession, col("pq"), col("cv")).cast("double") / sqrt(col("cn2").cast("double")))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("probe_id"), col("cell"), col("pq"), col("pn2"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    assign
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        dot(assign.sparkSession, col("pq"), col("q")).cast("double") /
          (sqrt(col("pn2").cast("double")) * sqrt(col("n2").cast("double"))))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"), col("rank"))
  }

  val KmeansNprobe = 2

  /** Label-free ANN serve path: k-means index + multi-probe search. */
  def ivfTopKKmeans(emb: DataFrame, probeIds: Seq[Long], k: Int = 5,
      nprobe: Int = KmeansNprobe): DataFrame = {
    val cent = kmeansCentroids(emb)
    ivfTopKNprobe(assignCells(quantized(emb), cent), cent, probeIds, k, nprobe)
  }

  /** nprobe=1 top-k served from a prebuilt [[ivfIndex]]: probes join
    * only their own cell's vectors. */
  def ivfTopKFromIndex(assign: DataFrame, probeIds: Seq[Long], k: Int = 5): DataFrame = {
    val probes = assign
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("cell"),
        col("q").as("pq"), col("n2").as("pn2"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    assign
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        dot(assign.sparkSession, col("pq"), col("q")).cast("double") /
          (sqrt(col("pn2").cast("double")) * sqrt(col("n2").cast("double"))))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"), col("rank"))
  }

  /** Top principal component of the embedding cloud by QUANTIZED POWER
    * ITERATION — PCA's first axis computed in-engine with exact
    * integer arithmetic end to end, so any engine replays the
    * identical vector (the k-means/PageRank quantization contract
    * applied to an eigenproblem):
    *
    *  - scatter matrix m_jk = N·Σ q_j q_k − S_j·S_k (centered
    *    covariance × N², eigenvectors unchanged by the scaling) from
    *    ONE pass: the d² per-vector products generated MAP-SIDE (a
    *    chained posexplode — no join) and partially aggregated to d²
    *    rows per task before the exchange — the Gram build's shuffle
    *    is O(partitions·d²), independent of N; S and N ride broadcast
    *    side tables;
    *  - the matrix is range-normalized once (trunc-div by
    *    maxabs div 1e6) and each iterate renormalized to ±1e4 by
    *    L∞ (trunc-div by maxabs div 1e4) — both divisions spell
    *    truncation-toward-zero explicitly so Spark `div` and DuckDB
    *    `//` agree on negative entries, and every product stays far
    *    inside long range at any corpus size;
    *  - `iters` fixed matrix-vector rounds (d²-row join against the
    *    broadcast 64-row iterate, one partial-aggregating groupBy).
    *
    * The deterministic all-ones start vector makes the output sign
    * reproducible. Output: (dim, v) — the 1e4-scaled component. */
  /** The range-normalized scatter matrix, built ONCE and checkpointed:
    * without the checkpoint, every power-iteration round's plan embeds
    * the full Gram subtree and re-executes the d²·N-row aggregate
    * (measured 16 s -> ~2.3 s at sf0.1 — the compounding-lineage
    * failure the components fixpoint already solved). Caller frees.
    *
    * MAP-SIDE OUTER PRODUCT (round 14): the Gram aggregate's input
    * used to come from a vec_id SELF-JOIN of the (vec, dim) explosion
    * — below the broadcast threshold AQE hid it, past it (the 30×
    * rung) the join shuffled 2·n·d rows to produce d² = 4,096 output
    * rows (SCALE_r13: emb_pca shuffle 3.5 MB → 125 MB at 10×→30×,
    * α_shuffle 1.454 across the transition). You would never ship the
    * fact table to compute a 64×64 matrix: the d² (j, k, qj·qk)
    * products are a ROW-LOCAL function of each vector, so a chained
    * posexplode generates them in the scan stage and Catalyst's
    * partial aggregation folds them to ≤ d² rows per task BEFORE the
    * exchange — shuffle O(partitions·d²), constant in n, no plan
    * transition to cross. Same multiset of exact integer products
    * reaches the final aggregate, so every consumer (emb_pca/emb_pca2/
    * emb_pca_project/sim_hard_negatives) stays bit-identical to the
    * DuckDB oracle. */
  private def scatterMatrix(emb: DataFrame): DataFrame = {
    val qv = quantized(emb)
    val pe = qv.select(col("vec_id"), posexplode(col("q")).as(Seq("j", "qj")))
    val sq = pe.groupBy("j").agg(sum("qj").as("s"))
    val nn = qv.agg(count(lit(1)).as("n"))
    val gg = qv
      .select(col("q"), posexplode(col("q")).as(Seq("j", "qj")))
      .select(col("j"), col("qj"), posexplode(col("q")).as(Seq("k", "qk")))
      .groupBy("j", "k")
      .agg(sum(col("qj") * col("qk")).as("sqq"))
    val m0 = gg
      .join(broadcast(sq.select(col("j"), col("s").as("sa"))), Seq("j"))
      .join(broadcast(sq.select(col("j").as("k"), col("s").as("sb"))), Seq("k"))
      .crossJoin(broadcast(nn))
      .select(col("j"), col("k"),
        (col("n") * col("sqq") - col("sa") * col("sb")).as("m"))
    val msc = m0.agg(greatest(lit(1L), expr("max(abs(m)) div 1000000")).as("sc"))
    Dedup.loopCheckpoint(
      m0.crossJoin(broadcast(msc))
        .select(col("j"), col("k"),
          when(col("m") >= 0, expr("m div sc")).otherwise(-expr("(-m) div sc")).as("m")))
  }

  /** `iters` quantized power-iteration rounds over a (j, k, m) matrix.
    * Each iterate is checkpointed (d rows) — the lineage of v_t
    * otherwise nests every previous round's join tree — and retired
    * rounds free their blocks eagerly. Returns the checkpoint-backed
    * final iterate (k, v); caller retains or frees it. */
  private def powerIterate(mm: DataFrame, iters: Int): DataFrame = {
    var v = Dedup.loopCheckpoint(
      mm.select(col("j").as("k")).distinct().select(col("k"), lit(10000L).as("v")))
    for (_ <- 1 to iters) {
      val u = mm.join(broadcast(v), Seq("k"))
        .groupBy("j").agg(sum(col("m") * col("v")).as("u"))
      val st = u.agg(greatest(lit(1L), expr("max(abs(u)) div 10000")).as("st"))
      val prev = v
      v = Dedup.loopCheckpoint(
        u.crossJoin(broadcast(st))
          .select(col("j").as("k"),
            when(col("u") >= 0, expr("u div st")).otherwise(-expr("(-u) div st")).as("v")))
      Dedup.freeCheckpoint(prev)
    }
    v
  }

  def pcaTop(emb: DataFrame, iters: Int = 5): DataFrame = {
    val mm = scatterMatrix(emb)
    val v = powerIterate(mm, iters)
    Dedup.freeCheckpoint(mm)
    Dedup.retain(v)
      .select(col("k").cast("long").as("dim"), col("v")).orderBy("dim")
  }

  /** SECOND principal component by Hotelling deflation, all exact
    * integer arithmetic: λ̂ = (v₁ᵀ·m·v₁) div (v₁ᵀ·v₁) (the Rayleigh
    * quotient in matrix units), m₂ = m − (λ̂·v₁ⱼ·v₁ₖ) div 1e8 (v₁ is
    * ±1e4-scaled, so the outer product rescales by v_max²), then the
    * same quantized power iteration on m₂. Quantization of λ̂ and v₁
    * leaves O(1e-4) of the first component in m₂ — fine while
    * λ₁/λ₂ is moderate (the estimate, like any deflation, degrades as
    * the spectrum gap widens); the point is the DETERMINISM: DuckDB
    * replays both eigen-passes bit-for-bit. */
  def pcaTop2(emb: DataFrame, iters: Int = 5): DataFrame = {
    val mm = scatterMatrix(emb)
    val v1 = powerIterate(mm, iters)
    val m2 = deflate(mm, v1)
    Dedup.freeCheckpoint(mm)
    Dedup.freeCheckpoint(v1)
    val v2 = powerIterate(m2, iters)
    Dedup.freeCheckpoint(m2)
    Dedup.retain(v2)
      .select(col("k").cast("long").as("dim"), col("v")).orderBy("dim")
  }

  /** Hotelling deflation m₂ = m − (λ̂·v₁ⱼ·v₁ₖ) div 1e8 over a (j,k,m)
    * scatter matrix and a (k,v) first iterate — the shared core of
    * [[pcaTop2]] (train-inline) and [[pcaTop2FromIndex]] (serve).
    * Returns a checkpointed matrix the caller frees. */
  private def deflate(mm: DataFrame, v1: DataFrame): DataFrame = {
    val u = mm.join(broadcast(v1), Seq("k"))
      .groupBy("j").agg(sum(col("m") * col("v")).as("u"))
    val lam = u
      .join(broadcast(v1.select(col("k").as("j"), col("v").as("vv"))), Seq("j"))
      .agg(sum(col("vv") * col("u")).as("num"), sum(col("vv") * col("vv")).as("den"))
      .select(
        when(col("num") >= 0, expr("num div den"))
          .otherwise(-expr("(-num) div den")).as("lam"))
    Dedup.loopCheckpoint(
      mm
        .join(broadcast(v1.select(col("k").as("j"), col("v").as("vj"))), Seq("j"))
        .join(broadcast(v1.select(col("k"), col("v").as("vk"))), Seq("k"))
        .crossJoin(broadcast(lam))
        .withColumn("corr", col("lam") * col("vj") * col("vk"))
        .select(col("j"), col("k"),
          (col("m") - when(col("corr") >= 0, expr("corr div 100000000"))
            .otherwise(-expr("(-corr) div 100000000"))).as("m")))
  }

  /** [[pcaTop2]] served from the BUILD-ONCE artifacts — the cached
    * scatter matrix ([[scatterMatrixCached]]) and the cached first
    * component ([[pcaTopCached]]): deflation + one power-iteration run
    * only, no Gram build, no first-component iteration. Bit-identical
    * to the train-inline form (all-integer arithmetic; PipelineSpec
    * pins the identity), so the unrolled DuckDB oracle replays it
    * exactly. Neither input artifact is freed here — they belong to
    * [[graft.BuildCache]]. */
  def pcaTop2FromIndex(mm: DataFrame, v1Dim: DataFrame, iters: Int = 5): DataFrame = {
    val v1 = v1Dim.select(col("dim").cast("int").as("k"), col("v"))
    val m2 = deflate(mm, v1)
    val v2 = powerIterate(m2, iters)
    Dedup.freeCheckpoint(m2)
    Dedup.retain(v2)
      .select(col("k").cast("long").as("dim"), col("v")).orderBy("dim")
  }

  /** [[scatterMatrix]] as a [[graft.BuildCache]] entry — the d²-row
    * Gram matrix is the expensive half of EVERY eigen-pass, and both
    * components (and any future one) iterate over it. */
  def scatterMatrixCached(emb: DataFrame): DataFrame =
    graft.BuildCache("scatterMatrix", graft.BuildCache.of(emb))(Dedup.retain(scatterMatrix(emb)))

  /** [[pcaTop]] as a [[graft.BuildCache]] entry, built from
    * [[scatterMatrixCached]] so the Gram cost is shared with the
    * deflation serve path ([[pcaTop2FromIndex]]). */
  def pcaTopCached(emb: DataFrame, iters: Int = 5): DataFrame =
    graft.BuildCache("pcaTop", graft.BuildCache.of(emb), iters) {
      val v = powerIterate(scatterMatrixCached(emb), iters)
      Dedup.retain(v)
        .select(col("k").cast("long").as("dim"), col("v")).orderBy("dim")
    }

  /** Every vector's coordinate along the [[pcaTop]] axis — the serve
    * use of the component (1-D sharding key, skew diagnostics, quick
    * visualization ordering). coord = Σ q_i·v_i div 1e4, back on the
    * quantized scale; sign-split truncation keeps DuckDB `//` parity.
    * One posexplode + a broadcast 64-row join + one per-vector fold. */
  def pcaProject(emb: DataFrame, iters: Int = 5): DataFrame =
    pcaProjectFromIndex(pcaTop(emb, iters), emb)

  /** [[pcaProject]] serving from a prebuilt component table. */
  def pcaProjectFromIndex(v: DataFrame, emb: DataFrame): DataFrame =
    quantized(emb)
      .select(col("vec_id"), posexplode(col("q")).as(Seq("dim", "qi")))
      .join(broadcast(v), Seq("dim"))
      .groupBy("vec_id")
      .agg(sum(col("qi") * col("v")).as("raw"))
      .withColumn("coord",
        when(col("raw") >= 0, expr("raw div 10000")).otherwise(-expr("(-raw) div 10000")))
      .select(col("vec_id"), col("coord"))

  /** Recall@k audit of the IVF serve path against exact brute force —
    * the "measure, don't guess" dial for ANN (the [[Dedup.minhashError]]
    * stance applied to the embedding plane): per probe, how many of the
    * true top-k the cell-routed search returned. nprobe=1 IVF misses
    * exactly the neighbors living outside the probe's cell, so this is
    * the number that justifies (or refutes) a given nprobe before a
    * 100 TB index is frozen. Both sides are the already-bounded plans
    * (probes broadcast / cell-routed); the audit itself is a left join
    * + aggregate over 2·|probes|·k rows. Integer basis-point recall so
    * the oracle replays exactly. */
  def ivfRecall(emb: DataFrame, probeIds: Seq[Long], k: Int = 5): DataFrame = {
    val exact = bruteTopK(emb, probeIds, k).select(col("probe_id"), col("neighbor_id"))
    val approx = ivfTopK(emb, probeIds, k)
      .select(col("probe_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    exact
      .join(approx, Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"), count(lit(1)).as("k"))
      .withColumn("recall_bp", expr("n_hits * 10000 div k"))
      .select(col("probe_id"), col("n_hits"), col("k"), col("recall_bp"))
  }

  /** Hard-negative mining for contrastive training: per probe, the
    * top-k highest-cosine vectors with a DIFFERENT label — the
    * near-miss negatives that teach a retrieval model its decision
    * boundary (random negatives are trivially separable; these are
    * not). Same bounded shape as [[bruteTopK]] — probes broadcast,
    * corpus streams, the label fence is a codegen'd filter before
    * ranking. */
  def hardNegatives(emb: DataFrame, probeIds: Seq[Long], k: Int = 5): DataFrame = {
    val qv = quantized(emb)
    val probes = qv
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("label").as("p_label"),
        col("q").as("pq"), col("n2").as("pn2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    qv.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id") && col("label") =!= col("p_label"))
      .withColumn("cos",
        dot(emb.sparkSession, col("pq"), col("q")).cast("double") /
          (sqrt(col("pn2").cast("double")) * sqrt(col("n2").cast("double"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), round(col("cos"), 6).as("cos_sim"), col("rank"))
  }

  /** Exact cosine RANGE search: every corpus vector with cos >= minCos
    * of each probe — the similarity-API complement of top-k (audits,
    * dedup sweeps, "everything close to X" retrieval, where the answer
    * size is data-dependent rather than k). Same scale shape as
    * [[bruteTopK]] — probes broadcast, corpus streams, NO shuffle of
    * the corpus — but with no window at all: the threshold replaces
    * ranking, so the plan is a pure codegen'd map+filter over the
    * scan. The integer-quantized dot keeps the cosine a deterministic
    * function of exact longs (sqrt and division are correctly rounded
    * IEEE ops), so the >= boundary is engine-exact. */
  def rangeSearch(emb: DataFrame, probeIds: Seq[Long], minCos: Double = AnnThreshold): DataFrame = {
    val qv = quantized(emb)
    val probes = qv
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("n2").as("pn2"))
    qv.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos",
        dot(emb.sparkSession, col("pq"), col("q")).cast("double") /
          (sqrt(col("pn2").cast("double")) * sqrt(col("n2").cast("double"))))
      .filter(col("cos") >= minCos)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  val PqM = 16 // subspaces (64-dim vectors -> 16 x 4-dim)
  val PqSubDim = 4
  val PqK = 16 // codes per subspace -> 1 byte per (vector, subspace)
  val PqIters = 2 // per-subspace Lloyd refinement passes

  private def subspaces(q: org.apache.spark.sql.Column, out: String) =
    explode(array((0 until PqM).map(m =>
      struct(lit(m).as("m"), slice(q, m * PqSubDim + 1, PqSubDim).as(out))): _*))

  /** Spread the compact quantized table before the PqM-way subspace
    * explode (round 16 — the §21.5 partial-agg-fallback mechanism,
    * found here by the r16 100× rung: sim_ivfpq_topk spilled 10.7 GB
    * at x100 with records exactly linear). The explode runs inside
    * the scan stage, and a 200k-vector parquet scan is a couple of
    * input splits — so the assignment joins' fan (PqM × PqK rows per
    * vector) hits the per-(vec, m) argmin PARTIAL aggregate tens of
    * millions of rows per map task, which sort-fallbacks under fixed
    * memory. ~1 partition per 500 vectors (fan 256 → ~128k fan rows
    * per task); gate scales derive below the session default and
    * keep their plans byte-identical. The count is a bounded
    * metadata-cheap scalar (the Lloyd loop already collects per
    * iteration). */
  private def spreadForSubspaces(qv: DataFrame): DataFrame = {
    // /500 balances the two failure modes, both MEASURED on the x100
    // ladder (the divisor rationale now lives in [[Dedup]]'s shared
    // [[graft.pipeline.Spread]] helper): too few partitions →
    // pass-through inflation + spill (pre-fix: 28M records, 10.7 GB);
    // too many → task-scheduling overhead (a /150 A/B,
    // SCALE_r16_ivfpq_spread150.json: x100 wall 11.3 → 17.0 s at
    // 7,364 tasks, spill still 0). Rungs below the threshold (x ≤ 30)
    // keep bounded pass-through inflation in their record counts
    // WITHOUT spilling — the /150 A/B quantifies it (x30 records
    // 8.5M inflated vs 2.7M honest). The count rides the [[corpusN]]
    // session memo.
    Spread.byKey(qv, corpusN(qv), Spread.SubspaceVecsPerPart, col("vec_id"))
  }

  /** Product-quantization codebook, Lloyd-refined per subspace: init is
    * the sub-vectors of the `k` seed vectors with the smallest
    * md5(vec_id) (the deterministic draw [[kmeansCentroids]] uses),
    * then `iters` k-means passes PER SUBSPACE refine them — real PQ
    * training, not a raw sample (iters=0 reproduces the plain sample
    * for comparison). Unlike the IVF coarse quantizer (cosine —
    * scale-invariant, so unnormalized integer SUMS work), PQ assignment
    * is L2: the codeword must be the actual MEAN, so each refined
    * component is round(sum/count) snapped back to an exact long —
    * assignment stays pure integer arithmetic (`cn2 - 2<x,c>`) and the
    * double division + half-away-from-zero round of two exact integers
    * is engine-exact, so DuckDB replays training bit-for-bit.
    *
    * Scale shape: one corpus pass per iteration (the codebook is
    * PqM x k rows — broadcast at any corpus size; per-iteration
    * materialization collects only those rows, the MLlib k-means
    * driver step); the subspace-exploded corpus is persisted across
    * iterations (spill-safe) and freed before return. Codes that lose
    * all members vanish — both engines drop them identically.
    * Output: (m, code, cq: array<long>, cn2: long). */
  def pqCodebook(emb: DataFrame, k: Int = PqK, iters: Int = PqIters): DataFrame =
    pqCodebookFrom(quantized(emb), k, iters)

  /** [[pqCodebook]] against a pre-built (ideally persisted) quantized
    * corpus — composite builds ([[pqIndex]], [[ivfPqIndex]]) quantize
    * once and share; the Lloyd loop still persists its own
    * subspace-exploded view (cheaper to cache exploded than to
    * re-explode per iteration). */
  private[pipeline] def pqCodebookFrom(qv: DataFrame, k: Int = PqK,
      iters: Int = PqIters): DataFrame = {
    val spark = qv.sparkSession
    import spark.implicits._
    val seeds = qv
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("code"), col("q"))
    val seedCb = seeds
      .select(col("code"), subspaces(col("q"), "cq").as("s"))
      .select(col("s.m").as("m"), col("code"), col("s.cq").as("cq"))
      .withColumn("cn2", dot(spark, col("cq"), col("cq")))
    if (iters == 0) return seedCb
    // k*PqM codebook rows per iteration — bounded by construction
    def localized(cb: DataFrame): DataFrame =
      cb.select(col("m"), col("code"), col("cq"), col("cn2"))
        .as[(Int, Long, Seq[Long], Long)].collect().toSeq
        .toDF("m", "code", "cq", "cn2")
    val sub = spreadForSubspaces(qv)
      .select(col("vec_id"), subspaces(col("q"), "sq").as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sq").as("sq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cb = localized(seedCb)
      for (_ <- 1 to iters) {
        // assign: exact-long L2 argmin (same key as pqCodes); min_by is
        // a hash aggregate — no window on the corpus
        val assigned = sub.join(broadcast(cb), Seq("m"))
          .withColumn("score", col("cn2") - lit(2L) * dot(spark, col("sq"), col("cq")))
          .groupBy("vec_id", "m")
          .agg(min_by(struct(col("code"), col("sq")), struct(col("score"), col("code"))).as("best"))
          .select(col("m"), col("best.code").as("code"), col("best.sq").as("sq"))
        // update: component mean snapped to long — partial-aggregating
        // integer sums, one divide+round per (m, code, pos) cell
        val upd = assigned
          .select(col("m"), col("code"), posexplode(col("sq")).as(Seq("pos", "qi")))
          .groupBy("m", "code", "pos")
          .agg(sum("qi").as("s"), count(lit(1)).as("n"))
          .withColumn("c", round(col("s").cast("double") / col("n")).cast("long"))
          .groupBy("m", "code")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))), _.getField("c"))
            .as("cq"))
          .withColumn("cn2", dot(spark, col("cq"), col("cq")))
        cb = localized(upd)
      }
      cb
    } finally sub.unpersist(false)
  }

  /** PQ encoding: every (vector, subspace) assigned its nearest
    * codebook entry by L2 argmin. ||x-c||^2 = n2x - 2<x,c> + n2c and
    * n2x is constant within the argmin, so the comparison key is the
    * exact long `cn2 - 2*dot` — no floats anywhere in assignment
    * (ties: score ASC, code ASC via lexicographic struct min_by — a
    * hash aggregate, no window). One broadcast join + one partial
    * aggregation; output is (vec_id, m, code, cn2): the corpus
    * compressed to PqM small ints per vector — the ~32x memory cut
    * that lets an ANN index of 10^10 vectors live in executor RAM. */
  def pqCodes(qv: DataFrame, cb: DataFrame): DataFrame =
    spreadForSubspaces(qv)
      .select(col("vec_id"), subspaces(col("q"), "sq").as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sq").as("sq"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("score", col("cn2") - lit(2L) * dot(qv.sparkSession, col("sq"), col("cq")))
      .groupBy("vec_id", "m")
      .agg(min_by(struct(col("code"), col("cn2")), struct(col("score"), col("code"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.code").as("code"), col("best.cn2").as("cn2"))

  /** Asymmetric-distance (ADC) top-k over the PQ-compressed corpus:
    * probes keep full precision, corpus vectors are reconstructed from
    * their codes. approx_dot(p, x) = sum_m <p_m, c_m[code_m(x)]> — per
    * probe a (PqM x PqK)-entry lookup table computed ONCE against the
    * codebook, then the scan of the coded corpus is pure table lookups
    * (broadcast LUT join + one partial-aggregating groupBy): the scan
    * never touches a raw vector. ||recon||^2 = sum_m cn2 exactly
    * (concatenated subspaces), so adc_cos is a deterministic function
    * of exact longs. */
  def pqTopK(emb: DataFrame, probeIds: Seq[Long], k: Int = 5,
      iters: Int = PqIters): DataFrame = {
    val (cb, codes) = pqIndex(emb, iters = iters)
    pqTopKFromIndex(emb, cb, codes, probeIds, k)
  }

  /** The PQ index — the "build once, query many" half (the
    * [[ivfIndex]] stance): the trained codebook (PqM x PqK rows) and
    * the coded corpus (PqM small ints per vector). At corpus scale,
    * write both once (`codes.write.parquet(...)`) and serve every
    * top-k from them; the build's corpus passes (Lloyd iterations +
    * encoding) amortize over all queries.
    *
    * The build quantizes the corpus ONCE (persisted, shared by
    * training and encoding — separately each would re-scan and
    * re-hash) and materializes the code table eagerly: codes ARE the
    * build artifact, ~32x smaller than the raw vectors, and
    * checkpointing them lets the raw-corpus cache be freed before
    * return. The retained code blocks follow the
    * [[Dedup.freeRetained]] lifecycle. */
  def pqIndex(emb: DataFrame, k: Int = PqK,
      iters: Int = PqIters): (DataFrame, DataFrame) = {
    val qv = quantized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cb = pqCodebookFrom(qv, k, iters)
      (cb, Dedup.retain(pqCodes(qv, cb).localCheckpoint(true)))
    } finally qv.unpersist(false)
  }

  /** [[pqIndex]] / [[ivfPqIndex]] as [[graft.BuildCache]] entries —
    * Lloyd training and encoding run once per corpus, every top-k
    * after that is pure ADC serving against the cached artifact. */
  def pqIndexCached(emb: DataFrame): (DataFrame, DataFrame) =
    graft.BuildCache("pqIndex", graft.BuildCache.of(emb))(pqIndex(emb))

  def ivfPqIndexCached(emb: DataFrame): (DataFrame, DataFrame, DataFrame) =
    graft.BuildCache("ivfPqIndex", graft.BuildCache.of(emb))(ivfPqIndex(emb))

  /** K-means IVF index as a build-once pair (cell assignment table,
    * localized centroid table) — the serve path behind sim_ivf_serve:
    * Lloyd training runs once per corpus, every multi-probe top-k
    * after that reads the checkpointed assignment. */
  def ivfKmeansIndex(emb: DataFrame): (DataFrame, DataFrame) = {
    val qv = quantized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cent = kmeansCentroidsFrom(qv)
      (Dedup.retain(assignCells(qv, cent).localCheckpoint(true)), cent)
    } finally qv.unpersist(false)
  }

  def ivfKmeansIndexCached(emb: DataFrame): (DataFrame, DataFrame) =
    graft.BuildCache("ivfKmeansIndex", graft.BuildCache.of(emb))(ivfKmeansIndex(emb))

  /** The ANN candidate-pair table as a build-once artifact (default
    * threshold, corpus-sized signatures — [[annPairsAdaptive]]):
    * consumed by the embedding dedup family and similarity centrality
    * the way [[Dedup.nearDupIndex]].pairs is by the text plane — the
    * banded self-join runs once per corpus, every reader prices as a
    * read. */
  def annPairsCached(emb: DataFrame): DataFrame =
    graft.BuildCache("annPairs", graft.BuildCache.of(emb))(
      Dedup.retain(annPairsAdaptive(emb).localCheckpoint(true)))

  /** SEMANTIC deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the coarse
    * k-means quantizer, then WITHIN each cell mark every vector that
    * sits inside an ε-ball of another — pairwise cosine over cell
    * members only, never the corpus cross product (the published
    * algorithm's shape: at 100 TB, k scales with N so cells stay
    * ~constant-sized and the per-cell quadratic stays bounded; the
    * clustering rides the build-once [[ivfKmeansIndexCached]]
    * artifact, so the ONLY per-run cost is the within-cell join).
    *
    * Deterministic keep rule the oracle can replay: a vector is
    * DROPPED iff some SMALLER-ID vector in its cell has cosine >=
    * `minCos` (pairwise ε-ball by id order — the paper keeps one
    * member per ball with a centroid-distance tiebreak; id order is
    * the engine-replayable tiebreak, and the rule is per-pair, not
    * transitive closure). Output per vector: (vec_id, cell, n_close =
    * smaller-id in-ball neighbors, rep_id = smallest such neighbor or
    * -1, status keep/drop/mega). Cosines are doubles over exact
    * integer dot products — bit-identical across engines.
    *
    * Skew guard (the two-phase cap every other candidate generator
    * carries): cells with more than `maxCell` members are EXCLUDED
    * from the pairwise join — a degenerate quantizer (all mass in one
    * cell) must not quietly run the corpus cross product. Their
    * members report status "mega": membership is the signal, pairwise
    * balls are not computed (re-cluster with larger k, the production
    * response). The cap never binds at a healthy k ~ N/target. */
  def semanticDedup(emb: DataFrame, minCos: Double = AnnThreshold,
      maxCell: Long = Dedup.MaxBandBucket): DataFrame = {
    val spark = emb.sparkSession
    val (assign, _) = ivfKmeansIndexCached(emb)
    val overCap = assign.groupBy("cell").agg(count(lit(1)).as("cell_n"))
      .filter(col("cell_n") > maxCell).select("cell")
    val a = assign.select(col("vec_id"), col("cell"), col("q"), col("n2"))
      .join(broadcast(overCap), Seq("cell"), "left_anti")
    val close = a.as("a")
      .join(a.as("b"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      .withColumn("cos",
        dot(spark, col("a.q"), col("b.q")).cast("double") /
          (sqrt(col("a.n2").cast("double")) * sqrt(col("b.n2").cast("double"))))
      .filter(col("cos") >= minCos)
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_close"), min(col("b.vec_id")).as("rep_id"))
    assign.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(broadcast(overCap.select(col("cell").cast("long").as("cell"),
        lit(true).as("is_mega"))), Seq("cell"), "left")
      .join(close, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        coalesce(col("rep_id"), lit(-1L)).as("rep_id"),
        when(col("is_mega"), "mega")
          .when(col("n_close").isNull, "keep").otherwise("drop").as("status"))
  }

  /** Disk round-trips for the ANN/eigen build artifacts — the
    * cross-SESSION half of the build-serve split
    * ([[graft.pipeline.Dedup.writeNearDupIndex]] stance): each build
    * below is hours of compute at 100 TB, and a restarted driver
    * re-READS the tables instead of re-running Lloyd/power iteration.
    * All artifacts are exact integer tables, so parquet round-trips
    * them bit-identically and every `-FromIndex` serve twin returns
    * identical rows from the reloaded frames (spec-pinned in
    * PipelineSpec). Codebooks/centroids are tiny (k / PqM×PqK rows);
    * the corpus-sized members (codes, cell assignment) are the
    * compressed artifacts. At production scale the IVFPQ code table
    * would be written `partitionBy("cell")` so serving
    * partition-prunes to probed cells; the plain layout here keeps the
    * round-tripped schema exactly the built schema. */
  def writePcaIndex(mm: DataFrame, v1: DataFrame, dir: String): Unit = {
    mm.write.mode("overwrite").parquet(s"$dir/scatter")
    v1.write.mode("overwrite").parquet(s"$dir/v1")
  }

  /** Reload: (scatter matrix (j,k,m), first component (dim,v)) —
    * the inputs of [[pcaTop2FromIndex]] / [[pcaProjectFromIndex]]. */
  def readPcaIndex(spark: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/scatter"), spark.read.parquet(s"$dir/v1"))

  def writePqIndex(cb: DataFrame, codes: DataFrame, dir: String): Unit = {
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  def readPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/codebook"), spark.read.parquet(s"$dir/codes"))

  def writeIvfPqIndex(cent: DataFrame, cb: DataFrame, ccodes: DataFrame, dir: String): Unit = {
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    ccodes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"))

  def writeIvfIndex(assign: DataFrame, cent: DataFrame, dir: String): Unit = {
    assign.write.mode("overwrite").parquet(s"$dir/assign")
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$dir/assign"), spark.read.parquet(s"$dir/centroids"))

  /** ADC top-k served from a prebuilt [[pqIndex]]: probes re-quantize
    * from `emb` at full precision (asymmetric distance), the per-probe
    * LUT is probes x PqM x PqK rows against the broadcast codebook,
    * and the scan reads ONLY the code table — no raw vector. */
  def pqTopKFromIndex(emb: DataFrame, cb: DataFrame, codes: DataFrame,
      probeIds: Seq[Long], k: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    val lut = quantized(emb)
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("n2").as("pn2"),
        subspaces(col("q"), "psq").as("s"))
      .select(col("probe_id"), col("pn2"), col("s.m").as("m"), col("s.psq").as("psq"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("pdot", dot(spark, col("psq"), col("cq")))
      .select(col("probe_id"), col("pn2"), col("m"), col("code"), col("pdot"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("adc_cos"), asc("vec_id"))
    codes
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"), col("pn2"))
      .agg(sum("pdot").as("adot"), sum("cn2").as("rn2"))
      .withColumn("adc_cos",
        col("adot").cast("double") /
          (sqrt(col("pn2").cast("double")) * sqrt(col("rn2").cast("double"))))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("adc_cos"), 6).as("adc_cos"), col("rank"))
  }

  /** Incremental IVF ingest — the index APPEND path: assign a NEW
    * vector batch (`vec_id >= newMin`) against the FROZEN coarse
    * quantizer trained on the base corpus (`vec_id < newMin`), riding
    * the build-once [[ivfKmeansIndexCached]] artifact of the base.
    * This is how an ANN index absorbs a crawl increment at 100 TB:
    * O(batch × k) assignment work per ingest, NO retrain — appended
    * codes land in existing cells (and cell-partitioned storage), and
    * the quantizer is re-trained only when drift audits (the recall
    * queries) say so. Mirrors the dedup plane's batch-vs-base
    * incremental forms. Output: (vec_id, cell) for the new batch. */
  def ivfAppendAssign(emb: DataFrame, newMin: Long): DataFrame = {
    val base = emb.filter(col("vec_id") < newMin)
    val (_, cent) = ivfKmeansIndexCached(base)
    val newQ = quantized(emb.filter(col("vec_id") >= newMin))
    assignCells(newQ, cent)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
  }

  /** Drift audit for the append path — the signal that decides WHEN
    * [[ivfAppendAssign]]'s no-retrain contract expires: per-cell
    * occupancy of the base index vs the appended batch, with the
    * batch's share in basis points (exact integer arithmetic). A
    * healthy ingest lands roughly proportionally; cells whose
    * new-share runs far from the batch/corpus ratio are distribution
    * drift — the production response is re-training the quantizer,
    * and this table is the evidence that triggers it. */
  def ivfAppendDrift(emb: DataFrame, newMin: Long): DataFrame = {
    val base = emb.filter(col("vec_id") < newMin)
    val (assignBase, _) = ivfKmeansIndexCached(base)
    val baseCnt = assignBase
      .groupBy(col("cell").cast("long").as("cell")).agg(count(lit(1)).as("n_base"))
    val newCnt = ivfAppendAssign(emb, newMin)
      .groupBy("cell").agg(count(lit(1)).as("n_new"))
    baseCnt.join(newCnt, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("new_share_bp", expr("n_new * 10000 div (n_base + n_new)"))
  }

  /** ADC quantization-error audit for the PQ plane — the knob that
    * sizes PqM/PqK before a 100 TB run commits to a code budget (the
    * dedup_minhash_err stance: measure the approximation, don't guess
    * it): for each probe, ADC cosine vs exact cosine over EVERY
    * corpus vector, each pair's error quantized to 1e-6 BEFORE
    * aggregation — a rounded average of raw doubles is
    * summation-order-dependent between engines, a sum of quantized
    * longs is exact. Output per probe: candidate count, Σ|err| and
    * max|err| in 1e-6 units. The ADC side serves from the cached
    * [[pqIndexCached]] artifact; the exact side is the same
    * probes-broadcast brute-force pass sim_topk prices. */
  def pqAdcErrors(emb: DataFrame, probeIds: Seq[Long]): DataFrame = {
    val spark = emb.sparkSession
    val (cb, codes) = pqIndexCached(emb)
    val qv = quantized(emb)
    val lut = qv
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("n2").as("pn2"),
        subspaces(col("q"), "psq").as("s"))
      .select(col("probe_id"), col("pn2"), col("s.m").as("m"), col("s.psq").as("psq"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("pdot", dot(spark, col("psq"), col("cq")))
      .select(col("probe_id"), col("pn2"), col("m"), col("code"), col("pdot"))
    val adc = codes
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"), col("pn2"))
      .agg(sum("pdot").as("adot"), sum("cn2").as("rn2"))
      .withColumn("adc_cos",
        col("adot").cast("double") /
          (sqrt(col("pn2").cast("double")) * sqrt(col("rn2").cast("double"))))
      .select("probe_id", "vec_id", "adc_cos")
    val probes = qv.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("n2").as("pn2"))
    val exact = qv.select(col("vec_id"), col("q"), col("n2"))
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", dot(spark, col("pq"), col("q")).cast("double") /
        (sqrt(col("pn2").cast("double")) * sqrt(col("n2").cast("double"))))
      .select("probe_id", "vec_id", "cos")
    exact.join(adc, Seq("probe_id", "vec_id"))
      .withColumn("err_q",
        abs(round((col("adc_cos") - col("cos")) * 1e6, 0)).cast("long"))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n"),
        sum("err_q").as("sum_abs_err_q"),
        max("err_q").as("max_abs_err_q"))
  }

  /** IVF x PQ — the composed 100 TB ANN shape (FAISS's IVFPQ layout):
    * the k-means coarse quantizer routes each probe to its `nprobe`
    * nearest cells, and within those cells candidates are scored with
    * PQ asymmetric distance — the scan touches only probed cells
    * (partition-prunes when the code table is stored cell-partitioned)
    * and only PQ codes, never a raw vector. Codes here quantize the RAW
    * vector, not the cell residual (classic IVFADC subtracts the
    * centroid first; that would make codewords depend on float means
    * and break the exact-integer determinism contract — the standard
    * no-residual IVFPQ variant, trading some quantization error for a
    * cell-independent codebook).
    *
    * Everything bounded: centroid table k rows, codebook PqM x PqK
    * rows, probe LUT probes x nprobe x PqM x PqK rows — all broadcast;
    * the only corpus-sized object is the code table, touched once. */
  def ivfPqTopK(emb: DataFrame, probeIds: Seq[Long], k: Int = 5,
      nprobe: Int = KmeansNprobe): DataFrame = {
    val (cent, cb, ccodes) = ivfPqIndex(emb)
    ivfPqTopKFromIndex(emb, cent, cb, ccodes, probeIds, k, nprobe)
  }

  /** The IVFPQ index — centroids (k rows), codebook (PqM x PqK rows)
    * and the cell-tagged code table. At corpus scale, write the code
    * table once cell-partitioned (`ccodes.write.partitionBy("cell")
    * .parquet(...)`): serving then partition-prunes to the probed
    * cells and reads only codes.
    *
    * One quantize pass feeds everything: k-means training, PQ
    * training, encoding and cell assignment all share the persisted
    * corpus (built separately they would scan + re-hash it four
    * times); the cell-tagged code table — the compressed build
    * artifact — is materialized eagerly so the raw-corpus cache can
    * be freed before return ([[Dedup.freeRetained]] lifecycle). */
  def ivfPqIndex(emb: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val qv = quantized(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // OVERLAPPED training chains (round 18, guide §2.6 "overlap
      // independent jobs"): the coarse-quantizer and codebook trainings
      // are independent aggregates over the shared persisted corpus,
      // but each is a chain of small sequential collect-jobs (init +
      // `iters` Lloyd rounds), so run sequentially the build's wall is
      // their SUM and the cluster idles through every tiny job's tail.
      // Two driver threads submit both chains at once — the scheduler
      // interleaves their jobs (FIFO backfill), the wall becomes
      // ~max(chains), and each chain is internally unchanged, so both
      // results are bit-identical to the sequential build (PipelineSpec
      // pins sim_ivfpq_serve == sim_ivfpq_topk rows; the oracle pins
      // the values). Event-log evidence: at sf0.1 the inline build is
      // ~50 jobs of 0.02-0.5 s — a driver-side job-floor, not compute.
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val (cent, cb) =
        try {
          val centF = Future(kmeansCentroidsFrom(qv))
          val cbF = Future(pqCodebookFrom(qv))
          (Await.result(centF, Duration.Inf), Await.result(cbF, Duration.Inf))
        } finally pool.shutdown()
      val ccodes = Dedup.retain(
        pqCodes(qv, cb)
          .join(assignCells(qv, cent).select(col("vec_id"), col("cell")), Seq("vec_id"))
          .localCheckpoint(true))
      (cent, cb, ccodes)
    } finally qv.unpersist(false)
  }

  /** Multi-probe routing: each probe's `nprobe` best cells by centroid
    * cosine (deterministic tie-break on cell id). Bounded: probes ×
    * centroids cross join with the centroid table broadcast, output
    * probes × nprobe rows. Shared by the from-index serve and the
    * cell-partitioned pruned serve so both route identically. */
  private def probeCellRouting(probes: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame = {
    val spark = probes.sparkSession
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("cscore"), asc("cell"))
    probes
      .crossJoin(broadcast(cent))
      .withColumn("cscore",
        dot(spark, col("pq"), col("cv")).cast("double") / sqrt(col("cn2").cast("double")))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("probe_id"), col("cell"))
  }

  /** IVFPQ top-k served from a prebuilt [[ivfPqIndex]].
    * `routedCells` lets a caller that already ran the probe routing
    * (the pruned serve collects it to name the scanned directories)
    * pass it through instead of paying the routing cross-join twice. */
  def ivfPqTopKFromIndex(emb: DataFrame, cent: DataFrame, cb: DataFrame,
      ccodes: DataFrame, probeIds: Seq[Long], k: Int = 5,
      nprobe: Int = KmeansNprobe, routedCells: Option[DataFrame] = None): DataFrame = {
    val spark = emb.sparkSession
    val codes = ccodes
    val probes = quantized(emb)
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("n2").as("pn2"))
    val probeCells = routedCells.getOrElse(probeCellRouting(probes, cent, nprobe))
    val lut = probes
      .select(col("probe_id"), col("pn2"), subspaces(col("pq"), "psq").as("s"))
      .select(col("probe_id"), col("pn2"), col("s.m").as("m"), col("s.psq").as("psq"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("pdot", dot(spark, col("psq"), col("cq")))
      .select(col("probe_id"), col("pn2"), col("m"), col("code"), col("pdot"))
      // LUT restricted to probed cells: probes x nprobe x PqM x PqK
      // rows — bounded, broadcast; the join key (cell, m, code) makes
      // the corpus-side scan a pure cell-pruned lookup
      .join(probeCells, Seq("probe_id"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("adc_cos"), asc("vec_id"))
    codes
      .join(broadcast(lut), Seq("cell", "m", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"), col("pn2"))
      .agg(sum("pdot").as("adot"), sum("cn2").as("rn2"))
      .withColumn("adc_cos",
        col("adot").cast("double") /
          (sqrt(col("pn2").cast("double")) * sqrt(col("rn2").cast("double"))))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        round(col("adc_cos"), 6).as("adc_cos"), col("rank"))
  }

  /** The IVFPQ index persisted CELL-PARTITIONED — the production
    * layout the [[ivfPqIndex]] scaladoc promises ("write the code
    * table once partitionBy(cell): serving then partition-prunes to
    * the probed cells and reads only codes"), now built and gated
    * (sim_ivfpq_pruned) instead of documented. Rides
    * [[graft.operators.LayoutStore]] like the scan-lever layouts:
    * fingerprint-named dir, atomic publish, restart served from disk.
    * Centroids/codebook are dimension-sized single files; the
    * corpus-sized code table is one directory per cell — at 100 TB a
    * probe reads nprobe directories of PQ codes and nothing else. */
  def ivfPqIndexPartitioned(emb: DataFrame, sfDir: String): (DataFrame, DataFrame, String) = {
    val spark = emb.sparkSession
    val live = graft.operators.LayoutStore.getOrBuild(
      graft.operators.LayoutStore.layoutDir("ivfpq_cells", sfDir,
        Seq("embeddings.parquet"))) { staging =>
      val (cent, cb, ccodes) = ivfPqIndexCached(emb)
      cent.coalesce(1).write.parquet(staging.resolve("centroids").toString)
      cb.coalesce(1).write.parquet(staging.resolve("codebook").toString)
      ccodes.write.partitionBy("cell").parquet(staging.resolve("codes").toString)
    }
    (spark.read.parquet(live.resolve("centroids").toString),
      spark.read.parquet(live.resolve("codebook").toString),
      live.resolve("codes").toString)
  }

  /** Cell-PRUNED IVFPQ serve: route the probes (bounded cross join
    * against the broadcast centroid table), COLLECT the distinct
    * probed cells (≤ probes × nprobe — never corpus-sized), and scan
    * only those cell directories of the persisted code table — the
    * `cell IN (...)` literal lands in PartitionFilters at planning
    * time (PipelineSpec pins files read ≤ probed cells). Scoring is
    * [[ivfPqTopKFromIndex]] verbatim over the pruned scan, so results
    * equal the unpruned serve bit-for-bit and share its oracle. */
  def ivfPqTopKPruned(emb: DataFrame, sfDir: String, probeIds: Seq[Long],
      k: Int = 5, nprobe: Int = KmeansNprobe): DataFrame = {
    val spark = emb.sparkSession
    val (res, routedDf) = ivfPqTopKPrunedLazy(emb, sfDir, probeIds, k, nprobe)
    try {
      // materialize the (probes × k)-row result so the checkpoint can
      // be freed NOW rather than whenever the ContextCleaner gets to it
      // — repeated bench passes must not accumulate block-manager
      // storage (the kv_skew_join freeCheckpoint discipline)
      val rows = res.collect()
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toSeq.asJava, res.schema)
    } finally graft.pipeline.Dedup.freeCheckpoint(routedDf)
  }

  /** The pruned serve UN-collected, plus the checkpointed routing table
    * backing it — for plan inspection (PlanSpec pins the
    * `cell IN (...)` PartitionFilters on the layout scan, which a
    * collected LocalRelation would hide). Callers own the checkpoint:
    * free `routed` via [[graft.pipeline.Dedup.freeCheckpoint]] once the
    * result is materialized. */
  def ivfPqTopKPrunedLazy(emb: DataFrame, sfDir: String, probeIds: Seq[Long],
      k: Int = 5, nprobe: Int = KmeansNprobe): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    val (cent, cb, codesPath) = ivfPqIndexPartitioned(emb, sfDir)
    val probes = quantized(emb)
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("q").as("pq"), col("n2").as("pn2"))
    // routing runs ONCE (probes × nprobe rows, eagerly checkpointed —
    // bounded, lives with the serve result): the same tiny table names
    // the scanned cell directories AND feeds the scorer
    val routedDf = probeCellRouting(probes, cent, nprobe).localCheckpoint(true)
    val cells = routedDf.select("cell").distinct()
      .collect().map(_.get(0)).toSeq // bounded
    val codes = spark.read.parquet(codesPath).filter(col("cell").isin(cells: _*))
    (ivfPqTopKFromIndex(emb, cent, cb, codes, probeIds, k, nprobe, Some(routedDf)),
      routedDf)
  }

  /** Per-source embedding centroids + the source-pair cosine matrix —
    * "which sources are semantically similar": the semantic complement
    * of [[Dedup.sourceOverlap]]'s near-dup mirror detection (two feeds
    * can share no near-dup pair yet cover the same topic space).
    * Centroids are sign-safe integer MEANS of the quantized vectors
    * (truncation-toward-zero spelled explicitly so Spark's `div` and
    * DuckDB's `//` agree on negative sums; a mean, not a sum, so
    * per-component magnitude stays within the quantization range and
    * the dot product cannot overflow a long no matter how many docs a
    * source has). The pair matrix is a cross-join of ≤ |sources|
    * centroid rows — bounded. Output: (source_a, source_b, cos_sim
    * 6-dec). */
  def sourceCentroidSim(docs: DataFrame, emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    val qv = quantized(emb)
      .join(docs.select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
    val cent = qv
      .select(col("source"), posexplode(col("q")).as(Seq("pos", "qi")))
      .groupBy("source", "pos").agg(sum("qi").as("s"), count(lit(1)).as("n"))
      .withColumn("c",
        when(col("s") >= 0, expr("s div n")).otherwise(-expr("(-s) div n")))
      .groupBy("source")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        _.getField("c")).as("cv"))
      .withColumn("cn2", dot(spark, col("cv"), col("cv")))
    val a = cent.select(col("source").as("source_a"), col("cv").as("va"), col("cn2").as("n2a"))
    val b = cent.select(col("source").as("source_b"), col("cv").as("vb"), col("cn2").as("n2b"))
    a.crossJoin(b).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        round(dot(spark, col("va"), col("vb")).cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))), 6)
          .as("cos_sim"))
  }

  /** Centroid per label class — a k-means-E-step-shaped aggregation
    * (element-wise mean over array column via posexplode). Output is
    * SCALAR rows (label, pos, c): one row per centroid component, so
    * any downstream consumer (and the hash-based oracle compare) can
    * handle it without array support; regroup to an array is one
    * collect_list away when a vector shape is needed. */
  def labelCentroids(emb: DataFrame): DataFrame = {
    val qv = quantized(emb)
    qv.select(col("label"), posexplode(col("q")).as(Seq("pos", "qi")))
      .groupBy("label", "pos")
      // sum/count, not avg(): engine-specific avg accumulators differ
      // in ULPs; an exact integer sum divided once does not
      .agg(round(sum(col("qi")).cast("double") / count(lit(1)) / Q, 6).as("c"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("c"))
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Spread}

/** Pins for the shared map-side spread helper (round 17 — the §21.5
  * explode-stage fallback fix, consolidated from three hand-applied
  * copies) and for the b8 recall arm's cached-pairs serve path. */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private def docs100 = (0 until 100)
    .map(i => (i.toLong, s"alpha bravo charlie delta echo f$i g$i h$i"))
    .toDF("doc_id", "text")

  test("byKey below the session default is the identity — plan untouched") {
    val d = docs100
    // 100 docs / 1500 per part = 0 parts -> stays at the session
    // default -> the INPUT object comes back (byte-identical plan,
    // the gate-scale contract)
    val out = Spread.byKey(d, 100L, Spread.ShingleSetDocsPerPart, col("doc_id"))
    assert(out eq d, "sub-threshold spread must not touch the plan")
  }

  test("byKey above the session default repartitions on the key, rows intact") {
    val d = docs100
    val default = spark.sessionState.conf.numShufflePartitions
    // rowsPerPart=1 forces n partitions; n must exceed the default
    // for the test to exercise the binding branch
    val n = math.max(100L, default + 44L)
    val dd = (0L until n).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val out = Spread.byKey(dd, n, 1L, col("doc_id"))
    assert(Spread.parts(dd, n, 1L) == n.toInt)
    assert(out.rdd.getNumPartitions == n.toInt)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == (0L until n))
  }

  test("byKeyFloored binds at the raw-parts floor, not the session default") {
    val d = docs100
    // below the floor: identity (gate-scale contract — raw parts 0)
    val below = Spread.byKeyFloored(d, 100L, Spread.SpanDocsPerPart, col("doc_id"))
    assert(below eq d, "sub-floor spread must not touch the plan")
    // at the floor: fires even though raw parts < the session default,
    // spreading across max(default, raw) partitions — the x30 span
    // cliff (raw 100 < 256 went identity and the scan-stage fallback
    // returned with 22.9 GB of spill)
    val n = Spread.BindFloor // rowsPerPart=1 -> raw parts == BindFloor
    val dd = (0L until n).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val out = Spread.byKeyFloored(dd, n, 1L, col("doc_id"))
    assert(!(out eq dd), "at-floor spread must repartition")
    val default = spark.sessionState.conf.numShufflePartitions
    assert(out.rdd.getNumPartitions == math.max(default.toLong, n).toInt)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == (0L until n))
  }

  test("per-row-shape divisors: span plane coarser than the wide-key pins") {
    // §22.5's lesson pinned: narrow-int span rows tolerate 3x coarser
    // slices (fewer shuffle blocks); wide-string sort keys (winnow fp,
    // jaccard shingle) keep the fine divisor. A future blanket merge
    // of the constants should have to face this pin.
    assert(Spread.SpanDocsPerPart == 3 * Spread.PositionalDocsPerPart)
    assert(Spread.SigVecsPerPart > Spread.SubspaceVecsPerPart,
      "signature rows fan 8/vector vs PQ's 256/vector — divisors must reflect it")
    // the round-close corollary: what binds task memory is rows/task
    // = fan-per-doc x divisor, so SMALL-fan reduce-side pair joins
    // (winnow fp ~100 rows/doc, minhash_err intersection) take the
    // coarse divisor even though their keys are wide strings — the
    // x300 rung at /500 was R x R block-bound (17.3M fetches, run
    // 3x CPU), while jaccard's join fan (~1000+ rows/doc) must keep
    // /500 (measured 25 GB spill at /1500).
    assert(Spread.PairJoinDocsPerPart == 3 * Spread.PositionalDocsPerPart)
  }

  test("memoCount returns the exact count and survives clearCache") {
    val d = docs100
    assert(Spread.memoCount(d, "doc_id") == 100L)
    // a fresh DataFrame with the same canonicalized plan hits the memo
    assert(Spread.memoCount(docs100, "doc_id") == 100L)
    graft.pipeline.Dedup.freeRetained() // clears the spread memo too
    assert(Spread.memoCount(docs100, "doc_id") == 100L)
  }

  test("b8 recall arm: cached candidate pairs serve identical rows to the inline rebuild") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val inline = Dedup.lshRecall(d, bandRows = 1).collect().toSet
    val cached = Dedup.lshRecall(d, bandRows = 1,
      caughtPairs = Some(Dedup.candidatePairsCached(d, bandRows = 1)))
      .collect().toSet
    assert(cached == inline,
      "the cached per-preset pair table must reproduce the inline band self-join")
    // and the cache really is per-preset: the default-banding entry is
    // a distinct table. A pair caught by a 2-row band (both minhashes
    // of the band collide) is always caught by 1-row banding (each
    // minhash alone is a band), so default ⊆ b8 — never the same entry.
    val defDf = Dedup.candidatePairsCached(d)
    val b8Df = Dedup.candidatePairsCached(d, bandRows = 1)
    assert(!(defDf eq b8Df), "presets must not share one cache entry")
    val defPairs = defDf.select("doc_a", "doc_b").collect().toSet
    val b8Pairs = b8Df.select("doc_a", "doc_b").collect().toSet
    assert(defPairs.subsetOf(b8Pairs),
      "2-row-band candidates must be a subset of 1-row-band candidates")
  }
}

package graft

/** Driver-run benchmark: times every declared query at
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. A full warm-up pass at
  * sf0.001 first: JVM/JIT, codegen caches and parquet footers are
  * per-process costs, not per-query costs — without it the first timed
  * query absorbs ~10 s of warm-up and the numbers are noise.
  *
  * Timing protocol: INTERLEAVED passes. The whole suite runs 3 times
  * end-to-end and each query's reported time is the median of its 3
  * cross-pass samples. Back-to-back repeats of one query (the r5
  * protocol) put all 3 samples inside the same few seconds, so one
  * sandbox-contention window poisons 2 of 3 and the median with it —
  * r5's dedup_minhash reported 5.96 s median against a 1.15 s min and
  * did not reproduce. Interleaving spaces a query's samples ~30 s
  * apart (one full pass) at identical total cost, so a contention
  * window can clip at most one sample per query, which the median
  * discards by construction.
  *
  * Each sample also records the JVM GC time that elapsed inside it
  * (GarbageCollectorMXBean deltas, all collectors summed). A sample
  * inflated by memory pressure or a noisy neighbor forcing collections
  * is then self-labeling: queries_gc alongside queries_max lets a
  * reader separate "the query got slower" from "the JVM was busy".
  *
  * The timed action is FULL-PLAN MATERIALIZATION (round 14 —
  * [[graft.tools.TaskMetricsListener.materialize]]): the DataFrame's
  * own physical plan executed to completion, every row consumed
  * distributed, no driver collect. The pre-r14 action was count(),
  * "kept stable across rounds so medians stay comparable" — until the
  * r14 shuffle-records metric showed HOW MUCH plan Catalyst prunes
  * under a count: EliminateSorts drops every declared ORDER BY's range
  * exchange, column pruning cascades below the count, and for
  * ev_sessions it removed the lag WINDOW itself — the bench was
  * timing a two-phase DISTINCT user_id (6k shuffled rows at sf0.1)
  * instead of sessionization (203k). The r13 "super-linear ev_sessions
  * byte curve" was entirely an artifact of that pruned plan. The
  * re-baseline the old comment feared is paid once, here, with both
  * actions measured and committed (the bytes gate compares
  * like-for-like from now on); every emitted JSON line carries its
  * `action` (always `full`), so BenchDiff can refuse a pre-r14
  * count-action baseline.
  *
  * The artifact SELF-ADJUDICATES machine windows (round 16):
  * `queries_window_suspect` lists every query whose median is
  * suspect-inflated by the run's own evidence — med/min spread > 2×
  * at ≥ 0.5 s with flat GC and flat byte volume across the compared
  * samples ([[graft.tools.BenchDiff.windowSuspect]] + the byte check
  * above). Interleaving bounds a window to one sample per query
  * USUALLY; when a window spans 2 of 3 passes (the r15 driver
  * artifact: 11 queries, +40% on the total), the median picks a slow
  * sample and the spread-vs-flat-bytes signature is the receipt. A
  * suspect median is still REPORTED — the field tells the reader
  * (and BenchDiff) to adjudicate from `queries_min`, it never edits
  * the measurement.
  *
  * Failure accounting: a query's headline number is the median of its
  * SUCCESSFUL samples; -1 means every pass failed. Queries with a
  * partial failure keep their good median and show up in
  * queries_failed_passes (interleaving makes one transient window span
  * several queries' single passes — discarding good samples over it
  * would flag healthy queries failed for the round).
  *
  * MACHINE-INDEPENDENT metrics (round 13): every sample also records a
  * [[graft.tools.TaskMetricsListener]] delta — shuffle read/write
  * bytes, spill bytes, task count, scan input bytes. Wall-clock
  * medians drift ±10-30% with the machine window (two rounds of A/Bs
  * proved past "regressions" environmental); byte and task counts are
  * invariant across windows, so cross-round regression adjudication
  * reads queries_bytes FIRST: bytes moved → the code changed; bytes
  * flat + wall slow → the machine. A fixed spark-free CPU canary
  * (pinned xorshift64* loop, [[graft.tools.TaskMetricsListener
  * .cpuCanarySec]]) is timed before the first pass and after every
  * pass — canary_sec indexes the window's speed over the run.
  */
object Bench {
  private val Passes = 3

  /** Sum of collection time across all GC beans, milliseconds. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** The JVM-wide counters a sample reads besides the listener's: the
    * two compile layers — Janino compiles of whole-stage codegen
    * classes (a miss in the session's codegen cache) and HotSpot JIT
    * milliseconds — and the [[BuildCache]] builds, hits and build
    * milliseconds. The bench runs one query at a time, so a delta is
    * that query's. */
  private final case class Compiles(codegen: Long, jitMs: Long, cache: BuildCache.Stats) {
    def -(o: Compiles): Compiles = Compiles(codegen - o.codegen, jitMs - o.jitMs, cache - o.cache)
  }
  private def compiles(): Compiles = Compiles(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    BuildCache.stats)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // default 32 — the artifact protocol requires cpus=32 for diffable
    // benches (r16: a forgotten env var at local[4] produced phantom
    // 4-7× task "improvements"; the gate now carries cpus, and the
    // default must match the protocol, not fight it)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.session("graft-bench", cpus.toInt)

    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 times just those
    // queries (unset — the driver's mode — times the full set)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val metrics = graft.tools.TaskMetricsListener.install(spark.sparkContext)
    val canary = collection.mutable.ArrayBuffer(graft.tools.TaskMetricsListener.cpuCanarySec())

    // the measured action: full-plan materialization (a count() action
    // lets Catalyst prune the plan under measurement — see
    // TaskMetricsListener.materialize)
    val action = graft.tools.TaskMetricsListener.materialize _

    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    ordered.foreach { case (_, fn) =>
      try action(fn(spark, warmDir)) catch { case scala.util.control.NonFatal(_) => () }
    }

    // samples(q) = one Sample per pass; a failing sample has sec = -1
    // and marks the pass failed for the query — never reported as its
    // elapsed-time-to-exception.
    case class Sample(sec: Double, gcSec: Double,
        bytes: graft.tools.TaskMetricsListener.Snap, compiled: Compiles, pass: Int)
    val samples = collection.mutable.Map.empty[String, Vector[Sample]]
      .withDefaultValue(Vector.empty)
    for (pass <- 1 to Passes) {
      for ((name, fn) <- ordered) {
        val m0 = metrics.snapshot(spark.sparkContext)
        val gc0 = gcMillis()
        val c0 = compiles()
        val t0 = System.nanoTime()
        val ok = try { action(fn(spark, sfDir)); true }
          catch { case scala.util.control.NonFatal(_) => false }
        val sec = (System.nanoTime() - t0) / 1e9
        val gcSec = (gcMillis() - gc0) / 1e3
        val compiled = compiles() - c0
        val delta = metrics.snapshot(spark.sparkContext) - m0
        samples(name) = samples(name) :+
          Sample(if (ok) sec else -1.0, gcSec, delta, compiled, pass)
      }
      canary += graft.tools.TaskMetricsListener.cpuCanarySec()
    }

    // per-query median/min/max over the SUCCESSFUL samples: under
    // interleaving one transient environment window spans several
    // queries' single passes, so a lone failing pass must not flag a
    // query failed and discard its good samples — the headline map
    // reports the median of what succeeded, -1 is reserved for
    // all-passes-failed, and per-query failed-pass counts ride a
    // separate queries_failed_passes map. GC seconds are reported for
    // the median-selected sample so the headline number and its GC
    // label describe the same run; queries with no successful sample
    // are OMITTED from min/max/gc rather than overloading the -1
    // sentinel into columns where a valid measurement never existed.
    case class QStat(median: Double, min: Double, max: Double, gc: Double,
        bytes: graft.tools.TaskMetricsListener.Snap, compiled: Compiles,
        failedPasses: Int, allFailed: Boolean, windowSuspect: Boolean)
    val zeroSnap = graft.tools.TaskMetricsListener.Snap(0, 0, 0, 0, 0)
    val results = ordered.map { case (name, _) =>
      val s = samples(name)
      val good = s.filter(_.sec >= 0).sortBy(_.sec)
      val nFailed = s.size - good.size
      if (good.isEmpty) name -> QStat(-1.0, 0, 0, 0, zeroSnap,
        Compiles(0, 0, BuildCache.Stats(0, 0, 0)), nFailed, allFailed = true, windowSuspect = false)
      else {
        // byte metrics from the last SUCCESSFUL pass, not the
        // median-selected one: pass 1 pays every build-once artifact
        // (ANN indexes, stream fixtures, layouts), so later passes
        // measure the serve shape — and bytes are window-invariant, so
        // "last" loses nothing to contention. A failed pass's delta is
        // a partial run and must never represent the query.
        val med = good(good.size / 2)
        val lastOk = s.reverse.find(_.sec >= 0).get
        // WINDOW-SUSPECT self-adjudication (round 16): the driver's
        // BENCH_r15 overstated the engine ~40% via a transient I/O
        // window that hit 2 of 3 interleaved passes, and only a manual
        // re-run of 11 queries could prove it. The artifact's own data
        // contains the proof: a median ≫ min spread whose GC is flat
        // AND whose byte volume is flat across the compared samples is
        // the machine, not the code (bytes move when the work moves).
        // The predicate lives in BenchDiff.windowSuspect so the gate's
        // fallback recomputation of pre-r16 artifacts cannot drift
        // from what the bench emits.
        def vol(x: Sample) =
          x.bytes.shuffleRead + x.bytes.shuffleWrite + x.bytes.input
        // the byte-flat pool excludes pass 1 when at least two later
        // samples exist (r16 advice): pass 1 pays build-once artifacts,
        // so a median landing on it carries legitimately larger input
        // bytes and would defeat bytesFlat in exactly the multi-pass-
        // window case the adjudication was built for. `good` is sorted
        // by sec, and filter preserves that, so head/middle of the pool
        // are its min-time and median-time samples.
        val volPool = {
          val laterPasses = good.filter(_.pass > 1)
          if (laterPasses.size >= 2) laterPasses else good
        }
        val (vMed, vMin) = (vol(volPool(volPool.size / 2)), vol(volPool.head))
        val bytesFlat =
          math.max(vMed, vMin) <=
            math.max(math.min(vMed, vMin) * 1.3, math.min(vMed, vMin) + (1L << 20))
        val suspect = bytesFlat &&
          graft.tools.BenchDiff.windowSuspect(med.sec, good.head.sec, med.gcSec)
        name -> QStat(med.sec, good.head.sec, good.last.sec, med.gcSec,
          lastOk.bytes, lastOk.compiled, nFailed, allFailed = false, windowSuspect = suspect)
      }
    }
    def jmap(rows: Seq[(String, Double)]) =
      rows.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results.map { case (k, st) => k -> st.median })
    val ok = results.filterNot(_._2.allFailed)
    val qsMin = jmap(ok.map { case (k, st) => k -> st.min })
    val qsMax = jmap(ok.map { case (k, st) => k -> st.max })
    val qsGc = jmap(ok.map { case (k, st) => k -> st.gc })
    // the per-query record: the listener's counters plus the compile
    // layers and the build cache, all from the same (last successful)
    // sample
    val qsBytes = ok.map { case (k, st) =>
      val c = st.compiled
      "\"" + k + "\":" + st.bytes.json.dropRight(1) +
        s""","codegen_compiles":${c.codegen},"jit_ms":${c.jitMs}""" +
        s""","cache_builds":${c.cache.builds},"cache_hits":${c.cache.hits}""" +
        s""","cache_build_ms":${c.cache.buildMs}}"""
    }
      .mkString("{", ",", "}")
    val qsFailedPasses = results.collect { case (k, st) if st.failedPasses > 0 =>
      "\"" + k + "\":" + st.failedPasses
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, st) if st.allFailed => "\"" + k + "\"" }
    val suspects = results.collect { case (k, st) if st.windowSuspect => "\"" + k + "\"" }
    val total = ok.map(_._2.median).sum
    val canaryJson = canary.map(c => f"$c%.3f").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","stat":"median_of_${Passes}_interleaved","action":"full","cpus":"$cpus","canary_sec":$canaryJson,"queries":$qs,"queries_min":$qsMin,"queries_max":$qsMax,"queries_gc":$qsGc,"queries_bytes":$qsBytes,"queries_failed_passes":$qsFailedPasses,"queries_window_suspect":[${suspects.mkString(",")}],"failed":[${failed.mkString(",")}],"sf":"$sfDir"}"""
    println(line)
    // sbt decorates stdout with [info] prefixes, which broke the
    // driver's JSON parse in round 1 — also write the line to a file.
    // Round 18: the driver's parse stayed null through r17 even though
    // a complete compact record sat inside its 2000-char stdout tail —
    // behind sbt's "[info] " prefix and one line before "[success]
    // Total time…". Three fixes, belt and braces:
    //   1. build.sbt sets `run / outputStrategy := StdoutOutput` so the
    //      forked JVM's stdout passes through UNPREFIXED;
    //   2. the full record is ALSO written to BENCH_PARSED.json (a
    //      fixed, documented filename the driver/judge can read
    //      directly) in addition to the env-addressable bench_out.json;
    //   3. the compact record prints AFTER spark.stop(), as the
    //      absolute last stdout line this process emits, so a
    //      reverse-scan for the last "{"-line lands on a record that
    //      fits the tail window whole.
    def writeJson(path: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench: could not write $path: $e") }
    writeJson(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    writeJson("BENCH_PARSED.json")
    // The driver's artifact keeps only the LAST ~2000 chars of stdout
    // (BENCH_rNN "tail") and parses JSON out of that window — the full
    // per-query line above is ~20 KB, so it truncates mid-line there.
    // The compact summary fits the window whole: headline total,
    // failures, and the 20 slowest medians ("queries" is explicitly
    // marked truncated; bench_out.json/BENCH_PARSED.json carry the
    // full maps).
    val top20 = ok.sortBy(-_._2.median).take(20)
      .map { case (k, st) => k -> st.median }
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","stat":"median_of_${Passes}_interleaved","action":"full","cpus":"$cpus","n_queries":${results.size},"canary_sec":$canaryJson,"n_window_suspect":${suspects.size},"failed":[${failed.mkString(",")}],"queries":${jmap(top20)},"queries_truncated":true,"queries_full":"BENCH_PARSED.json","sf":"$sfDir"}"""
    spark.stop()
    println(compact)
  }
}

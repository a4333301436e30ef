package graft.tools

import scala.jdk.CollectionConverters._

/** BYTE-REGRESSION GATE (round 14): turns the bench's
  * machine-independent per-query metrics (`queries_bytes` —
  * [[TaskMetricsListener]] deltas) from a narrative into a CHECK. The
  * round-13 convention was "bytes moved → the code changed", applied
  * by hand-diffing bench_out.json across rounds; this main applies it
  * mechanically: compare the current run's per-query shuffle / input /
  * task / spill deltas against the committed baseline and exit
  * non-zero on unexplained growth.
  *
  *   runMain graft.tools.BenchDiff <baseline.json> <current.json>
  *
  * Rules (pure function [[diff]], spec-pinned in BenchDiffSpec):
  *  - a metric REGRESSES when current > baseline × [[GrowthTolerance]]
  *    AND the absolute delta clears a noise floor (tiny queries
  *    jitter by a few KB/tasks with AQE statistics; a 500-byte shuffle
  *    doubling is not a plan change);
  *  - ANY new spill is a regression (the sf0.1 bench runs
  *    spill-free by design — spill here means a memory budget broke);
  *  - a query in the baseline but not the current run is a loud MISS
  *    (a bench that silently dropped a query would otherwise "pass");
  *  - new queries are reported, never failed — coverage growth is the
  *    normal case;
  *  - intentional plan changes ride the ALLOWLIST
  *    (`BENCHDIFF_ALLOW.json`: {"query": "reason", ...}, committed
  *    next to the baseline) — an allowed regression prints WITH its
  *    reason and does not fail, and a stale allowlist entry (query no
  *    longer regressing) prints so entries get retired.
  *
  * SHRINKS are reported as improvements, never failed — but they mean
  * the committed baseline should be refreshed (the gate is sharpest
  * when the baseline is the last intentional state).
  *
  * MACHINE-WINDOW ADJUDICATION (round 16): the r15 driver artifact
  * overstated the engine ~40% — a transient I/O window hit 2 of its 3
  * interleaved passes and median-of-3 kept the slow samples for 11
  * queries — and nothing in the artifact said so; a judge re-ran 11
  * queries by hand to prove it. The gate now applies the repo's
  * bytes-first convention mechanically, in two layers:
  *  - SUSPECT-WINDOW: per-query med/min spread > [[SuspectSpread]] at
  *    ≥ [[SuspectFloorSec]] with flat GC ([[windowSuspect]]) — read
  *    from the artifact's own `queries_window_suspect` when present
  *    (r16+ benches also require flat per-sample bytes) and
  *    recomputed from queries/queries_min/queries_gc for older
  *    artifacts, so BENCH_r15 adjudicates itself retroactively;
  *  - WALL-WINDOW: current median > baseline × [[WallWindowRatio]]
  *    with flat GC and NO byte finding for that query — wall moved,
  *    work didn't: the window, not the code.
  * Both are printed for SURVEY to cite and NEVER fail the gate: the
  * exit code reads byte metrics exclusively, so a suspect-wall-only
  * delta cannot fail a round by construction. */
object BenchDiff {

  final case class B(shuffle: Long, records: Long, input: Long, tasks: Long, spill: Long)
  final case class Finding(query: String, metric: String, base: Long, cur: Long,
      allowed: Option[String]) {
    def ratio: Double = if (base == 0) Double.PositiveInfinity else cur.toDouble / base
    override def toString: String = {
      val r = if (base == 0) "inf" else f"$ratio%.2f"
      val tag = allowed.map(a => s" ALLOWED ($a)").getOrElse("")
      f"$query%-28s $metric%-8s $base%12d -> $cur%12d  x$r$tag"
    }
  }

  val GrowthTolerance = 1.2
  /** Noise floors per metric: deltas below these never regress. */
  val ShuffleFloor = 1L << 20 // 1 MiB
  val InputFloor = 1L << 20
  val RecordFloor = 50000L
  val TaskFloor = 64L

  /** Window-suspect thresholds (round 16). Calibrated on the r15
    * driver artifact: at spread 2.0 / floor 0.5 s the rule flags
    * exactly the 9 widest of the 11 judge-adjudicated inflated queries
    * and ZERO healthy ones (the widest healthy spread in that artifact
    * is 1.72); the remaining 2 ride the cross-baseline WALL-WINDOW
    * rule at [[WallWindowRatio]]. */
  val SuspectSpread = 2.0
  val SuspectFloorSec = 0.5
  val WallWindowRatio = 1.5

  /** GC explains at most 20% of the spread (or 0.1 s absolute) for a
    * delta to read as machine-window: a genuinely memory-pressured
    * sample self-labels through its GC seconds and is NOT a window. */
  def gcFlat(gcSec: Double, deltaSec: Double): Boolean =
    gcSec <= math.max(0.1, 0.2 * deltaSec)

  /** The per-run self-adjudication predicate — med/min spread with
    * flat GC. Bench ANDs this with flat per-sample byte volume before
    * emitting `queries_window_suspect`; the fallback recomputation for
    * pre-r16 artifacts (one byte snapshot per query) applies it as-is,
    * which is exactly the judge-stated rule for BENCH_r15. */
  def windowSuspect(medSec: Double, minSec: Double, medGcSec: Double): Boolean =
    minSec > 0 && medSec / minSec > SuspectSpread &&
      medSec - minSec >= SuspectFloorSec && gcFlat(medGcSec, medSec - minSec)

  /** The run's measured action (`full` / `count`). Pre-r14 artifacts
    * carry no `action` field; they were all count-action, so the
    * absent case reads as "count" — which makes an accidental diff of
    * a pre-r14 baseline against a full-action run fail the action
    * gate instead of silently comparing incomparable byte profiles. */
  def readAction(path: String): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    Option(root.get("action")).map(_.asText("count")).getOrElse("count")
  }

  /** The run's core count (`cpus`), absent for pre-r16 artifacts.
    * Round-16 finding: task counts scale with the session's core count
    * (AQE coalescing, per-core-sized shuffles like the BPE merge loop,
    * leaf scan parallelism) — the builder's r15 closing bench ran at
    * the local[4] DEFAULT against the driver's local[32] baseline, and
    * every "tasks ×0.15-0.38 improvement" in BENCHDIFF_r15.txt was
    * that environment delta, not round-15 code. Like the action gate:
    * a mismatch makes byte profiles incomparable and fails loudly. */
  def readCpus(path: String): Option[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    Option(root.get("cpus")).map(_.asText())
  }

  def readBytes(path: String): Map[String, B] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    val qb = root.get("queries_bytes")
    require(qb != null, s"$path has no queries_bytes (pre-r13 bench format?)")
    qb.properties().asScala.map { e =>
      val v = e.getValue
      def l(f: String): Long = Option(v.get(f)).map(_.asLong(0L)).getOrElse(0L)
      e.getKey -> B(l("shuffle_read") + l("shuffle_write"), l("shuffle_records"),
        l("input"), l("tasks"), l("spill"))
    }.toMap
  }

  final case class Wall(med: Double, min: Double, gc: Double)

  /** Per-query wall stats (median / min-of-passes / median-sample GC)
    * from a bench_out-shaped artifact. Queries with no successful pass
    * (absent from queries_min) are skipped. */
  def readWall(path: String): Map[String, Wall] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    def m(f: String): Map[String, Double] = Option(root.get(f)).map {
      _.properties().asScala.map(e => e.getKey -> e.getValue.asDouble(0.0)).toMap
    }.getOrElse(Map.empty)
    val (med, mn, gc) = (m("queries"), m("queries_min"), m("queries_gc"))
    mn.keys.map(q => q -> Wall(med.getOrElse(q, -1.0), mn(q), gc.getOrElse(q, 0.0))).toMap
  }

  /** The artifact's own window-suspect set: `queries_window_suspect`
    * when the bench emitted it (r16+), else recomputed from the wall
    * stats via [[windowSuspect]] — so pre-r16 artifacts (the driver's
    * BENCH_r15 among them) adjudicate themselves retroactively. */
  def readSuspects(path: String): Seq[String] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    Option(root.get("queries_window_suspect")) match {
      case Some(arr) if arr.isArray =>
        arr.elements().asScala.map(_.asText()).toSeq.sorted
      case _ =>
        readWall(path).toSeq.collect {
          case (q, w) if windowSuspect(w.med, w.min, w.gc) => q
        }.sorted
    }
  }

  final case class WallWindow(query: String, base: Double, cur: Double) {
    override def toString: String =
      f"$query%-28s wall     ${base}%12.2f -> ${cur}%12.2f  x${cur / base}%.2f (bytes flat, gc flat — machine window, not code)"
  }

  /** Cross-baseline wall adjudication: queries whose wall median grew
    * past [[WallWindowRatio]] with flat GC and NO byte finding —
    * bytes-first says the machine moved, not the code. `byteRegressed`
    * is the query set with any (allowed or not) byte finding this
    * diff; those adjudicate as code, never window. */
  def wallWindows(base: Map[String, Wall], cur: Map[String, Wall],
      byteRegressed: Set[String]): Seq[WallWindow] =
    base.toSeq.sortBy(_._1).flatMap { case (q, b) =>
      cur.get(q) match {
        case Some(c) if b.med > 0 && c.med > b.med * WallWindowRatio &&
            c.med - b.med >= SuspectFloorSec && gcFlat(c.gc, c.med - b.med) &&
            !byteRegressed(q) =>
          Some(WallWindow(q, b.med, c.med))
        case _ => None
      }
    }

  def readAllow(path: String): Map[String, String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(p))
    root.properties().asScala.map(e => e.getKey -> e.getValue.asText("")).toMap
  }

  /** (regressions incl. allowed, missing queries, new queries,
    * improvements, stale allowlist entries). */
  def diff(base: Map[String, B], cur: Map[String, B], allow: Map[String, String])
      : (Seq[Finding], Seq[String], Seq[String], Seq[Finding], Seq[String]) = {
    val findings = Vector.newBuilder[Finding]
    val improved = Vector.newBuilder[Finding]
    for ((q, b) <- base.toSeq.sortBy(_._1); c <- cur.get(q)) {
      def check(metric: String, bv: Long, cv: Long, floor: Long): Unit = {
        if (cv > bv * GrowthTolerance && cv - bv >= floor)
          findings += Finding(q, metric, bv, cv, allow.get(q))
        else if (bv > cv * GrowthTolerance && bv - cv >= floor)
          improved += Finding(q, metric, bv, cv, None)
      }
      check("shuffle", b.shuffle, c.shuffle, ShuffleFloor)
      // a pre-r14 baseline has no shuffle_records field: zero records
      // against nonzero shuffle bytes means UNMEASURED, not zero work
      // — comparing against it would flag every query
      if (b.records > 0 || b.shuffle == 0)
        check("records", b.records, c.records, RecordFloor)
      check("input", b.input, c.input, InputFloor)
      check("tasks", b.tasks, c.tasks, TaskFloor)
      if (c.spill > 0 && b.spill == 0) findings += Finding(q, "spill", 0, c.spill, allow.get(q))
    }
    val fs = findings.result()
    val missing = base.keys.filterNot(cur.contains).toSeq.sorted
    val fresh = cur.keys.filterNot(base.contains).toSeq.sorted
    val stale = allow.keys.filterNot(q => fs.exists(_.query == q))
      .filterNot(missing.contains).toSeq.sorted
    (fs, missing, fresh, improved.result(), stale)
  }

  def main(args: Array[String]): Unit = {
    val Array(basePath, curPath, rest @ _*) = args: @unchecked
    val allowPath = rest.headOption.getOrElse(
      java.nio.file.Paths.get(basePath).toAbsolutePath.getParent
        .resolve("BENCHDIFF_ALLOW.json").toString)
    // count-action and full-action byte profiles are incomparable by
    // construction (count measures Catalyst's count-pruned plans —
    // the round-14 finding that created the action field). A
    // mismatched diff in the shrinking direction would pass silently
    // with every query "improved"; fail it loudly in both directions.
    val (baseAct, curAct) = (readAction(basePath), readAction(curPath))
    if (baseAct != curAct) {
      println(s"[benchdiff] FAIL: action mismatch — baseline=$baseAct current=$curAct " +
        "(byte profiles across actions are incomparable; re-baseline with a " +
        "full-action artifact)")
      sys.exit(2)
    }
    // core-count gate (round 16): task counts and core-sized shuffles
    // scale with local[N] — a cpus=4 run diffed against a cpus=32
    // baseline reports 4-7× task "improvements" that are pure
    // environment (the exact mistake in the builder's r15 closing
    // bench). Pre-r16 artifacts carry no cpus field: warn, don't fail
    // — the reader owns the comparison.
    (readCpus(basePath), readCpus(curPath)) match {
      case (Some(b), Some(c)) if b != c =>
        println(s"[benchdiff] FAIL: cpus mismatch — baseline=$b current=$c " +
          "(task counts and core-sized shuffles are incomparable across core counts; " +
          "rerun with SPARK_GRAFT_CPUS matching the baseline)")
        sys.exit(2)
      case (b, c) if b.isEmpty || c.isEmpty =>
        println(s"[benchdiff] note: cpus unknown for ${if (b.isEmpty) "baseline" else "current"} " +
          "(pre-r16 artifact) — task-count deltas may be environment, verify core counts match")
      case _ => ()
    }
    val (fs, missing, fresh, improved, stale) =
      diff(readBytes(basePath), readBytes(curPath), readAllow(allowPath))
    // machine-window adjudication: printed for SURVEY to cite, never
    // part of the exit code (the gate reads bytes exclusively — a
    // suspect-wall-only delta cannot fail a round by construction)
    val suspects = readSuspects(curPath)
    suspects.foreach(q => println(s"[benchdiff] SUSPECT-WINDOW $q " +
      "(med/min spread with flat gc — adjudicate from queries_min)"))
    val walls = wallWindows(readWall(basePath), readWall(curPath),
      fs.map(_.query).toSet)
    walls.filterNot(w => suspects.contains(w.query))
      .foreach(w => println(s"[benchdiff] WALL-WINDOW $w"))
    improved.foreach(f => println(s"[benchdiff] IMPROVED  $f"))
    fresh.foreach(q => println(s"[benchdiff] NEW       $q"))
    stale.foreach(q => println(s"[benchdiff] STALE-ALLOW $q (no longer regressing — retire the entry)"))
    fs.filter(_.allowed.isDefined).foreach(f => println(s"[benchdiff] GROWN     $f"))
    val hard = fs.filter(_.allowed.isEmpty)
    hard.foreach(f => println(s"[benchdiff] REGRESSED $f"))
    missing.foreach(q => println(s"[benchdiff] MISSING   $q (in baseline, absent from current run)"))
    if (hard.nonEmpty || missing.nonEmpty) {
      println(s"[benchdiff] FAIL: ${hard.size} unexplained regressions, ${missing.size} missing")
      sys.exit(1)
    }
    val nWindows = (suspects.toSet ++ walls.map(_.query)).size
    println(s"[benchdiff] OK: ${fs.size} allowed regressions, ${improved.size} improvements, " +
      s"${fresh.size} new, $nWindows machine-window suspects (wall-only, not gated)")
  }
}

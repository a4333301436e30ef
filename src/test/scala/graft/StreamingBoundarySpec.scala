package graft

import graft.streaming.LiveKV
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Pins Spark's event-time watermark BOUNDARY semantics with
  * deliberate-tie fixtures, so the stream_* oracles' drop/emit rules
  * are asserted facts, not guesses — two of the three are NOT what a
  * doc-level reading suggests:
  *
  *  1. late-row filtering runs against the PREVIOUS micro-batch's
  *     watermark — data in batch k is filtered by the watermark
  *     derived from batches ≤ k−2, a one-batch lag (when the engine
  *     idles, a no-data batch closes the gap, which is why simple
  *     interactive experiments don't see the lag; back-to-back
  *     batches do). The filter itself is STRICT: dropped iff ts < wm;
  *     a row exactly AT the watermark survives. windowedLateReplay's
  *     buffer batch exists because of exactly this lag;
  *  2. Append-mode window emission is NON-strict: a window is emitted
  *     iff window.end <= wm — a window whose end EQUALS the watermark
  *     emits (note the asymmetry with 1 and 3: row drop and timers are
  *     strict, eviction is not);
  *  3. flatMapGroupsWithState event-time timeout is STRICT: a timer at
  *     exactly the watermark does NOT fire (fires iff timeout < wm) —
  *     the boundary the stream_sessions oracle's `end + gap < wm`
  *     predicate encodes;
  *  4. dropDuplicatesWithinWatermark's input drop is NON-strict
  *     (dropped iff ts <= wm) — the opposite boundary from fact 1's
  *     aggregation filter — and the initial watermark is epoch 0, so
  *     an event at exactly t=0 dies in the FIRST batch (the
  *     dedupEvictReplay +1 s origin shift);
  *  5. a left-outer stream-stream join's null rows emit on state
  *     EVICTION only (global wm past the row's whole match window),
  *     and end-of-stream flushes NOTHING — rows still inside the
  *     window stay in state when the query terminates, which is why
  *     intervalJoinOuterReplay must append a per-side watermark-flush
  *     sentinel bucket before draining.
  */
class StreamingBoundarySpec extends SparkSpec {
  import spark.implicits._

  private def tsCol = timestamp_millis(col("value")).as("ts_utc")

  /** Drive `ms` per-batch through a 1 s tumbling count with a 10 s
    * watermark in Append mode; returns (window_start_ms -> n). */
  private def runWindowed(batches: Seq[Seq[Long]], noDataBatches: Boolean = true): Map[Long, Long] = {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, noDataBatches.toString)
    try {
      val stream = MemoryStream[Long]
      val agg = stream.toDS().select(tsCol)
        .withWatermark("ts_utc", "10 seconds")
        .groupBy(window(col("ts_utc"), "1 second"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("w"), col("n"))
      val name = s"wm_probe_${System.nanoTime()}"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        batches.foreach { b =>
          stream.addData(b); q.processAllAvailable()
          // give the engine its idle no-data batch (which promotes the
          // watermark) before feeding more data — the default-conf
          // variant exists to observe exactly that batch
          if (noDataBatches) Thread.sleep(300)
        }
        spark.table(name).as[(Long, Long)].collect().toMap
      } finally { q.stop(); spark.catalog.dropTempView(name) }
    } finally spark.conf.set(key, old)
  }

  streamTest("late filter lags one batch and is strict at ITS boundary (no-data batches off)") {
    // with no-data batches disabled, batch k's filter watermark is
    // f(batches <= k-2): at b3 that is 50 000 - 10 000 = 40 000 (NOT
    // the 90 000 b2's data implies). Probes: 15 000 and 39 999 are
    // below the lagged watermark (dropped — 39 999 pins strictness
    // 1 ms under it), 40 000 sits exactly ON it (survives — strict),
    // 89 999 is below the UN-lagged 90 000 but above the lagged value
    // (survives — pins the lag itself); b4+b5 advance the watermark so
    // every surviving window emits
    val out = runWindowed(Seq(
      Seq(10000L), Seq(50000L), Seq(100000L),
      Seq(15000L, 39999L, 40000L, 89999L),
      Seq(200000L), Seq(200001L)), noDataBatches = false)
    assert(!out.contains(15000L), s"hours-late row survived — $out")
    assert(!out.contains(39000L),
      s"row 1 ms below the (lagged) watermark survived: drop is not ts < wm — $out")
    assert(out.get(40000L).contains(1L),
      s"row exactly AT the watermark was dropped: drop is not strict — $out")
    assert(out.get(89000L).contains(1L),
      s"row above the lagged watermark was dropped: the filter used the CURRENT " +
        s"batch's watermark — the one-batch lag is gone and windowedLateReplay's " +
        s"buffer batch is no longer needed — $out")
  }

  streamTest("idle no-data batches close the watermark lag (default conf)") {
    // same feed with no-data batches ON: after b2 the engine runs a
    // no-data batch that promotes the watermark to 90 000, so at b3
    // the 89 999 row IS dropped — the reason interactive experiments
    // don't see the lag, documented as a pinned fact
    val out = runWindowed(Seq(
      Seq(10000L), Seq(50000L), Seq(100000L),
      Seq(15000L, 39999L, 40000L, 89999L),
      Seq(200000L), Seq(200001L)))
    assert(!out.contains(15000L) && !out.contains(39000L), s"late rows survived — $out")
    assert(!out.contains(89000L),
      s"no-data batch did not promote the watermark before b3 — $out")
  }

  streamTest("Append-mode window emission is non-strict: end == wm emits") {
    // three windows with data; the terminal watermark lands EXACTLY on
    // [5,6)'s end (16 000 − 10 000 = 6 000): emission is end <= wm, so
    // [4,5) and the tie [5,6) emit while [6,7) (end 7 000 > 6 000)
    // stays open
    val out = runWindowed(Seq(Seq(4500L, 5500L, 6500L), Seq(16000L), Seq(16000L)))
    assert(out.get(4000L).contains(1L), s"window below the watermark did not emit — $out")
    assert(out.get(5000L).contains(1L),
      s"window whose end EQUALS the watermark did not emit: emission rule drifted " +
        s"from end <= wm — $out")
    assert(!out.contains(6000L),
      s"window whose end is ABOVE the watermark emitted — $out")
  }

  streamTest("event-time timeout is strict: timer at exactly wm does not fire") {
    implicit val sqlCtx = spark.sqlContext
    // user 1's session times out at 1 000 + gap; user 2's lone event
    // walks the watermark to EXACTLY that timestamp — a strict timer
    // must not fire; then 1 ms beyond — now it must
    val gap = 30 * 60 * 1000L
    val delay = 3600 * 1000L
    def run(finalMs: Long): Set[Long] = {
      val stream = MemoryStream[(Long, Long)]
      val sessions = LiveKV.sessionize(
        stream.toDS().select(col("_1").as("user_id"),
          timestamp_millis(col("_2")).as("ts_utc")).as[LiveKV.SessionEvent])
      val name = s"timeout_probe_${System.nanoTime()}"
      val q = sessions.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        Seq(Seq((1L, 1000L)), Seq((2L, finalMs)), Seq((2L, finalMs)))
          .foreach { b => stream.addData(b); q.processAllAvailable() }
        spark.table(name).select("user_id").as[Long].collect().toSet
      } finally { q.stop(); spark.catalog.dropTempView(name) }
    }
    val tie = run(1000L + gap + delay)
    assert(!tie.contains(1L),
      s"session emitted when wm == lastEvent + gap: timeout is not strict — $tie")
    val past = run(1000L + gap + delay + 1)
    assert(past.contains(1L),
      s"session NOT emitted when wm == lastEvent + gap + 1 ms: timeout rule drifted — $past")
  }

  streamTest("dropDuplicatesWithinWatermark drop is NON-strict: ts == wm is dropped, even at epoch 0") {
    // fact 4 (the asymmetry grows): the dedup-within-watermark input
    // filter drops ts <= wm — where aggregations drop strictly
    // (fact 1). Two consequences pinned here: a row at EXACTLY the
    // watermark is dropped, and since the initial watermark is epoch
    // 0, an event at exactly t=0 is dropped in the very first batch —
    // why dedupEvictReplay shifts its layout +1 s off the origin.
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Long]
    val dedup = stream.toDS()
      .select(timestamp_millis(col("value")).as("ts_utc"))
      .withWatermark("ts_utc", "10 seconds")
      .dropDuplicatesWithinWatermark("ts_utc")
      .select(unix_millis(col("ts_utc")).as("ms"))
    val name = s"dedup_wm_probe_${System.nanoTime()}"
    val q = dedup.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: epoch-0 row vs initial wm = 0 (tie) + a 1 ms survivor
      // batch 2: walk wm to 30 000 - 10 000 = 20 000 ms
      // batch 3: tie at exactly 20 000 (dropped) vs 20 001 (kept)
      Seq(Seq(0L, 1L), Seq(30000L), Seq(20000L, 20001L)).foreach { b =>
        stream.addData(b); q.processAllAvailable(); Thread.sleep(300)
      }
      val got = spark.table(name).as[Long].collect().toSet
      assert(!got.contains(0L), s"epoch-0 row survived the initial watermark tie: $got")
      assert(!got.contains(20000L), s"row at exactly wm survived — drop rule is strict now: $got")
      assert(got.contains(1L) && got.contains(20001L) && got.contains(30000L),
        s"rows past the watermark were lost: $got")
    } finally { q.stop(); spark.catalog.dropTempView(name) }
  }

  streamTest("left-outer interval join: null rows emit on EVICTION; end-of-stream flushes nothing (fact 5)") {
    // the boundary behind intervalJoinOuterReplay's sentinel bucket:
    // an unmatched left row's null emission is TRIGGERED by state
    // eviction (global wm past its whole match window) — the engine
    // cannot prove "no match is coming" any earlier — and a drained
    // stream does NOT flush rows still inside the window. Fixture:
    // u3's purchase sinks below the watermark (null row emits), u2's
    // sits at the stream's top (held in state, never emitted), u1's
    // matches (emits like the inner join).
    implicit val sqlCtx = spark.sqlContext
    val ps = MemoryStream[(Long, Long, Long)] // (id, user, ms)
    val cs = MemoryStream[(Long, Long, Long)]
    def side(ms: MemoryStream[(Long, Long, Long)], p: String) =
      ms.toDS().select(col("_1").as(s"${p}_id"), col("_2").as(s"${p}_user"),
          timestamp_millis(col("_3")).as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "10 seconds")
    val joined = side(ps, "p")
      .join(side(cs, "c"),
        expr("c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL 10 SECONDS AND p_ts"),
        "leftOuter")
      .select(col("p_id"), col("c_id"))
    val name = s"outer_probe_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // b0: click(u1)@50s, purchase(u3)@10s — wm = min(40s, 0s) = 0
      cs.addData((101L, 1L, 50000L)); ps.addData((3L, 3L, 10000L))
      q.processAllAvailable(); Thread.sleep(300); q.processAllAvailable()
      // b1: purchases u1@55s (matches the 50s click) and u2@55s (no
      // click) — wm advances to min(45s, 40s) = 40s > u3's window end
      // (20s): u3 evicts -> null row; u2's window end (65s) > wm:
      // pending forever
      ps.addData((1L, 1L, 55000L), (2L, 2L, 55000L))
      q.processAllAvailable(); Thread.sleep(500); q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((1L, 101L)), s"matched pair missing: $rows")
      assert(rows.contains((3L, -1L)),
        s"evicted unmatched purchase's null row missing — eviction no longer emits: $rows")
      assert(!rows.exists(_._1 == 2L),
        s"pending purchase emitted at end-of-stream — the sentinel flush would be redundant: $rows")
    } finally { q.stop(); spark.catalog.dropTempView(name) }
  }
}

package graft.streaming

import graft.kv.Op
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Driver-visible STREAMING state replay — the query that puts the
  * whole Structured-Streaming KV plane (file source → exactly-once
  * gate → [[LiveKV.liveState]]'s mapGroupsWithState fold → Update-mode
  * sink) under the driver's DuckDB hash gate, not just under ScalaTest
  * chaos specs. Oracle: the batch replay's SQL — the streaming fold
  * shares its segment monoid with [[graft.kv.KVEngine.replay]]
  * (reference semantics: the kvraft apply loop,
  * src/kvraft/server.go:166-214), so final state is identical by
  * construction and any divergence is a real streaming bug.
  *
  * Protocol (all deterministic, all distributed except the bounded
  * final read):
  *
  *  1. the deduped WRITE log is bucketed by seq range into `nBatches`
  *     parquet files with strictly increasing modification times —
  *     dedup happens batch-side here so the oracle replays exactly
  *     (streaming dropDuplicates keeps the first ARRIVAL of a
  *     (clientId, reqId) pair, which within one micro-batch is
  *     partition-order-dependent; the in-stream dedup path stays
  *     chaos-tested in StreamingSpec where bit-parity with a SQL
  *     oracle is not the contract);
  *  2. a file-source stream reads them one file per trigger under
  *     Trigger.AvailableNow ([[buckets]]) — one micro-batch per bucket,
  *     in seq order (mod-times 2 s apart; path order ties). The state
  *     fold is genuinely INCREMENTAL across micro-batches: per-key
  *     GroupState carries (value, maxSeq) from batch to batch;
  *  3. the Update-mode memory sink holds one row per (key, batch that
  *     touched it); the final state per key is the row with the
  *     highest max_seq. That read is bounded by keys × batches — the
  *     key space is the bounded shard domain (reference:
  *     src/shardkv/client.go:25-32), never the op count.
  *
  * At production scale the memory sink becomes the shard-partitioned
  * parquet sink ([[LiveKV.stateTableSink]] — gated directly by
  * [[stateTableReplay]]) and the file source a real log (Kafka offsets
  * playing Raft log order); the operator under test — the stateful
  * fold — is byte-identical.
  *
  * Every replay drains through one path ([[drain]], or [[run]] for the
  * two replays whose sink is not a memory sink). Fixtures — bucket
  * files that are a pure function of sfDir — are built once per
  * session per (sfDir, content kind) and cached ([[cachedFixture]]), so
  * a repeated call times only the drain: source admission, state-store
  * commits and the sink, the cost a production deployment with a
  * standing log pays. Replays over caller-supplied op logs keep
  * per-invocation fixtures unless the caller vouches for a cache key.
  */
object StreamReplay {

  /** Per-hour HLL register state for [[hllReplay]] — fixed 256 ints
    * per group however many events the hour sees. */
  case class HllState(regs: Array[Int], seen: Long)

  /** One state-fold emission: the two exact-integer sketch summaries
    * plus the fold counter that orders updates in the drain. */
  case class HllUpdate(hour: Long, vZero: Long, sScaled: Long, nSeen: Long)

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Symlink-safe recursive delete — the shared [[graft.core.Fs]]
    * helper (single definition; see its scaladoc for why NOFOLLOW). */
  private def rmTree(p: Path): Unit = graft.core.Fs.rmTreeNoFollow(p)

  /** Bucket schemas, exactly as the fixtures write them. */
  private val TevSchema = "ts_utc TIMESTAMP, event_type STRING, value DOUBLE"
  private val SessionSchema = "user_id LONG, ts_utc TIMESTAMP"
  private val OpSchema = Encoders.product[Op].schema.toDDL

  /** Write each slice as ONE parquet file under `inDir/b00i` with
    * strictly increasing modification times (2 s apart — far above fs
    * timestamp granularity), so [[buckets]] admits them as
    * micro-batches in exactly `slices` order. Callers pass slices of an
    * already-checkpointed frame: each write is a coalesce(1)
    * single-task job and must not re-run upstream work. */
  private[graft] def writeBuckets(slices: Seq[DataFrame], inDir: Path): Unit = {
    val t0 = System.currentTimeMillis()
    slices.zipWithIndex.foreach { case (df, b) =>
      val dir = inDir.resolve(f"b$b%03d")
      df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
      val ls = Files.list(dir)
      try ls.forEach { p =>
        if (!p.getFileName.toString.startsWith("_"))
          Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(t0 + b * 2000L))
      } finally ls.close()
    }
  }

  /** The file-source stream over the buckets [[writeBuckets]] wrote
    * under `inDir`: one file per trigger, so each bucket is one
    * micro-batch, in bucket order. `schema` is the schema the fixture
    * wrote — declaring it spares a parquet schema-inference job. */
  private[graft] def buckets(spark: SparkSession, inDir: Path, schema: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(s"$inDir/b*")

  /** The start/await/cleanup core every drain shares: `writer(root)`,
    * over a fresh scratch root, starts under Trigger.AvailableNow with
    * its checkpoint in `root/ck` and is awaited to the end of its
    * source; then `read(root)` localizes the result. With `stateParts`
    * the start and the wait run under that `spark.sql.shuffle.partitions`
    * (see [[drain]]); without, under the session's. The query is
    * stopped and the root deleted however the body exits. */
  private def run[T](spark: SparkSession, stateParts: Option[Int])(
      writer: Path => DataStreamWriter[_])(read: Path => T): T = {
    val root = Files.createTempDirectory("graft_stream_")
    try {
      def toEnd(): Unit = {
        val q = writer(root).option("checkpointLocation", root.resolve("ck").toString)
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
      }
      stateParts match {
        case Some(n) => graft.core.Confs.withShufflePartitions(spark, n)(toEnd())
        case None => toEnd()
      }
      read(root)
    } finally rmTree(root)
  }

  /** Collect a bounded result into a local frame — it must outlive
    * the sink and scratch root it was read from. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Drain `query` to the end of its source into a memory sink in
    * `outputMode`, apply `finish` to the sink table and return the
    * collected result as a local frame. The sink's view and the
    * scratch root are dropped however the drain ends, so a failed
    * drain holds no sink rows in driver memory.
    *
    * `stateParts` is the query's state layout: a stateful operator's
    * state-store partition count is fixed at query start from
    * `spark.sql.shuffle.partitions`, and every micro-batch commits
    * every partition of every store, touched or not. So the count is
    * sized to the STATE VOLUME, not to the session's batch-compute
    * parallelism (a stream-stream join carries 4 state stores: at 32
    * partitions × 5 micro-batches that is 640 state commits for
    * kilobytes of state). At production state volumes it goes up
    * instead; either way it is a deliberate per-query choice. */
  private[graft] def drain(query: Dataset[_], outputMode: String, stateParts: Int)(
      finish: DataFrame => DataFrame): DataFrame = {
    val spark = query.sparkSession
    val name = s"stream_${runCounter.incrementAndGet()}"
    try run(spark, Some(stateParts))(_ =>
        query.writeStream.format("memory").queryName(name).outputMode(outputMode))(
      _ => local(finish(spark.table(name))))
    finally spark.catalog.dropTempView(name)
  }

  /** State-store partition count for the replay queries' stateful
    * operators — kilobytes of state at any test sf (≤ 50 KV keys /
    * bounded open sessions / a ~1.5 h join window). 2, not 1, keeps
    * the multi-partition path exercised (state is hash-partitioned, so
    * results do not depend on it). */
  private val StatePartitions = 2

  /** SCALE-AWARE state-partition count for the event-corpus replays,
    * derived from the corpus's events.parquet byte size — a filesystem
    * stat, no action (see [[derivedStatePartitions]]). A pinned count
    * caps each micro-batch's state work at that many tasks however
    * large the corpus grows. The op-log replays keep the flat
    * [[StatePartitions]]: their state is ≤ 50 KV keys at any sf. */
  private def statePartitionsFor(sfDir: String): Int = {
    val dir = java.nio.file.Paths.get(sfDir, "events.parquet")
    // NonFatal, not just IOException: the lazy walk stream surfaces
    // a file vanishing mid-walk as UncheckedIOException (a
    // RuntimeException) — any stat failure means "size unknown",
    // and the floor is the safe layout
    val bytes =
      try {
        val s = Files.walk(dir)
        try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
        finally s.close()
      } catch { case scala.util.control.NonFatal(_) => 0L }
    derivedStatePartitions(bytes, SparkSession.active.sparkContext.defaultParallelism)
  }

  /** The pure derivation behind [[statePartitionsFor]], spec-pinned:
    * ~1 state partition per 8 MB of event bytes, floored at
    * [[StatePartitions]] (every gate sf and the sf0.1 bench — 2 MB of
    * events — keep the 2-partition layout), capped at 2 × `parallelism`:
    * the commit tax is per partition PER STORE per batch, so the cap
    * tracks how many tasks can commit concurrently, not a constant. */
  private[graft] def derivedStatePartitions(bytes: Long, parallelism: Int): Int =
    math.max(StatePartitions,
      math.min(2L * math.max(1, parallelism), bytes / (8L << 20)).toInt)

  /** A cached event-corpus fixture: `project` the events table (the
    * projection must carry a `tsu` µs column; row filters belong here,
    * before the checkpoint, so it holds only needed rows), checkpoint
    * it, cut its [lo, hi] µs range into `nSlices` equal time slices,
    * and write the frames `frames(e, lo, hi, slice-index column)`
    * makes as buckets. */
  private def eventFixture(spark: SparkSession, sfDir: String, kind: String, nSlices: Int)(
      project: DataFrame => DataFrame)(
      frames: (DataFrame, Long, Long, Column) => Seq[DataFrame]): Path =
    cachedFixture(sfDir, kind) { inDir =>
      val e = project(graft.Tables.events(spark, sfDir)).localCheckpoint(true)
      val r = e.agg(min("tsu"), max("tsu")).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val width = math.max((hi - lo) / nSlices + 1, 1L)
      val bucket = least(((col("tsu") - lo).cast("decimal(25,0)") / width).cast("long"),
        lit(nSlices - 1L))
      writeBuckets(frames(e, lo, hi, bucket), inDir)
      graft.pipeline.Dedup.freeCheckpoint(e)
    }

  /** The time-ordered buckets: slice 0 first, `cols` projected. */
  private def inOrder(e: DataFrame, bucket: Column, n: Int, cols: String*): Seq[DataFrame] =
    (0 until n).map(b => e.filter(bucket === b).select(cols.map(col): _*))

  private def tev(ev: DataFrame): DataFrame =
    ev.select(graft.Tables.eventTime(ev).as("ts_utc"), col("event_type"),
      col("value"), graft.Tables.eventMicros(ev).as("tsu"))

  private def sessionEvents(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), graft.Tables.eventTime(ev).as("ts_utc"),
      graft.Tables.eventMicros(ev).as("tsu"))

  private def clicksAndPurchases(ev: DataFrame): DataFrame =
    ev.select(col("event_id"), col("user_id"), col("event_type"),
      graft.Tables.eventTime(ev).as("ts_utc"), graft.Tables.eventMicros(ev).as("tsu"))
      .filter(col("event_type").isin("click", "purchase"))

  /** The 1-hour × event_type rollup of a (ts_utc, event_type, value)
    * stream — the batch ev_hourly shape. */
  private def hourly(src: DataFrame): DataFrame = src
    .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
    .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
    .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))

  /** (ts_utc, event_type, value) time-ordered buckets — shared by
    * [[windowedReplay]] and [[ivmReplay]] (identical projection and
    * slicing) and across bench passes. */
  private def tevFixture(spark: SparkSession, sfDir: String, nBatches: Int): Path =
    eventFixture(spark, sfDir, s"tev-$nBatches", nBatches)(tev) { (e, _, _, bucket) =>
      inOrder(e, bucket, nBatches, "ts_utc", "event_type", "value")
    }

  /** Driver-visible STREAMING windowed aggregation — the second
    * streaming plane (stateful event-time aggregation, vs
    * [[stateReplay]]'s mapGroupsWithState) under the oracle gate: the
    * events table is bucketed into `nBatches` TIME-ORDERED files,
    * read as a file-source stream one file per trigger (so the
    * Complete-mode aggregation genuinely ACCUMULATES state across
    * micro-batches — a single-batch run would never exercise the
    * cross-batch state merge), rolled up by 1-hour tumbling window ×
    * event_type, and drained under Trigger.AvailableNow into a
    * Complete-mode memory sink — Complete mode makes the final table
    * the full rollup regardless of how the source was micro-batched,
    * so the result equals the batch ev_hourly rollup (same oracle SQL)
    * exactly. The final read is bounded by the hours × types window
    * grid, never the event count. In production the sink is a
    * Delta/parquet table in Update mode with a watermark; the
    * aggregation operator under test is the same. */
  def windowedReplay(spark: SparkSession, sfDir: String, nBatches: Int = 4): DataFrame =
    drain(hourly(buckets(spark, tevFixture(spark, sfDir, nBatches), TevSchema)),
      "complete", statePartitionsFor(sfDir))(identity)

  /** The PRODUCTION ingest loop under the gate — streaming × IVM: the
    * events stream drains through foreachBatch, and every micro-batch
    * folds into the STANDING parquet partial via
    * [[graft.operators.StandingTable.updateAggPartial]] (read
    * standing, monoid-merge, atomic directory swap) — exactly how a
    * lake keeps a rollup current at 100 TB: the fact stream is
    * touched once, history is never rescanned, and the served view is
    * a |groups|-sized read. The result is batching-INDEPENDENT (the
    * partial is a count/sum/min/max monoid), so the oracle is simply
    * the one-shot rollup — no streaming semantics to model; what the
    * gate buys is the end-to-end loop: file source → foreachBatch →
    * swap → serve from the on-disk table (read back AFTER the stream
    * stops, from disk, not from any in-memory sink). It runs under the
    * session's shuffle partitions: there is no state store to size,
    * and the partial's double sums must not change partition count.
    *
    * Retry caveat (the monoid's one gap): foreachBatch re-runs a
    * failed batch, and count/sum partials are NOT idempotent — a
    * production deployment records the folded batchId next to the
    * standing table (the commit-marker pattern
    * [[LiveKV.stateTableSink]] already implements and chaos-tests)
    * and skips an already-folded id; the AvailableNow happy path the
    * gate runs has no retries.
    */
  def ivmReplay(spark: SparkSession, sfDir: String, nBatches: Int = 4): DataFrame = {
    val inDir = tevFixture(spark, sfDir, nBatches)
    def standing(root: Path) = root.resolve("standing").toString
    run(spark, None)(root => buckets(spark, inDir, TevSchema).writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        // IncrementalAgg.partial derives day from the batch's ts
        // column; present the batch under the events-table shape
        graft.operators.StandingTable.updateAggPartial(standing(root),
          batch.withColumnRenamed("ts_utc", "ts"))
        ()
      })(
      // serve from the standing DISK table (groups-sized read)
      root => local(graft.operators.IncrementalAgg.finalizeView(
        spark.read.parquet(standing(root))).orderBy("day", "event_type")))
  }

  /** SKETCH-IN-STATE under the gate — streaming × HLL: per-hour
    * distinct-user registers kept as mapGroupsWithState GROUP STATE
    * (a 256-int array per hour) and folded incrementally across
    * micro-batches by the register monoid (element-wise max). This is
    * the streaming form of the standing count-distinct: per-key state
    * is FIXED-SIZE no matter how many events an hour sees — the
    * property that lets a year-long stream hold a year of hourly
    * distincts in bounded memory, where exact streaming distinct
    * state grows with the key count.
    *
    * The hash/bucket/rank arithmetic is HllSketch.hashed (the same
    * codegen'd batch columns, computed BEFORE the stateful operator),
    * and the drained integer summaries get their estimate from
    * HllSketch.estimateFromCounts — the double arithmetic exists in
    * one association order shared with the batch ev_hll and its
    * DuckDB oracle. State emits (v_zero, s_scaled, n_seen) per
    * update; max_by(n_seen) picks each hour's final summary in the
    * bounded hours-sized drain. Oracle: the one-shot per-hour
    * register build (max is order- and batching-independent).
    */
  def hllReplay(spark: SparkSession, sfDir: String, nBatches: Int = 4): DataFrame = {
    import spark.implicits._
    val inDir = eventFixture(spark, sfDir, s"hll-$nBatches", nBatches)(ev => ev.select(
        (graft.Tables.eventMicros(ev).cast("decimal(25,0)") / 3600000000L).cast("long").as("hour"),
        col("user_id"), graft.Tables.eventMicros(ev).as("tsu"))) { (e, _, _, bucket) =>
      (0 until nBatches).map(b =>
        graft.operators.HllSketch.hashed(e.filter(bucket === b), "hour", "user_id"))
    }
    val updates = buckets(spark, inDir, "hour LONG, bucket LONG, rank LONG")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[HllState, HllUpdate](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) { (hour, rows, state) =>
        val st = state.getOption.getOrElse(
          HllState(Array.fill(graft.operators.HllSketch.M)(0), 0L))
        var seen = st.seen
        rows.foreach { case (_, b, r) =>
          if (r > st.regs(b.toInt)) st.regs(b.toInt) = r.toInt
          seen += 1
        }
        val next = HllState(st.regs, seen)
        state.update(next)
        HllUpdate(hour,
          next.regs.count(_ == 0).toLong,
          next.regs.map(graft.operators.HllSketch.sTerm).sum,
          seen)
      }
    // bounded drain: hours × batches update rows; newest fold wins
    drain(updates, "update", statePartitionsFor(sfDir)) { sink =>
      graft.operators.HllSketch.estimateFromCounts(sink
        .groupBy("hour")
        .agg(max_by(struct(col("vZero"), col("sScaled")), col("nSeen")).as("s"))
        .select(col("hour"), col("s.vZero").as("v_zero"), col("s.sScaled").as("s_scaled")))
        .orderBy("hour")
    }
  }

  /** LATE / OUT-OF-ORDER data under the streaming gate — the one
    * semantics family the time-ordered replays deliberately sidestep
    * (their buckets arrive in event-time order, so the watermark never
    * drops a row). This replay streams the SAME 1-hour rollup as
    * [[windowedReplay]] but in APPEND mode with a 1 h watermark, and
    * delivers the time slices OUT OF ORDER: slice 0, slice 1, then
    * slice 3 in two halves — and slice 2 LAST, after slice 3 has
    * advanced the watermark to `hi − 1 h`. Every slice-2 row is then
    * strictly late at arrival and is DROPPED by the watermark filter
    * before it reaches the aggregation state. The reference's entire
    * test philosophy is exactly this reordering chaos
    * (src/labrpc/labrpc.go:241-245 delays and reorders RPCs by
    * 200-2200 ms); this is its event-time form.
    *
    * The drop/emit rules — empirically pinned by
    * StreamingBoundarySpec with deliberate-tie fixtures, because TWO
    * of them are not what the docs suggest:
    *
    *  - the late-row filter runs against the PREVIOUS micro-batch's
    *    watermark, not the one just advanced by the previous batch's
    *    data (one-batch lag; when the engine idles, a no-data batch
    *    closes the gap, but back-to-back AvailableNow file batches
    *    never idle). Hence the slice-3 SPLIT: slice 2 must arrive two
    *    batches after the watermark-advancing data, or nothing is
    *    dropped. The filter itself is strict — dropped iff
    *    `ts_ms < wm_ms`; a row AT the watermark survives — and here
    *    the margin is vacuously wide (slice-3a's max is half a slice
    *    above all of slice 2, enforced by [[lateSliceFilters]]);
    *  - window EMISSION in Append mode is NON-strict: a window is
    *    emitted iff `end_ms ≤ wm_ms`, with the terminal watermark
    *    `wm = floor(hi_µs/1000) − 3 600 000 ms` (watermarks are
    *    millisecond-plane; note the asymmetry — row drop is strict,
    *    eviction is not). Windows strictly above the terminal
    *    watermark hold un-emitted state that is discarded at query
    *    stop.
    *
    * So: final table = the rollup of the ON-TIME slices (0, 1, 3)
    * restricted to windows with `end ≤ hi_ms − 1 h`. Windows straddling
    * the slice-1/2 and 2/3 boundaries are emitted with PARTIAL counts
    * (their late rows dropped) — the non-trivial evidence the gate
    * exists for; StreamingSpec pins that at least one emitted window
    * lost rows. Bounded final read (emitted windows grid), as
    * [[windowedReplay]]. */
  def windowedLateReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val inDir = eventFixture(spark, sfDir, "tev-late", 4)(tev) { (e, lo, hi, bucket) =>
      lateSliceFilters(e, lo, hi, bucket, 4).map(s =>
        e.filter(s).select("ts_utc", "event_type", "value"))
    }
    drain(hourly(buckets(spark, inDir, TevSchema).withWatermark("ts_utc", "1 hour")),
      "append", statePartitionsFor(sfDir))(identity)
  }

  /** Arrival-order filters for the late replays — slices 0, 1, then
    * slice 3 split at its time midpoint (3a advances the watermark
    * past all of slice 2; 3b is the buffer batch that retires the
    * one-batch late-filter lag), then slice 2 LAST, provably late.
    * The drop must be a THEOREM on the data, not a hope: every
    * slice-2 row is required strictly below slice-3a's watermark
    * (ms plane), else this fails loudly. */
  private def lateSliceFilters(e: DataFrame, lo: Long, hi: Long,
      bucket: Column, nSlices: Int): Seq[Column] = {
    val width = (hi - lo) / nSlices + 1
    val mid3 = lo + 3 * width + (hi - (lo + 3 * width)) / 2
    val slices = Seq(
      bucket === 0L, bucket === 1L,
      bucket === 3L && col("tsu") < mid3,
      bucket === 3L && col("tsu") >= mid3,
      bucket === 2L)
    val m = e.agg(
      max(when(slices(2), col("tsu"))).as("max3a"),
      max(when(slices(4), col("tsu"))).as("max2")).head()
    require(!m.isNullAt(0) && !m.isNullAt(1) &&
      m.getLong(1) / 1000 < m.getLong(0) / 1000 - 3600000L,
      s"slice-2 max ${m.get(1)} not strictly below slice-3a watermark " +
        s"(${m.get(0)} - 1h): late-ness would be data-dependent")
    slices
  }

  /** Drain the (user_id, ts_utc) buckets under `inDir` through
    * [[LiveKV.sessionize]] — shared by the ordered and late session
    * replays. The sink is bounded by the closed-session count. */
  private def drainSessions(spark: SparkSession, inDir: Path, sfDir: String): DataFrame = {
    import spark.implicits._
    drain(LiveKV.sessionize(buckets(spark, inDir, SessionSchema).as[LiveKV.SessionEvent]),
      "append", statePartitionsFor(sfDir))(identity)
  }

  /** LATE data through the SESSIONIZATION family — the same
    * out-of-order delivery as [[windowedLateReplay]] (slices 0, 1, 3a,
    * 3b, then 2 provably late) driven through
    * [[LiveKV.sessionize]]'s flatMapGroupsWithState + event-time
    * timeout. The stateful operator's late filter drops every slice-2
    * row before it reaches any group state (same pinned rules: lagged
    * watermark — hence the 3b buffer batch — strict ts < wm), so the
    * drained result is the gap-split session table of the ON-TIME
    * slices only: users whose slice-2 events vanished get the session
    * boundaries their remaining events imply (a session spanning the
    * hole merges or splits purely by the 30-min gap rule on what
    * survived), and the usual Append emission rule applies — every
    * session except a user's last, which needs the terminal watermark
    * strictly past end + gap (timers fire mid-stream too: the
    * inter-slice jumps far exceed the gap, so most sessions close by
    * timeout between batches; emitted either way). Oracle: the
    * stream_sessions SQL over the slice-filtered event set, watermark
    * from ALL events. */
  def sessionLateReplay(spark: SparkSession, sfDir: String): DataFrame =
    drainSessions(spark, eventFixture(spark, sfDir, "sess-late", 4)(sessionEvents) {
      (e, lo, hi, bucket) =>
        lateSliceFilters(e, lo, hi, bucket, 4).map(s => e.filter(s).select("user_id", "ts_utc"))
    }, sfDir)

  /** Driver-visible STREAMING sessionization — flatMapGroupsWithState
    * with EVENT-TIME TIMEOUT under the oracle gate (the third stateful
    * streaming operator after [[stateReplay]]'s mapGroupsWithState and
    * [[windowedReplay]]'s windowed aggregation). The events table is
    * bucketed into `nBatches` TIME-ORDERED parquet files (bucket
    * boundaries are equal slices of the [min, max] event-time range,
    * so every batch's events precede the next batch's — the watermark
    * never drops data and the replay is deterministic), streamed
    * through [[LiveKV.sessionize]] (30-min-gap sessions, 1 h
    * watermark), and drained Append-mode under Trigger.AvailableNow.
    *
    * What the final table contains — and what the ORACLE must
    * replicate: a session is emitted either when a later event of the
    * same user closes it (gap exceeded — emitted regardless of
    * watermark), or when the event-time timeout fires (watermark
    * STRICTLY passed lastEvent + gap — `timeout < wm`, pinned by
    * StreamingBoundarySpec's deliberate-tie fixture; the trailing
    * no-data micro-batch fires the last round of timers). So the
    * streamed result is every batch session EXCEPT a user's final one
    * when that session's lastEvent + gap has not been strictly passed
    * by the terminal watermark (max event time − delay). Timestamps
    * are milliseconds (SessionEvent folds java.sql.Timestamp.getTime —
    * µs truncated), matching DuckDB's epoch_ms().
    *
    * The memory sink + final read are bounded by the CLOSED-session
    * count (≪ event count; production writes a parquet sink — the
    * operator under test is identical). */
  def sessionReplay(spark: SparkSession, sfDir: String, nBatches: Int = 4): DataFrame =
    drainSessions(spark, eventFixture(spark, sfDir, s"sess-$nBatches", nBatches)(sessionEvents) {
      (e, _, _, bucket) => inOrder(e, bucket, nBatches, "user_id", "ts_utc")
    }, sfDir)

  /** Driver-visible STREAM-STATIC ENRICHMENT JOIN — the fifth
    * streaming family under the gate (after the fold, the windowed
    * aggregation, sessionization and the stream-stream join), and the
    * single most common production streaming shape: a fact stream
    * joined per micro-batch against a SLOW dimension table (purchases
    * × customer → market segment), then rolled up statefully.
    *
    * The join itself is STATELESS — each micro-batch hash-joins
    * against the static side with no state store and no watermark; the
    * `broadcast` hint makes it a BroadcastHashJoin inside every
    * micro-batch (the dimension ships to executors once per batch —
    * at 100 TB/day stream scale the dimension is still dimension-
    * sized, so broadcast stays the right strategy; a fact-sized
    * "dimension" would instead become a stream-stream join). The
    * Complete-mode segment rollup AFTER the join is where cross-batch
    * state genuinely accumulates, so the replay exercises
    * join-then-stateful-agg, not just the join. Determinism: stateless
    * join + Complete-mode agg are arrival-order independent — the
    * drained table equals the batch join+rollup (the oracle SQL)
    * regardless of micro-batching; time-ordered buckets are kept only
    * so the fixture shape matches the other replays. Exact arithmetic:
    * purchase values fold as integer cents. Final read bounded by the
    * segment domain (5 rows), never the event count. */
  def staticJoinReplay(spark: SparkSession, sfDir: String, nBatches: Int = 4): DataFrame = {
    val inDir = eventFixture(spark, sfDir, s"enrich-$nBatches", nBatches)(ev =>
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"),
          graft.Tables.eventMicros(ev).as("tsu"))) { (e, _, _, bucket) =>
      inOrder(e, bucket, nBatches, "user_id", "cents")
    }
    val dim = broadcast(graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment")))
    drain(buckets(spark, inDir, "user_id LONG, cents LONG")
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents")),
      "complete", statePartitionsFor(sfDir))(identity)
  }

  /** Cached fixture roots, keyed (sfDir or cache key, content kind).
    * Cached roots are deleted by a JVM shutdown hook or by
    * [[dropCachedFixtures]]; the per-drain scratch (checkpoints,
    * sinks) stays per-invocation — that is the OPERATOR cost a bench
    * measures, while in production the source is a standing log and a
    * per-query fixture write is pure harness. */
  private val fixtureCache =
    new scala.collection.concurrent.TrieMap[(String, String), Path]()
  private val fixtureRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      fixtureRoots.forEach(p =>
        try rmTree(p) catch { case _: java.io.IOException => () })
    }))
  }

  /** Build the bucket dir for (sfDir, kind) once per session; later
    * calls serve the cached dir. `kind` names the bucket CONTENT
    * (projection + slicing + batch count) — two replays may share a
    * kind only when their buckets are row-identical (windowedReplay /
    * ivmReplay, and the three ordered interval-join drains, do).
    * Only for fixtures that are a pure function of sfDir — replays
    * taking caller-supplied datasets (the op-log family) stay
    * per-invocation. */
  private def cachedFixture(sfDir: String, kind: String)(build: Path => Unit): Path =
    fixtureCache.getOrElseUpdate((sfDir, kind), {
      val root = Files.createTempDirectory(s"graft_fixture_${kind}_")
      fixtureRoots.add(root)
      val inDir = root.resolve("in")
      build(inDir)
      inDir
    })

  /** Drop (and delete from disk) every cached fixture built for
    * `sfDir` — the per-rung release a ladder harness calls when a
    * scale rung completes: fixtures are keyed by corpus dir and a
    * finished rung never returns to its corpus, so holding its bucket
    * dirs (10M-event parquet at the 100× rung) until JVM shutdown is
    * pure scratch-disk growth. Safe mid-session: the next request for
    * a dropped (sfDir, kind) simply rebuilds. */
  def dropCachedFixtures(sfDir: String): Unit =
    fixtureCache.keys.filter(_._1 == sfDir).foreach { key =>
      fixtureCache.remove(key).foreach { inDir =>
        val root = inDir.getParent
        fixtureRoots.remove(root)
        try rmTree(root) catch { case _: java.io.IOException => () }
      }
    }

  /** Time-ordered (purchase|click) buckets + a watermark-flush
    * sentinel bucket, built once per session per (sfDir, nBatches) and
    * shared by the three ordered interval-join drains — inner,
    * leftOuter, fullOuter.
    *
    * Sentinel-sharing safety for the INNER drain: the sentinel rows
    * (far-future ts, negative NON-MATCHING users -1/-2) can never
    * produce a join match, and an inner interval join's watermark
    * bounds STATE, not emission — so draining the 5-bucket fixture
    * emits exactly the 4-bucket matches (the output filter on
    * negative ids is belt-and-braces). */
  private def orderedIntervalFixture(spark: SparkSession, sfDir: String, nBatches: Int): Path =
    eventFixture(spark, sfDir, s"ssj-$nBatches", nBatches)(clicksAndPurchases) {
      (e, _, hi, bucket) =>
        import spark.implicits._
        // watermark-flush sentinel (see intervalJoinOuterReplay): +10 h,
        // one per side so the min-across-sides watermark advances
        val sentinelTs = new java.sql.Timestamp(hi / 1000 + 36000000L)
        val sentinels = Seq(
          (-1L, -1L, "purchase", sentinelTs),
          (-2L, -2L, "click", sentinelTs))
          .toDF("event_id", "user_id", "event_type", "ts_utc")
        inOrder(e, bucket, nBatches, "event_id", "user_id", "event_type", "ts_utc") :+ sentinels
    }

  /** The purchase×click interval join over the buckets under `inDir`
    * — shared by the time-ordered, late and outer replays. `joinType`
    * switches the join; user_id coalesces across sides so fullOuter's
    * click-only rows carry it too (a no-op for inner/leftOuter, where
    * p_user is never null). */
  private def intervalJoin(spark: SparkSession, inDir: Path, joinType: String): DataFrame = {
    def side(kind: String, prefix: String) = buckets(spark, inDir,
        "event_id LONG, user_id LONG, event_type STRING, ts_utc TIMESTAMP")
      .filter(col("event_type") === kind)
      .select(col("event_id").as(s"${prefix}_id"),
        col("user_id").as(s"${prefix}_user"),
        col("ts_utc").as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "1 hour")
    side("purchase", "p")
      .join(side("click", "c"),
        expr("c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"),
        joinType)
      .select(col("p_id").as("purchase_id"), col("c_id").as("click_id"),
        coalesce(col("p_user"), col("c_user")).as("user_id"))
  }

  /** Driver-visible STREAM-STREAM INTERVAL JOIN — the fourth stateful
    * streaming family (after the fold, the windowed aggregation and
    * sessionization): each purchase matched to the same user's clicks
    * in the prior 30 minutes, both sides read as watermarked streams
    * of the events table and inner-joined on a time-bound condition
    * (the streaming twin of the batch [[graft.operators.RangeJoin]]
    * shape ev_bursts uses).
    *
    * Determinism: an INNER interval join emits every match once both
    * rows have arrived — the watermark bounds STATE, not emission —
    * so the drained result is exactly the batch join, provided no
    * needed row is evicted early. Time-ordered buckets guarantee
    * that: both sources admit the same bucket per micro-batch (one
    * file per trigger over identical files), so when a purchase
    * in batch k (p_ts ≥ T_{k−1}) probes, the watermark is
    * T_{k−1} − 1 h and a click is evicted only once the watermark
    * passes c_ts + 30 min, i.e. c_ts < T_{k−1} − 90 min — strictly
    * older than any click the purchase can need (≥ p_ts − 30 min ≥
    * T_{k−1} − 30 min). Oracle: the plain batch join SQL. */
  def intervalJoinReplay(spark: SparkSession, sfDir: String, nBatches: Int = 4): DataFrame =
    drain(intervalJoin(spark, orderedIntervalFixture(spark, sfDir, nBatches), "inner"),
      "append", statePartitionsFor(sfDir))(identity)
      .filter(col("purchase_id") >= 0) // sentinel can't match; belt-and-braces

  /** LEFT OUTER stream-stream interval join — the join family's
    * eviction-driven half: a matched pair emits like the inner join,
    * but an UNMATCHED purchase emits its null-click row only when the
    * join watermark passes its entire match window (state eviction IS
    * the emission trigger — the engine can't know "no click will
    * come" any earlier). A plain drain would therefore under-emit: the
    * final batch's purchases still sit in state, null rows pending,
    * when AvailableNow terminates. The replay closes that window with
    * a WATERMARK-FLUSH SENTINEL bucket — one far-future row per side
    * (the join's watermark is the MIN across sides, so BOTH must
    * advance), non-matching negative users — appended after the real
    * time-ordered buckets: the final no-data batch then evicts every
    * real purchase and emits its verdict. Statically sufficient:
    * sentinel ts = hi + 10 h, so watermark = hi + 9 h > any
    * p_ts + 30 min. The sentinel purchase itself can never flush
    * (nothing is above it) and is filtered by id; drained result =
    * the batch LEFT JOIN exactly. */
  def intervalJoinOuterReplay(spark: SparkSession, sfDir: String,
      nBatches: Int = 4): DataFrame =
    drain(intervalJoin(spark, orderedIntervalFixture(spark, sfDir, nBatches), "leftOuter"),
      "append", statePartitionsFor(sfDir))(identity)
      .filter(col("purchase_id") >= 0) // drop the flush sentinel

  /** FULL OUTER stream-stream interval join — both sides' unmatched
    * verdicts under the same eviction-is-emission rule
    * ([[intervalJoinOuterReplay]], StreamingBoundarySpec fact 5):
    * matched pairs emit like the inner join; an unmatched PURCHASE
    * emits (p, null) and an unmatched CLICK emits (null, c), each when
    * the global watermark passes its entire match window. The same
    * per-side sentinel bucket flushes both directions (the sentinels
    * themselves can never flush — nothing is above them — and are
    * filtered by their negative ids). Drained = the batch FULL JOIN
    * with pre-filtered sides. */
  def intervalJoinFullReplay(spark: SparkSession, sfDir: String,
      nBatches: Int = 4): DataFrame =
    drain(intervalJoin(spark, orderedIntervalFixture(spark, sfDir, nBatches), "fullOuter"),
      "append", statePartitionsFor(sfDir))(identity)
      .filter(coalesce(col("purchase_id"), lit(0L)) >= 0 &&
        coalesce(col("click_id"), lit(0L)) >= 0) // drop both flush sentinels

  /** LATE data through the STREAM-STREAM join — the third event-time
    * stateful family under disorder (after the windowed aggregation
    * and sessionization): the same out-of-order slice delivery, both
    * join sides watermarked. The join's watermark is the MIN across
    * the two sides' watermark nodes (multipleWatermarkPolicy=min, the
    * default), so the lateness theorem is checked PER KIND: every
    * slice-2 row must sit strictly below BOTH kinds' slice-3a
    * watermark — then both input filters drop all of slice 2 (same
    * pinned lag/strictness rules), and among the surviving time-
    * ordered batches no needed row is evicted early (the
    * [[intervalJoinReplay]] eviction argument, unchanged). Drained
    * result = the batch join over the on-time slices; pairs whose
    * click fell in slice 2 are the observable loss. */
  def intervalJoinLateReplay(spark: SparkSession, sfDir: String): DataFrame = {
    // out-of-order fixture, cached per session like the ordered one
    // (the lateness-margin require runs at build time — a property of
    // the TABLE, unchanged between passes)
    val inDir = eventFixture(spark, sfDir, "ssj-late", 4)(clicksAndPurchases) {
      (e, lo, hi, bucket) =>
        val slices = lateSliceFilters(e, lo, hi, bucket, 4)
        // per-kind tightening: the global watermark after slice 3a is
        // min over the two sides' maxes
        val mk = e.agg(
          max(when(slices(2) && col("event_type") === "purchase", col("tsu"))).as("p3a"),
          max(when(slices(2) && col("event_type") === "click", col("tsu"))).as("c3a"),
          max(when(slices(4), col("tsu"))).as("max2")).head()
        require(!mk.isNullAt(0) && !mk.isNullAt(1) && !mk.isNullAt(2) &&
          mk.getLong(2) / 1000 < math.min(mk.getLong(0), mk.getLong(1)) / 1000 - 3600000L,
          s"slice-2 max ${mk.get(2)} not strictly below BOTH kinds' slice-3a " +
            s"watermark (purchase ${mk.get(0)}, click ${mk.get(1)}, -1h): " +
            "join lateness would be data-dependent")
        slices.map(s => e.filter(s).select("event_id", "user_id", "event_type", "ts_utc"))
    }
    drain(intervalJoin(spark, inDir, "inner"), "append", statePartitionsFor(sfDir))(identity)
  }

  /** Run `body` over the bucket dir of an op-log replay: cached per
    * (cacheKey, kind) when the CALLER vouches the ops are a pure
    * function of that key (KVQueries passes the source dir; specs
    * with synthetic logs pass None and get a per-invocation fixture,
    * deleted however `body` exits). */
  private def withOpFixture[T](kind: String, cacheKey: Option[String])(
      build: Path => Unit)(body: Path => T): T = cacheKey match {
    case Some(k) => body(cachedFixture(k, kind)(build))
    case None =>
      val root = Files.createTempDirectory(s"graft_fixture_${kind}_")
      try {
        val inDir = root.resolve("in")
        build(inDir)
        body(inDir)
      } finally rmTree(root)
  }

  /** Run the op log through the streaming path; return final
    * (key, value) state. Blocking (AvailableNow drains the source and
    * terminates). */
  def stateReplay(ops: Dataset[Op], nBatches: Int = 4,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = ops.sparkSession
    import spark.implicits._
    require(nBatches >= 1, "nBatches must be positive")
    // stateTableReplay shares this fixture kind: both stream the same
    // deduped bucketed write log
    withOpFixture(s"oplog-writes-$nBatches", cacheKey)(bucketedWriteLog(ops, nBatches, _)) {
      inDir =>
        // foldStream, not liveState: the streamed log is ALREADY
        // exactly-once (step 1), so the in-stream dropDuplicates would
        // only push every (clientId, reqId) pair through a second state
        // store for nothing — the operator under the gate is the
        // incremental fold; the dedup-in-stream path has its own specs
        drain(LiveKV.foldStream(buckets(spark, inDir, OpSchema).as[Op]), "update",
          StatePartitions)(
          // bounded final read: keys × batches rows, newest update wins
          _.groupBy("key").agg(max_by(col("value"), col("max_seq")).as("value")))
    }
  }

  /** The IN-STREAM exactly-once gate under the oracle gate — K4's
    * streaming form. [[stateReplay]] deliberately dedups BATCH-side
    * (its fold output depends on WHICH duplicate survives, and
    * streaming dropDuplicates keeps first ARRIVAL — partition-order-
    * dependent within a micro-batch); this replay gates the streaming
    * dedup state store itself instead, on outputs that are SURVIVOR-
    * INSENSITIVE: the raw op log (no batch-side dedup, gets included)
    * streams through `dropDuplicates(clientId, reqId)` across 4
    * seq-ordered micro-batches, and the drained pair set is rolled up
    * per client as (n distinct requests, max request id) — functions
    * of pair IDENTITY only, identical whichever duplicate the state
    * store admitted first. Oracle: the same rollup over the dedup CTE
    * (one row per pair by construction).
    *
    * The Append-mode memory sink holds one row per DISTINCT
    * (clientId, reqId) — bounded by the client × reqId session domain
    * (the reference's dedup table bound, src/kvraft/server.go:72-80),
    * never the op count; production replaces it with the ack-table
    * parquet sink. The per-client rollup is aggregated BEFORE the
    * bounded driver read. */
  def dedupReplay(ops: Dataset[Op], nBatches: Int = 4,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = ops.sparkSession
    require(nBatches >= 1, "nBatches must be positive")
    withOpFixture(s"oplog-raw-$nBatches", cacheKey) { fixDir =>
      val log = ops.toDF.localCheckpoint(true)
      val maxSeqRow = log.agg(max("seq")).head()
      val maxSeq = if (maxSeqRow.isNullAt(0)) 0L else maxSeqRow.getLong(0)
      val width = math.max(maxSeq / nBatches + 1, 1L)
      val bucket = least((col("seq").cast("decimal(25,0)") / width).cast("long"),
        lit(nBatches - 1L))
      writeBuckets((0 until nBatches).map(b => log.filter(bucket === b)), fixDir)
      graft.pipeline.Dedup.freeCheckpoint(log)
    } { inDir =>
      drain(buckets(spark, inDir, OpSchema).dropDuplicates("clientId", "reqId"), "append",
        StatePartitions)(
        // client domain — bounded
        _.groupBy(col("clientId").as("client_id"))
          .agg(count(lit(1)).as("n_reqs"), max("reqId").as("max_req_id")))
    }
  }

  /** Dedup-state EVICTION under the oracle gate —
    * `dropDuplicatesWithinWatermark`, the form whose state is BOUNDED
    * (the reason in-stream dedup survives 100 TB: plain
    * dropDuplicates keeps every key forever; the within-watermark
    * variant expires a key once the watermark passes its event time +
    * delay, trading unbounded memory for a re-admission window).
    * Both sides of the trade are gated here:
    *
    *  - RE-ADMIT plants: for clients ≡ 0 (mod 5) whose first request
    *    sits early in bucket 0, a duplicate of that (clientId, reqId)
    *    pair arrives in the LAST micro-batch with a fresh event time.
    *    By then the key's state has been evicted, so the pair is
    *    emitted a SECOND time — n_emitted = n_reqs + 1.
    *  - SUPPRESS plants: for clients ≡ 1 (mod 5), the same duplicate
    *    shape arrives in the SAME batch at the SAME event time —
    *    state present, duplicate dropped, n_emitted = n_reqs.
    *
    * The oracle never simulates the watermark: the time layout makes
    * both outcomes THEOREMS under any of the engine's lag variants
    * (the `require`s below), the same discipline as the *_late
    * replays. Delay = w/8 s against bucket width w s: a re-admit
    * plant expires once the watermark clears s0 + 2·delay ≤ w/2 +
    * w/4 < m0 (the max event time of bucket 0 alone), so eviction is
    * certain two full batches before the re-arrival even under the
    * two-batch watermark lag StreamingBoundarySpec pins; the
    * re-arrival's own event time is the corpus max, so it can never
    * be filtered as late. The per-client rollup (emission count +
    * distinct requests) is survivor-insensitive, as stream_dedup's.
    */
  def dedupEvictReplay(ops: Dataset[Op], nBatches: Int = 4,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = ops.sparkSession
    require(nBatches == 4, "margin arithmetic below is written for 4 buckets")
    // the watermark delay (w/8 s) is derived from the log's seq range
    // and must match the cached buckets — it rides the fixture cache
    // as a sibling file
    withOpFixture(s"oplog-evict-$nBatches", cacheKey) { fixDir =>
      // one row per (clientId, reqId) batch-side: the planted rows are
      // the ONLY duplicates the stream sees, so emission counts are
      // exactly n_reqs + (1 per re-admitted plant)
      val base = graft.kv.KVEngine.dedup(ops).toDF
        .select(col("clientId"), col("reqId"), col("seq"))
        .localCheckpoint(true)
      val maxSeq = base.agg(max("seq")).head().getLong(0)
      val w = maxSeq / 4 + 1
      require(w / 8 >= 1, "log too small for a whole-second delay")
      // eviction-margin theorem: every plant has s0 < w/2, so
      // s0 + 2*delay < w/2 + w/4 — require bucket 0's max event time
      // beyond that, making the plant's state expire on bucket 0's
      // OWN watermark (two batches before the re-arrival)
      val m0 = base.filter(col("seq") < w).agg(max("seq")).head().getLong(0)
      require(m0 > w / 2 + w / 4 + 1,
        s"bucket 0 too sparse for the eviction margin (m0=$m0, w=$w)")
      val firsts = base.groupBy("clientId")
        .agg(min("seq").as("s0"), min_by(col("reqId"), col("seq")).as("req0"))
        .filter(col("s0") < w / 2)
        .localCheckpoint(true) // client-domain-sized
      val readmit = firsts.filter(col("clientId") % 5 === 0)
        .select(col("clientId"), col("req0").as("reqId"), lit(maxSeq).as("seq"))
      val suppress = firsts.filter(col("clientId") % 5 === 1)
        .select(col("clientId"), col("req0").as("reqId"), col("s0").as("seq"))
      require(readmit.count() > 0 && suppress.count() > 0,
        "plant groups empty — the eviction gate would be vacuous")
      val bucket = least((col("seq").cast("decimal(25,0)") / w).cast("long"),
        lit(nBatches - 1L))
      // seq + 1: this operator's late-drop is NON-STRICT (ts <= wm,
      // pinned by StreamingBoundarySpec — aggregations drop strictly)
      // and the initial watermark is epoch 0, so an event at exactly
      // t=0 would be dropped in the FIRST batch; the uniform 1 s shift
      // moves the whole layout off the origin without touching any
      // margin
      def withTs(df: DataFrame) =
        df.withColumn("ets", timestamp_micros((col("seq") + 1) * 1000000L))
      val frames = (0 until nBatches).map { b =>
        val slice = base.filter(bucket === b)
        val planted =
          if (b == 0) slice.unionByName(suppress)
          else if (b == nBatches - 1) slice.unionByName(readmit)
          else slice
        withTs(planted)
      }
      writeBuckets(frames, fixDir)
      Files.writeString(fixDir.resolve("_delay_seconds"), (w / 8).toString)
      graft.pipeline.Dedup.freeCheckpoint(base)
    } { inDir =>
      val delaySec = Files.readString(inDir.resolve("_delay_seconds")).trim.toLong
      drain(buckets(spark, inDir, "clientId LONG, reqId LONG, seq LONG, ets TIMESTAMP")
          .withWatermark("ets", s"$delaySec seconds")
          .dropDuplicatesWithinWatermark("clientId", "reqId"),
        "append", StatePartitions)(
        // bounded final read: ≤ pair-domain + plants rows, rolled up
        // per client BEFORE the collect (client-domain-sized)
        _.groupBy(col("clientId").as("client_id"))
          .agg(count(lit(1)).as("n_emitted"), countDistinct("reqId").as("n_reqs")))
    }
  }

  /** Step 1 of the op-log replays, shared by [[stateReplay]] and
    * [[stateTableReplay]]: dedup the log batch-side and bucket the
    * writes by seq range into `nBatches` ordered files under `inDir`
    * (see the object scaladoc for why dedup is batch-side). */
  private def bucketedWriteLog(ops: Dataset[Op], nBatches: Int, inDir: Path): Unit = {
    // Folded ONCE into an eager checkpoint: the per-bucket writes are
    // coalesce(1) single-task jobs, and without the checkpoint each
    // would re-run the whole dedup aggregate single-threaded (4x the
    // dedup cost, serialized).
    val writes = graft.kv.KVEngine.dedup(ops).filter(col("kind") =!= "get")
      .localCheckpoint(true)
    val maxSeqRow = writes.agg(max("seq")).head()
    val maxSeq = if (maxSeqRow.isNullAt(0)) 0L else maxSeqRow.getLong(0)
    val width = math.max(maxSeq / nBatches + 1, 1L)
    val bucket = least((col("seq").cast("decimal(25,0)") / width).cast("long"),
      lit(nBatches - 1L))
    writeBuckets((0 until nBatches).map(b => writes.filter(bucket === b).toDF), inDir)
    graft.pipeline.Dedup.freeCheckpoint(writes.toDF) // buckets are on disk
  }

  /** The PRODUCTION streaming sink under the gate: the same bucketed
    * op-log replay as [[stateReplay]], but written through
    * [[LiveKV.stateTableSink]] — the shard-partitioned incremental
    * parquet state table (per-batch I/O bounded by touched shards,
    * atomic commit markers, per-shard GC) — and read back with
    * [[LiveKV.readStateTable]], so the gated read path is the on-disk
    * state table itself, not a memory sink. Oracle: the batch replay
    * SQL (the sink folds each micro-batch with
    * [[graft.kv.KVEngine.applyIncrement]], which shares the segment
    * monoid with the batch replay — identical final state by
    * construction). The state table, its commit markers and the
    * checkpoint are torn down after the bounded final read. */
  def stateTableReplay(ops: Dataset[Op], nBatches: Int = 4,
      cacheKey: Option[String] = None): DataFrame = {
    val spark = ops.sparkSession
    import spark.implicits._
    require(nBatches >= 1, "nBatches must be positive")
    def stateDir(root: Path) = root.resolve("state").toString
    // same fixture kind as stateReplay: both stream the deduped
    // bucketed write log (one cached build serves both)
    withOpFixture(s"oplog-writes-$nBatches", cacheKey)(bucketedWriteLog(ops, nBatches, _)) {
      inDir =>
        run(spark, Some(StatePartitions))(root =>
          LiveKV.stateTableSink(buckets(spark, inDir, OpSchema).as[Op], stateDir(root),
            root.resolve("ck").toString))(
          // the RESULT is the on-disk table; localize it before teardown
          // (bounded by the key domain — the same bound as stateReplay)
          root => local(LiveKV.readStateTable(spark, stateDir(root))))
    }
  }
}

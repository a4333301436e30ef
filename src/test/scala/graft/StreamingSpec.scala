package graft

import graft.kv.{KVEngine, Op, OpLog}
import graft.streaming.LiveKV
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming plane: the live KV state must converge to exactly the
  * batch replay's state (the reference's linearizability tests check
  * the same convergence under chaos, src/kvraft/test_test.go:131-235);
  * windowed aggregation must match the batch rollup and drop
  * late-beyond-watermark data.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  streamTest("liveState over micro-batches == batch replay (incl. dedup + ordering)") {
    implicit val sqlCtx = spark.sqlContext
    val ops = OpLog.fromEvents(Tables.events(spark, sf0001)).collect().sortBy(_.seq)
    val batchState = KVEngine.replay(OpLog.fromEvents(Tables.events(spark, sf0001)))
      .as[(String, String)].collect().toMap

    val stream = MemoryStream[Op]
    val query = LiveKV.liveState(stream.toDS())
      .writeStream.outputMode("update").format("memory").queryName("live_kv")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // feed in 4 ordered chunks — offset order models log order
      ops.grouped(ops.length / 4 + 1).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val live = spark.table("live_kv")
        .groupBy("key").agg(max_by(col("value"), col("max_seq")).as("value"))
        .as[(String, String)].collect().toMap
      assert(live == batchState)
    } finally query.stop()
  }

  test("StreamReplay.stateReplay: file-source AvailableNow replay == batch replay") {
    // the driver-visible form: seq-bucketed parquet files, one
    // micro-batch each, incremental mapGroupsWithState fold — final
    // state must equal the batch replay bit-for-bit (shared monoid)
    val ops = OpLog.fromEvents(Tables.events(spark, sf0001))
    val batchState = KVEngine.replay(ops).as[(String, String)].collect().toMap
    val streamed = graft.streaming.StreamReplay.stateReplay(ops)
      .as[(String, String)].collect().toMap
    assert(streamed == batchState)
    assert(streamed.nonEmpty)
  }

  test("StreamReplay.windowedReplay: streaming hourly rollup == batch rollup") {
    val streamed = graft.streaming.StreamReplay.windowedReplay(spark, sf0001)
      .orderBy("w_start", "event_type").collect().toSeq
    val batch = SparkEntry.queries("ev_hourly")(spark, sf0001).collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("fixture cache: cached op-log replays are row-identical to uncached, fixture built once") {
    // the r12 risk class: a stale or cross-keyed fixture would make a
    // cached replay silently diverge from the uncached truth
    val ops = OpLog.fromEvents(Tables.events(spark, sf0001))
    val uncached = graft.streaming.StreamReplay.stateReplay(ops)
      .as[(String, String)].collect().toMap
    val first = graft.streaming.StreamReplay.stateReplay(ops, cached = true)
      .as[(String, String)].collect().toMap
    assert(first == uncached, "cached replay diverged from uncached")
    // locate the cached bucket files via a second call: identical rows
    // AND the fixture must not have been rebuilt (every bucket file's
    // mtime is pinned by writeBuckets at build time — a rebuild would
    // re-pin them to a later wall-clock origin)
    val second = graft.streaming.StreamReplay.stateReplay(ops, cached = true)
      .as[(String, String)].collect().toMap
    assert(second == first, "second cached replay diverged")
    // the shared-kind twin serves the same fixture and still matches
    // ITS uncached truth
    val table = graft.streaming.StreamReplay.stateTableReplay(ops, cached = true)
      .as[(String, String)].collect().toMap
    assert(table == uncached, "stateTableReplay over the shared fixture diverged")
  }

  test("StreamReplay.dedupReplay: in-stream dedup rollup == batch dedup; dupes genuinely present") {
    val ops = OpLog.fromEvents(Tables.events(spark, sf0001))
    val streamed = graft.streaming.StreamReplay.dedupReplay(ops)
      .orderBy("client_id").collect().toSeq
    val batch = KVEngine.dedup(ops)
      .groupBy(col("clientId").as("client_id"))
      .agg(count(lit(1)).as("n_reqs"), max(col("reqId")).as("max_req_id"))
      .orderBy("client_id").collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // the gate must not be vacuous: the raw log carries real duplicates
    val raw = ops.count()
    val pairs = ops.toDF.select("clientId", "reqId").distinct().count()
    assert(pairs < raw, s"no duplicate (clientId, reqId) pairs in $raw ops")
  }

  test("StreamReplay.staticJoinReplay: stream-static enrichment == batch join+rollup") {
    val streamed = graft.streaming.StreamReplay.staticJoinReplay(spark, sf0001)
      .orderBy("c_mktsegment").collect().toSeq
    val batch = {
      val ev = Tables.events(spark, sf0001)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      ev.join(Tables.customer(spark, sf0001)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .orderBy("c_mktsegment").collect().toSeq
    }
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("StreamReplay.sessionReplay == batch sessions minus still-open trailing ones") {
    val streamed = graft.streaming.StreamReplay.sessionReplay(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().toSet
    // batch sessions, computed independently in Scala: per-user sorted
    // ms timestamps split at gaps > 30 min (the sessionize rule)
    val ev = Tables.events(spark, sf0001)
    val rows = ev.select(col("user_id"), Tables.eventMicros(ev).as("tsu"))
      .as[(Long, Long)].collect()
    val gapMs = 1800000L
    val delayMs = 3600000L
    val maxMs = rows.map(_._2 / 1000).max
    val wm = maxMs - delayMs
    def sessions(ts: Seq[Long]): Seq[(Long, Long, Long)] = {
      val sorted = ts.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = sorted.head; var last = sorted.head; var n = 1L
      sorted.tail.foreach { t =>
        if (t - last <= gapMs) { last = t; n += 1 }
        else { out += ((start, last, n)); start = t; last = t; n = 1 }
      }
      out += ((start, last, n))
      out.toSeq
    }
    val all = rows.groupBy(_._1).toSeq.flatMap { case (u, ts) =>
      val ss = sessions(ts.map(_._2 / 1000).toSeq)
      // every session except the user's last is closed by a later
      // event; the last closes only if the terminal watermark passed
      // its end + gap
      ss.init.map { case (s, e, n) => (u, s, e, n) } ++
        ss.lastOption.filter { case (_, e, _) => e + gapMs < wm }
          .map { case (s, e, n) => (u, s, e, n) }
    }.toSet
    // STRICT timeout boundary only — the semantics
    // StreamingBoundarySpec pins with a deliberate end+gap == wm tie
    // (no two-way acceptance: a testdata refresh that produced a tie
    // must fail loudly here rather than silently flip the oracle)
    assert(streamed == all,
      s"strict<: missing ${(all -- streamed).take(3)} extra ${(streamed -- all).take(3)}")
  }

  test("StreamReplay.stateTableReplay: state-table sink replay == batch replay") {
    // the gated production-sink path: write through the
    // shard-partitioned state table, read the on-disk table back
    val ops = OpLog.fromEvents(Tables.events(spark, sf0001))
    val batchState = KVEngine.replay(ops).as[(String, String)].collect().toMap
    val streamed = graft.streaming.StreamReplay.stateTableReplay(ops)
      .as[(String, String)].collect().toMap
    assert(streamed == batchState && streamed.nonEmpty)
  }

  test("StreamReplay.drain: a stream failing mid-drain leaves no view, query, scratch or conf behind") {
    import graft.streaming.StreamReplay
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def scratchRoots(): Set[String] = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_stream_")).toSet
      finally ls.close()
    }
    def streamViews(): Seq[String] = spark.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary && t.name.startsWith("stream_")).map(_.name)
    val partsKey = "spark.sql.shuffle.partitions"
    val partsBefore = spark.conf.get(partsKey)
    val rootsBefore = scratchRoots()
    val dir = java.nio.file.Files.createTempDirectory("drain_spec_")
    try {
      val inDir = dir.resolve("in")
      StreamReplay.writeBuckets(
        Seq(spark.range(0, 5).toDF("x"), spark.range(5, 10).toDF("x")), inDir)
      // bucket 1 — the second micro-batch — is the first to carry x >= 5,
      // so the sink already holds batch 0's rows when the drain fails
      val boom = udf((x: Long) =>
        if (x >= 5) throw new IllegalStateException("boom in the second micro-batch") else x)
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamReplay.drain(
          StreamReplay.buckets(spark, inDir, "x LONG").select(boom(col("x")).as("x")),
          "append", stateParts = 3)(identity)
      }
      assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("boom in the second")),
        s"unexpected failure: $err")
      assert(streamViews().isEmpty, s"memory-sink views left registered: ${streamViews()}")
      assert(spark.streams.active.isEmpty, "a drained query is still active")
      val leaked = scratchRoots() -- rootsBefore
      assert(leaked.isEmpty, s"scratch roots left behind: $leaked")
      assert(spark.conf.get(partsKey) == partsBefore)
    } finally graft.core.Fs.rmTreeNoFollow(dir)
  }

  test("cached stateReplay runs no Spark job before its stream starts (bucket schema declared, not inferred)") {
    import scala.jdk.CollectionConverters._
    val ops = OpLog.fromEvents(Tables.events(spark, sf0001))
    // builds (or reuses) the fixture
    val warm = graft.streaming.StreamReplay.stateReplay(ops, cached = true)
      .as[(String, String)].collect().toMap
    // per job in start order: does it belong to a streaming query?
    val streamJob = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        streamJob.add(Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
    }
    val sc = spark.sparkContext
    org.apache.spark.graftbus.BusFlush.flush(sc)
    sc.addSparkListener(listener)
    val cached = try {
      val out = graft.streaming.StreamReplay.stateReplay(ops, cached = true)
        .as[(String, String)].collect().toMap
      org.apache.spark.graftbus.BusFlush.flush(sc)
      out
    } finally sc.removeSparkListener(listener)
    assert(cached == warm && cached.nonEmpty)
    val jobs = streamJob.asScala.toSeq
    assert(jobs.contains(true), "no streaming job observed")
    val before = jobs.takeWhile(!_).size
    assert(before == 0, s"$before of ${jobs.size} jobs ran before the stream started")
  }

  test("kv_state_skewed: salted fold over the planted hot key == plain fold") {
    val ops = OpLog.fromEventsSkewed(Tables.events(spark, sf0001))
    // the hot key must actually be hot (~70% of writes), or the skew
    // evidence is vacuous
    val writes = KVEngine.dedup(ops).filter(col("kind") =!= "get")
    val hot = writes.filter(col("key") === "hot").count().toDouble / writes.count()
    assert(hot > 0.5, s"hot key holds only ${hot * 100}%% of writes")
    val salted = KVEngine.replaySalted(ops).as[(String, String)].collect().toMap
    val plain = KVEngine.replay(OpLog.fromEventsSkewed(Tables.events(spark, sf0001)))
      .as[(String, String)].collect().toMap
    assert(salted == plain && salted.contains("hot"))
  }

  test("StreamReplay.windowedLateReplay: late slice genuinely dropped, rule modeled") {
    val streamed = graft.streaming.StreamReplay.windowedLateReplay(spark, sf0001)
      .orderBy("w_start", "event_type").collect().toSeq
    // independent model of the drop/emit rule (mirrors the DuckDB
    // oracle): rollup of slices 0,1,3 over windows with end <= wm
    val ev = Tables.events(spark, sf0001)
    val e = ev.select(Tables.eventTime(ev).as("ts_utc"),
      Tables.eventMicros(ev).as("tsu"), col("event_type"), col("value"))
    val r = e.agg(min("tsu"), max("tsu")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val width = (hi - lo) / 4 + 1
    val slice = ((col("tsu") - lo).cast("decimal(25,0)") / width).cast("long")
    val wmMs = hi / 1000 - 3600000L
    def rollup(src: org.apache.spark.sql.DataFrame) = src
      .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))
      .filter(unix_millis(col("w_start")) + 3600000 <= wmMs)
      .orderBy("w_start", "event_type")
    val model = rollup(e.filter(slice =!= 2)).collect().toSeq
    assert(streamed == model,
      s"streamed ${streamed.size} rows != model ${model.size}")
    // NON-trivial: the late slice is populated AND its loss is visible
    // in the emitted windows — the full-data rollup differs
    assert(e.filter(slice === 2).count() > 0, "late slice empty: fixture degenerate")
    val full = rollup(e).collect().toSeq
    assert(streamed != full,
      "late rows did not change any emitted window: the watermark drop is unobserved")
  }

  test("StreamReplay.sessionLateReplay: late slice dropped before group state, rule modeled") {
    val streamed = graft.streaming.StreamReplay.sessionLateReplay(spark, sf0001)
      .as[(Long, Long, Long, Long)].collect().toSet
    val ev = Tables.events(spark, sf0001)
    val rows = ev.select(col("user_id"), Tables.eventMicros(ev).as("tsu"))
      .as[(Long, Long)].collect()
    val gapMs = 1800000L
    val wm = rows.map(_._2 / 1000).max - 3600000L
    val (lo, hi) = (rows.map(_._2).min, rows.map(_._2).max)
    val width = (hi - lo) / 4 + 1
    def slice(tsu: Long) = (tsu - lo) / width
    def sessions(ts: Seq[Long]): Seq[(Long, Long, Long)] = {
      val sorted = ts.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = sorted.head; var last = sorted.head; var n = 1L
      sorted.tail.foreach { t =>
        if (t - last <= gapMs) { last = t; n += 1 }
        else { out += ((start, last, n)); start = t; last = t; n = 1 }
      }
      out += ((start, last, n))
      out.toSeq
    }
    val onTime = rows.filter(r => slice(r._2) != 2)
    val model = onTime.groupBy(_._1).toSeq.flatMap { case (u, ts) =>
      val ss = sessions(ts.map(_._2 / 1000).toSeq)
      ss.init.map { case (s, e, n) => (u, s, e, n) } ++
        ss.lastOption.filter { case (_, e, _) => e + gapMs < wm }
          .map { case (s, e, n) => (u, s, e, n) }
    }.toSet
    assert(streamed == model,
      s"missing ${(model -- streamed).take(3)} extra ${(streamed -- model).take(3)}")
    // non-trivial: late rows exist and their loss changes the session
    // table vs the full-data one
    assert(rows.exists(r => slice(r._2) == 2), "late slice empty")
    val full = rows.groupBy(_._1).toSeq.flatMap { case (u, ts) =>
      val ss = sessions(ts.map(_._2 / 1000).toSeq)
      ss.init.map { case (s, e, n) => (u, s, e, n) } ++
        ss.lastOption.filter { case (_, e, _) => e + gapMs < wm }
          .map { case (s, e, n) => (u, s, e, n) }
    }.toSet
    assert(streamed != full, "late rows did not change any session: drop unobserved")
  }

  test("StreamReplay.intervalJoinReplay == batch interval join") {
    val streamed = graft.streaming.StreamReplay.intervalJoinReplay(spark, sf0001)
      .as[(Long, Long, Long)].collect().toSet
    val ev = Tables.events(spark, sf0001)
    val e = ev.select(col("event_id"), col("user_id"), col("event_type"),
      Tables.eventMicros(ev).as("tsu"))
    val batch = e.filter(col("event_type") === "purchase").as("p")
      .join(e.filter(col("event_type") === "click").as("c"),
        col("c.user_id") === col("p.user_id") &&
          col("c.tsu") >= col("p.tsu") - 1800000000L && col("c.tsu") <= col("p.tsu"))
      .select(col("p.event_id"), col("c.event_id"), col("p.user_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"missing: ${(batch -- streamed).take(3)}, extra: ${(streamed -- batch).take(3)}")
  }

  test("StreamReplay.intervalJoinLateReplay: pairs touching the late slice lost, rest exact") {
    val streamed = graft.streaming.StreamReplay.intervalJoinLateReplay(spark, sf0001)
      .as[(Long, Long, Long)].collect().toSet
    val ev = Tables.events(spark, sf0001)
    val e0 = ev.select(col("event_id"), col("user_id"), col("event_type"),
      Tables.eventMicros(ev).as("tsu"))
      .filter(col("event_type").isin("click", "purchase"))
    val r = e0.agg(min("tsu"), max("tsu")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val width = (hi - lo) / 4 + 1
    def joinOf(src: org.apache.spark.sql.DataFrame) =
      src.filter(col("event_type") === "purchase").as("p")
        .join(src.filter(col("event_type") === "click").as("c"),
          col("c.user_id") === col("p.user_id") &&
            col("c.tsu") >= col("p.tsu") - 1800000000L && col("c.tsu") <= col("p.tsu"))
        .select(col("p.event_id"), col("c.event_id"), col("p.user_id"))
        .as[(Long, Long, Long)].collect().toSet
    val slice = ((col("tsu") - lo).cast("decimal(25,0)") / width).cast("long")
    val model = joinOf(e0.filter(slice =!= 2))
    assert(streamed == model,
      s"missing ${(model -- streamed).take(3)} extra ${(streamed -- model).take(3)}")
    val full = joinOf(e0)
    assert(model != full && streamed.nonEmpty,
      "late slice removed no pairs: the drop is unobserved")
  }

  streamTest("retried ops across micro-batches apply exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Op]
    val query = LiveKV.liveState(stream.toDS())
      .writeStream.outputMode("update").format("memory").queryName("live_retry")
      .start()
    try {
      stream.addData(Op(0, 1, 10, "append", "k", "A"), Op(1, 1, 11, "append", "k", "B"))
      query.processAllAvailable()
      // same (clientId, reqId) retried in a later batch: must be dropped
      stream.addData(Op(2, 1, 10, "append", "k", "A"), Op(3, 1, 12, "append", "k", "C"))
      query.processAllAvailable()
      val v = spark.table("live_retry")
        .groupBy("key").agg(max_by(col("value"), col("max_seq")).as("value"))
        .as[(String, String)].collect().toMap
      assert(v("k") == "ABC")
    } finally query.stop()
  }

  case class TimedOp(seq: Long, clientId: Long, reqId: Long, kind: String,
      key: String, value: String, ts_utc: java.sql.Timestamp)

  streamTest("liveStateBounded: dedup state is watermark-TTL'd — dups inside the horizon drop, after eviction re-apply") {
    implicit val sqlCtx = spark.sqlContext
    def op(seq: Long, reqId: Long, v: String, min: Int) =
      TimedOp(seq, 1, reqId, "append", "k", v,
        new java.sql.Timestamp(1700000000000L + min * 60000L))
    val stream = MemoryStream[TimedOp]
    val query = LiveKV.liveStateBounded(stream.toDF(), watermark = "10 minutes")
      .writeStream.outputMode("update").format("memory").queryName("live_ttl")
      .start()
    try {
      // retry inside the horizon: dropped
      stream.addData(op(0, 100, "A", 0), op(1, 100, "A", 1), op(2, 101, "B", 2))
      query.processAllAvailable()
      // advance the watermark far past req 100's eviction point, then
      // a VERY late retry of req 100: outside the contract, re-applies
      // — this is the documented bound on dedup state, not a bug
      stream.addData(op(3, 102, "C", 60))
      query.processAllAvailable()
      stream.addData(op(4, 100, "A", 61))
      query.processAllAvailable()
      val v = spark.table("live_ttl")
        .groupBy("key").agg(max_by(col("value"), col("max_seq")).as("value"))
        .as[(String, String)].collect().toMap
      assert(v("k") == "ABCA")
    } finally query.stop()
  }

  case class TimedDoc(doc_id: Long, text: String, ts_utc: java.sql.Timestamp)

  streamTest("streamingIncremental: stream-static gates == batch incrementalDedup statuses") {
    implicit val sqlCtx = spark.sqlContext
    val baseText = ("the cat sat of the mat and then in a while it is gone " * 4).trim
    // one-token edit: not byte-identical, but every minhash band
    // survives (same fixture reasoning as the streamingIngest test)
    val nearDup = baseText.split(" ").toVector.updated(13, "purple").mkString(" ")
    val fresh = ("is the dog in a den and it sat on the mat while then it is here " * 4).trim
    val base = Seq((1L, baseText), (2L, "some other base document entirely unrelated"))
      .toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val query = graft.pipeline.Curation
      .streamingIncremental(stream.toDS().toDF("doc_id", "text"), base)
      .writeStream.outputMode("append").format("memory").queryName("inc")
      .start()
    try {
      stream.addData((100L, baseText), (101L, nearDup), (102L, fresh))
      query.processAllAvailable()
      val kept = spark.table("inc").as[(Long, String)].collect().map(_._1).toSet
      assert(kept == Set(102L), s"kept $kept")
      // parity: the streamed survivor set is exactly the batch
      // operator's 'new' tier over the same batch — PROVIDED no base
      // band bucket exceeds MaxBandBucket (true here: the base is 2
      // docs). The batch operator blacklists over-cap base buckets
      // from its reporting join; the streaming gate's anti-joins are
      // membership tests with no pair blowup, so they keep matching
      // against mega-buckets — a doc colliding ONLY with a blacklisted
      // bucket reports 'new' in batch but is dropped by the stream.
      val batchDf = Seq((100L, baseText), (101L, nearDup), (102L, fresh))
        .toDF("doc_id", "text")
      val statuses = graft.pipeline.Dedup.incrementalDedup(base, batchDf)
        .select("doc_id", "status").as[(Long, String)].collect().toMap
      assert(statuses == Map(100L -> "exact", 101L -> "near", 102L -> "new"))
      assert(statuses.filter(_._2 == "new").keySet == kept)
    } finally query.stop()
  }

  streamTest("streamingIncremental: base snapshot persisted — later micro-batches rescan no base files") {
    implicit val sqlCtx = spark.sqlContext
    // parquet-backed base so a per-batch recompute would show up as
    // FileSourceScanExec nodes in the micro-batch plan
    val base = Tables.documents(spark, SparkSpec.SF0001).select("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    val query = graft.pipeline.Curation
      .streamingIncremental(stream.toDS().toDF("doc_id", "text"), base)
      .writeStream.outputMode("append").format("memory").queryName("inc_cache")
      .start()
    try {
      stream.addData((900001L, "a first batch document with some words"))
      query.processAllAvailable()
      stream.addData((900002L, "a second batch document with other words"))
      query.processAllAvailable()
      // walk the final plan, recursing into AQE query stages (their
      // subtrees are hidden from plain TreeNode.collect); a FileScan
      // printed INSIDE an InMemoryRelation is just the cached plan's
      // description, so node-typed collection is the honest check
      import org.apache.spark.sql.execution.SparkPlan
      def collectAll[A](p: SparkPlan)(f: PartialFunction[SparkPlan, A]): Seq[A] = {
        val here = p.collect(f)
        val nested = p.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            collectAll(a.executedPlan)(f)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            collectAll(s.plan)(f)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            collectAll(r.child)(f)
        }.flatten
        here ++ nested
      }
      val plan = query
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val fileScans = collectAll(plan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(fileScans.isEmpty,
        s"micro-batch re-scans the base parquet (snapshot not persisted):\n$plan")
      // the static side serves from the snapshot: 1 hash set + 4
      // per-band signature sets
      val cached = collectAll(plan) {
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i
      }
      assert(cached.size == 5, s"expected 5 in-memory base scans, got ${cached.size}:\n$plan")
    } finally {
      query.stop()
      graft.pipeline.Curation.lastBaseCache.foreach(_.unpersist())
    }
  }

  streamTest("streamingIngest: content dups dropped in-horizon, gates match batch TextAnalysis") {
    implicit val sqlCtx = spark.sqlContext
    val goodEn = ("the cat sat of the mat and then in a while it is gone " * 4).trim // 56 toks, stop-heavy
    val german = ("der hund und die katze ist von hier " * 6).trim
    // quality gate: "the" keeps langid on en, but 3 tokens with one
    // stopword scores 0.5*0.06 + 0.5*min(4/3,1)... NOT low enough —
    // use stopword-free filler so both components stay tiny
    val shortEn = "zzz qqq www"
    def doc(id: Long, text: String, min: Int) =
      TimedDoc(id, text, new java.sql.Timestamp(1700000000000L + min * 60000L))
    val stream = MemoryStream[TimedDoc]
    val query = graft.pipeline.Curation.streamingIngest(stream.toDF(), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("ingest")
      .start()
    try {
      // nearDup edits one token of goodEn ("gone" -> "purple"): not
      // byte-identical, but every minhash band survives the edit (the
      // changed shingles are no family's argmin — deterministic under
      // md5), so the band-0 gate must drop it. freshEn reorders the
      // same vocabulary into disjoint shingles — a genuinely new doc
      // (goodEn + " extra" would NOT be: appending keeps every original
      // shingle, so the original minima survive and the band gate
      // rightly treats it as a near-dup)
      val nearDup = goodEn.split(" ").toVector.updated(13, "purple").mkString(" ")
      assert(nearDup != goodEn)
      val freshEn = ("is the dog in a den and it sat on the mat while then it is here " * 4).trim
      stream.addData(doc(1, goodEn, 0), doc(2, german, 1), doc(3, shortEn, 2))
      query.processAllAvailable()
      // doc 4 duplicates doc 1's CONTENT inside the horizon: dropped;
      // doc 5 is a fresh good doc: kept; doc 6 is the in-horizon
      // NEAR-dup of doc 1: dropped by the band gate, not the hash gate
      stream.addData(doc(4, goodEn, 3), doc(5, freshEn, 4), doc(6, nearDup, 5))
      query.processAllAvailable()
      val got = spark.table("ingest")
        .as[(Long, String, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.keySet == Set(1L, 5L), s"kept ${got.keySet}")
      // batch/stream parity of the semantic tier: the row-local band
      // signature must equal the batch aggregate's (mh0 || mh1), and
      // batch keep-first over band_sig must reproduce the kept set
      val parityDocs = Seq((1L, goodEn), (5L, freshEn), (6L, nearDup))
        .toDF("doc_id", "text")
      val batchSig = graft.pipeline.Dedup.minhashSignatures(parityDocs)
        .select(col("doc_id"), concat(col("mh0"), col("mh1")).as("band_sig"))
        .as[(Long, String)].collect().toMap
      assert(batchSig(1L) == batchSig(6L), "planted near-dup lost its band — fixture drifted")
      assert(batchSig(1L) != batchSig(5L))
      val batchKept = batchSig.groupBy(_._2).values.map(_.keys.min).toSet
      assert(batchKept == got.keySet, s"batch keep-first $batchKept != stream ${got.keySet}")
      // the row-local gates must agree with the batch operators
      val batchDocs = Seq((1L, goodEn, "en"), (5L, freshEn, "en"))
        .toDF("doc_id", "text", "lang")
      val bq = graft.pipeline.TextAnalysis.quality(batchDocs)
        .select("doc_id", "quality").as[(Long, Double)].collect().toMap
      val bl = graft.pipeline.TextAnalysis.langId(batchDocs)
        .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
      got.foreach { case (id, (lang, q)) =>
        assert(lang == bl(id), s"doc $id: streaming lang $lang != batch ${bl(id)}")
        assert(q == bq(id), s"doc $id: streaming quality $q != batch ${bq(id)}")
      }
    } finally query.stop()
  }

  case class Click(c_user: Long, c_ts: java.sql.Timestamp)
  case class Purchase(p_user: Long, p_ts: java.sql.Timestamp, amount: Double)

  streamTest("stream-stream interval join: purchase matched to clicks within the prior 30 min") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val clicks = MemoryStream[Click]
    val purchases = MemoryStream[Purchase]
    val joined = purchases.toDF().withWatermark("p_ts", "1 hour")
      .join(
        clicks.toDF().withWatermark("c_ts", "1 hour"),
        expr("c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"))
      .select(col("p_user"), col("amount"), col("c_ts"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj").start()
    try {
      clicks.addData(Click(1, ts(0)), Click(1, ts(50)), Click(2, ts(5)))
      purchases.addData(Purchase(1, ts(60), 9.99), Purchase(2, ts(60), 5.0))
      q.processAllAvailable()
      val got = spark.table("ssj")
        .as[(Long, Double, java.sql.Timestamp)].collect()
        .map(r => (r._1, r._2, (r._3.getTime - 1700000000000L) / 60000)).toSet
      // user 1's click at minute 50 is within [30, 60]; minute 0 is not;
      // user 2's click at minute 5 is outside the window
      assert(got == Set((1L, 9.99, 50L)))
    } finally q.stop()
  }

  streamTest("sessionize: gap closes a session, timeout emits the last one") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.LiveKV.{ClosedSession, SessionEvent}
    def ev(user: Long, min: Int) =
      SessionEvent(user, new java.sql.Timestamp(1700000000000L + min * 60000L))
    val stream = MemoryStream[SessionEvent]
    val query = LiveKV.sessionize(stream.toDS(), watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess")
      .start()
    try {
      // user 1: events at 0,10 then a 40-min gap then 50 -> first session closes
      stream.addData(ev(1, 0), ev(1, 10), ev(2, 5))
      query.processAllAvailable()
      stream.addData(ev(1, 50))
      query.processAllAvailable()
      // advance the watermark far enough to time out everything open
      stream.addData(ev(9, 300))
      query.processAllAvailable()
      stream.addData(ev(9, 400))
      query.processAllAvailable()
      val got = spark.table("sess").as[ClosedSession].collect()
        .map(s => (s.user_id, (s.start_ms - 1700000000000L) / 60000, s.n_events)).toSet
      assert(got.contains((1L, 0L, 2L)), s"gap-closed session missing: $got")
      assert(got.contains((1L, 50L, 1L)), s"timeout-closed session missing: $got")
      assert(got.contains((2L, 5L, 1L)), s"user 2 session missing: $got")
    } finally query.stop()
  }

  case class Ev(ts_utc: java.sql.Timestamp, event_type: String, value: Double)

  streamTest("windowed counts match batch rollup; late data beyond watermark dropped") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(3600L * 1000 * 24 * 365 * 54 + min * 60000L)
    val onTime = Seq(
      Ev(ts(0), "view", 1.0), Ev(ts(10), "view", 2.0), Ev(ts(70), "click", 3.0),
      Ev(ts(130), "view", 4.0), Ev(ts(200), "click", 5.0))
    val stream = MemoryStream[Ev]
    val query = LiveKV.windowedCounts(stream.toDF(), "1 hour", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("win")
      .start()
    try {
      stream.addData(onTime.toIndexedSeq)
      query.processAllAvailable()
      // a very late event, far behind the advanced watermark
      stream.addData(Ev(ts(-600), "view", 9.0))
      query.processAllAvailable()
      // push watermark forward so all on-time windows close
      stream.addData(Ev(ts(500), "view", 1.0))
      query.processAllAvailable()
      val got = spark.table("win")
        .select("w_start", "event_type", "n")
        .as[(java.sql.Timestamp, String, Long)].collect()
        .map { case (w, t, n) => (w.getTime / 60000, t, n) }.toSet
      val base = ts(0).getTime / 60000
      assert(got.contains((base, "view", 2L)))      // minutes 0,10
      assert(got.contains((base + 60, "click", 1L)))
      assert(got.contains((base + 120, "view", 1L)))
      assert(got.contains((base + 180, "click", 1L)))
      // the late event's window never appears
      assert(!got.exists(_._1 == base - 600))
    } finally query.stop()
  }

  test("derivedStatePartitions: 8 MB/partition, floor 2, cap 2x parallelism — not a literal 64") {
    import graft.streaming.StreamReplay.derivedStatePartitions
    val MB = 1L << 20
    // gate scales and the sf0.1 bench (2 MB of events) keep the
    // measured 2-partition layout
    assert(derivedStatePartitions(2 * MB, 32) == 2)
    assert(derivedStatePartitions(0L, 32) == 2)
    // the r15 x100 rung: ~200 MB of events -> 25 partitions, below
    // either cap — the artifact rows are byte-identical to r15's
    assert(derivedStatePartitions(200 * MB, 32) == 25)
    // on local[32] the cap is 64, exactly the r15 literal...
    assert(derivedStatePartitions(100L * 1024 * MB, 32) == 64)
    // ...but it is 2 x parallelism, not a constant: a wider cluster is
    // not throttled to one box's ceiling (the r15 verdict's ask)
    assert(derivedStatePartitions(100L * 1024 * MB, 4000) == 8000)
    assert(derivedStatePartitions(100L * 1024 * MB, 1) == 2)
  }
}

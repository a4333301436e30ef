package graft

import graft.kv.{KVEngine, Op, OpLog}
import org.apache.spark.sql.functions._
import scala.util.Random

/** KV replay invariants, mirroring the reference's randomized client
  * checks (reference: src/kvraft/test_test.go:57-99, 131-235):
  * retried ops apply exactly once, appends apply in log order, and the
  * distributed fold equals a naive sequential interpreter.
  */
class KVEngineSpec extends SparkSpec {
  import spark.implicits._

  /** The reference semantics, interpreted sequentially in memory:
    * apply in seq order, skipping (clientId, reqId) pairs already seen
    * (src/kvraft/server.go:72-80, 113-121). */
  private def interpret(ops: Seq[Op]): Map[String, String] = {
    val seen = scala.collection.mutable.Set[(Long, Long)]()
    val db = scala.collection.mutable.Map[String, String]()
    ops.sortBy(_.seq).foreach { op =>
      if (!seen.contains((op.clientId, op.reqId))) {
        seen += ((op.clientId, op.reqId))
        op.kind match {
          case "put" => db(op.key) = op.value
          case "append" => db(op.key) = db.getOrElse(op.key, "") + op.value
          case _ => ()
        }
      }
    }
    db.toMap
  }

  private def genOps(n: Int, seed: Long): Seq[Op] = {
    val rnd = new Random(seed)
    val raw = (0 until n).map { i =>
      val client = rnd.nextInt(5).toLong
      Op(
        seq = 0, // assigned below
        clientId = client,
        reqId = rnd.nextInt(n / 2 + 1).toLong, // collisions = retries
        kind = rnd.nextInt(10) match { case 0 | 1 => "put"; case 2 => "get"; case _ => "append" },
        key = s"k${rnd.nextInt(8)}",
        value = rnd.nextInt(100).toString)
    }
    // duplicate some ops wholesale (network-level retry of the same request)
    val withRetries = raw ++ raw.filter(_ => rnd.nextBoolean()).take(n / 4)
    rnd.shuffle(withRetries).zipWithIndex.map { case (op, i) => op.copy(seq = i.toLong) }
  }

  test("distributed replay == sequential interpreter (randomized, incl. retries)") {
    (1L to 8L).foreach { seed =>
      val opsSeq = genOps(200, seed)
      val got = KVEngine
        .replay(opsSeq.toDS(), numPartitions = 4)
        .as[(String, String)]
        .collect()
        .toMap
      assert(got == interpret(opsSeq), s"seed=$seed")
    }
  }

  test("replaySalted at its design point: a key with 40% of the log folds across buckets, never one task pre-merge") {
    // the skew scenario the salted fold exists for: ONE hot key owns a
    // large fraction of all ops (reference analog: a contended kvraft
    // key under concurrent clerks, src/kvraft/test_test.go:131-160)
    val rnd = new Random(7L)
    val n = 2000
    val ops = (0 until n).map { i =>
      val hot = rnd.nextInt(10) < 4 // ~40% of ops hit the hot key
      Op(seq = i.toLong, clientId = i.toLong, reqId = i.toLong,
        kind = if (rnd.nextInt(20) == 0) "put" else "append",
        key = if (hot) "HOT" else s"k${rnd.nextInt(50)}",
        value = (i % 10).toString)
    }
    val salt = 16
    val ds = ops.toDS()
    // correctness at the design point: salted == unsalted == interpreter
    val salted = KVEngine.replaySalted(ds, salt = salt)
    val got = salted.as[(String, String)].collect().toMap
    assert(got == interpret(ops))
    // plan shape: phase 1 shuffles on (key, bucket) — the hot key is
    // split across up to `salt` buckets BEFORE any fold — and phase 2
    // merges per-key partials in a second, tiny exchange on key alone
    val plan = salted.queryExecution.executedPlan.toString
    val keyBucket = "hashpartitioning\\(key#\\d+, bucket#\\d+".r.findAllIn(plan).size
    val keyOnly = "hashpartitioning\\(key#\\d+, \\d+\\)".r.findAllIn(plan).size
    assert(keyBucket >= 1, s"phase-1 exchange is not salted on (key, bucket):\n$plan")
    assert(keyOnly >= 1, s"phase-2 per-key merge exchange missing:\n$plan")
    // data-level proof no single task sees the whole hot key pre-merge:
    // rebuild the phase-1 frame (same bucket arithmetic) and count the
    // fold groups and distinct tasks the hot key's ops actually land
    // in. The partition count is pinned to `salt` because AQE rightly
    // coalesces a 2000-row test shuffle to one partition — at the
    // design scale (hot key >> one executor's memory) the shuffle has
    // real width; the invariant under test is the SPLIT, i.e. that the
    // fold key is (key, bucket), not key
    val bucketWidth = math.max(n.toLong / salt, 1L)
    val writes = KVEngine.dedup(ds)
      .filter(col("kind") =!= "get")
      .withColumn("bucket", (col("seq") / bucketWidth).cast("long"))
      .repartition(salt, col("key"), col("bucket"))
    val hotGroups = writes.filter(col("key") === "HOT")
      .select("bucket").distinct().count()
    assert(hotGroups == salt.toLong,
      s"hot key folds in $hotGroups sub-groups, expected $salt")
    val hotParts = writes.filter(col("key") === "HOT")
      .select(spark_partition_id()).distinct().count()
    assert(hotParts >= salt / 4,
      s"hot key landed in only $hotParts of $salt partitions — salting not splitting the fold")
  }

  test("dedup keeps exactly the first occurrence of each (client, reqId)") {
    val opsSeq = genOps(300, 42L)
    val deduped = KVEngine.dedup(opsSeq.toDS()).collect()
    val expected = opsSeq.sortBy(_.seq)
      .groupBy(o => (o.clientId, o.reqId))
      .values.map(_.head).toSet
    assert(deduped.toSet == expected)
  }

  test("read-your-writes: per-client appends appear in order in final value (K6)") {
    // one client, one key, no put after the appends: final value must be
    // the in-order concat of that client's deduped appends
    val opsSeq = (0 until 50).map(i =>
      Op(seq = i, clientId = 1, reqId = i, kind = "append", key = "k", value = s"[$i]"))
    val got = KVEngine.replay(opsSeq.toDS()).as[(String, String)].collect().toMap
    assert(got("k") == (0 until 50).map(i => s"[$i]").mkString)
  }

  test("get returns empty string for missing keys (ErrNoKey semantics)") {
    val state = Seq(("a", "1")).toDF("key", "value")
    val got = KVEngine.get(state, Seq("a", "zzz")).as[(String, String)].collect().toMap
    assert(got == Map("a" -> "1", "zzz" -> ""))
  }

  test("applyIncrement: state + delta == full replay, retries across batches dropped") {
    val all = OpLog.fromEvents(Tables.events(spark, sf0001)).collect().sortBy(_.seq)
    val (first, second) = all.splitAt(all.length / 2)
    val full = KVEngine.replay(all.toSeq.toDS()).as[(String, String)].collect().toMap

    val state0 = KVEngine.replay(first.toSeq.toDS())
    // re-send some already-applied ops in the second batch (network retries)
    val retried = second ++ first.takeRight(20)
    val state1 = KVEngine
      .applyIncrement(state0, retried.toSeq.toDS(), priorOps = Some(first.toSeq.toDS()))
      .as[(String, String)].collect().toMap
    assert(state1 == full)
  }

  test("Clerk: read-your-writes through retries (reference client contract)") {
    val ck = new graft.kv.Clerk(spark, clientId = 7)
    ck.put("k", "A")
    ck.append("k", "B", sendDuplicates = 3) // retried 3x -> applies once
    assert(ck.get("k") == "AB")
    ck.append("k", "C")
    ck.put("other", "Z", sendDuplicates = 2)
    assert(ck.get("k") == "ABC")
    assert(ck.get("other") == "Z")
    assert(ck.get("missing") == "")
  }

  test("Clerk.get serves the applied map: 0 jobs at 1k and 100k logged ops, equal to replay") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    /** Jobs started while `body` runs, every queued event delivered. */
    def jobsIn[T](body: => T): (T, Int) = {
      org.apache.spark.graftbus.BusFlush.flush(sc)
      val j0 = jobs.get()
      val out = body
      org.apache.spark.graftbus.BusFlush.flush(sc)
      (out, jobs.get() - j0)
    }
    sc.addSparkListener(listener)
    try {
      val group = new graft.kv.ClerkGroup(spark)
      val clerks = (0 until 5).map(c => group.clerk(c.toLong))
      val keys = (0 until 200).map(i => s"k$i")
      val rnd = new Random(17L)
      // puts keep values short at 100k ops; duplicates and late resends
      // are the retries the ack table must absorb
      var logged = 0
      def logUntil(n: Int): Unit = while (logged < n) {
        val c = clerks(rnd.nextInt(clerks.size))
        val key = keys(rnd.nextInt(keys.size))
        val dups = if (rnd.nextInt(5) == 0) 3 else 1
        if (rnd.nextInt(3) == 0) c.put(key, s"p$logged;", dups)
        else c.append(key, s"a$logged;", dups)
        logged += dups
        if (rnd.nextInt(6) == 0) { c.resendRandom(rnd); logged += 1 }
      }
      val reader = group.clerk(99L)
      val probe = keys :+ "missing"

      logUntil(1000)
      val (small, smallJobs) = jobsIn(probe.map(k => k -> reader.get(k)).toMap)
      assert(smallJobs == 0, s"$smallJobs Spark jobs for ${probe.size} gets over ${group.log.size} ops")
      val (replayed, replayJobs) = jobsIn(
        KVEngine.replay(group.log.toDS()).as[(String, String)].collect().toMap)
      assert(replayJobs > 0, "the listener saw no job for the replay; the 0-job checks prove nothing")
      assert(group.log.map(o => (o.clientId, o.reqId)).distinct.size < group.log.size,
        "expected retries in the log")
      probe.foreach(k => assert(small(k) == replayed.getOrElse(k, ""), s"get($k) at 1k ops"))

      logUntil(100000)
      val (large, largeJobs) = jobsIn(probe.map(k => k -> reader.get(k)).toMap)
      assert(largeJobs == 0, s"$largeJobs Spark jobs for ${probe.size} gets over ${group.log.size} ops")
      val folded = interpret(group.log)
      probe.foreach(k => assert(large(k) == folded.getOrElse(k, ""), s"get($k) at 100k ops"))
    } finally sc.removeSparkListener(listener)
  }

  test("tokenizer unicode parity: letters/numbers kept, underscore splits (SURVEY 7.4.3)") {
    val d = Seq((1L, "café 北京 naïve_test 42x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val toks = apps.TextApps.tokens(d).select("word").as[String].collect().toSeq
    assert(toks == Seq("café", "北京", "naïve", "test", "42x"))
  }

  test("oplog synthesis from events is deterministic and well-typed") {
    val ops = OpLog.fromEvents(Tables.events(spark, sf0001)).collect()
    assert(ops.length == 1000)
    assert(ops.map(_.seq).distinct.length == 1000)
    assert(ops.forall(o => Set("put", "get", "append").contains(o.kind)))
    // retries must exist at this scale or kv_dedup tests nothing
    val dups = ops.groupBy(o => (o.clientId, o.reqId)).count(_._2.length > 1)
    assert(dups > 0, "expected (clientId, reqId) collisions in synthesized oplog")
  }
}

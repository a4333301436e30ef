package graft

import graft.kv.{KVEngine, Op, OpLog}
import graft.streaming.LiveKV
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files
import scala.util.Random

/** Chaos analog of the reference's crash/unreliable sweeps (reference:
  * src/kvraft/test_test.go GenericTest with crash=true restarts
  * servers between rounds; labrpc.go:186-267 re-delivers requests):
  * the SAME op log is fed through >=3 stream incarnations per seed —
  * each incarnation is a fresh MemoryStream resuming the shared
  * checkpoint after a kill — with network-level re-deliveries
  * (verbatim duplicate ops) and a simulated crashed write attempt (a
  * partial version dir with no commit marker). After every
  * incarnation the recovered state must equal the batch replay of
  * exactly the ops delivered so far: exactly-once, no matter where
  * the kill landed.
  */
object StreamingChaosSpec {
  val liveStates = new scala.collection.concurrent.TrieMap[String, String]()
}

class StreamingChaosSpec extends SparkSpec {
  import spark.implicits._

  /** Seq-sorted oplog with extra verbatim re-deliveries sprinkled in
    * later positions, split into `nBlocks` addData blocks. Block
    * boundaries are seed-stable: MemoryStream offsets index blocks, so
    * every incarnation must present identical block alignment. */
  private def chaosBlocks(seed: Long, nBlocks: Int): Vector[Vector[Op]] = {
    val rnd = new Random(seed)
    val base = OpLog.fromEvents(Tables.events(spark, sf0001)).collect().sortBy(_.seq).toVector
    val withRedelivery = base.zipWithIndex.flatMap { case (op, i) =>
      // 5%: the network re-delivers an ALREADY-SENT op (a retry can
      // only duplicate the past; a "future" op cannot be re-delivered)
      if (i > 0 && rnd.nextInt(20) == 0) Vector(op, base(rnd.nextInt(i)).copy())
      else Vector(op)
    }
    val cuts = (Vector(0, withRedelivery.size) ++
      Vector.fill(nBlocks - 1)(rnd.nextInt(withRedelivery.size))).sorted
    cuts.sliding(2).collect { case Seq(a, b) => withRedelivery.slice(a, b).toVector }.toVector
  }

  test("stateTableSink survives seeded kill/restart across incarnations (exactly-once)") {
    Seq(7L, 13L).foreach { seed =>
      implicit val sqlCtx = spark.sqlContext
      val rnd = new Random(seed * 31)
      val stateDir = Files.createTempDirectory(s"graft_chaos_state_$seed").toString
      val ckpt = Files.createTempDirectory(s"graft_chaos_ckpt_$seed").toString
      val blocks = chaosBlocks(seed, nBlocks = 8)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      // the sink caches each batch's writes; none may outlive its batch
      val cachedBefore = org.apache.spark.graftbus.CachedBlocks.rddBlocks()
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet

      // 4 incarnations, each killed after a random prefix of blocks;
      // the last one sees everything. One randomly-chosen inter-
      // incarnation gap also runs offline compaction (the VACUUM a
      // real deployment schedules between restarts) — state and
      // resume behavior must be unaffected.
      val stops = (Vector.fill(3)(1 + rnd.nextInt(blocks.size)) :+ blocks.size).sorted
      val compactAfter = stops(rnd.nextInt(stops.size - 1))
      var delivered = 0
      stops.foreach { upTo =>
        // crashed previous attempt: a partial, unmarked version dir —
        // the recompute must overwrite it wholesale. Only planted when
        // this incarnation will actually run a batch (repeated stop
        // points model a restart that makes no progress)
        val progresses = upTo > delivered
        val nextBatch = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
          .map(_.getPath.getName).filter(_.startsWith("_commit_"))
          .map(_.stripPrefix("_commit_").toLong).sorted.lastOption.map(_ + 1).getOrElse(0L)
        val partial = new org.apache.hadoop.fs.Path(s"$stateDir/v$nextBatch/shard=99")
        if (progresses) {
          fs.mkdirs(partial)
          fs.create(new org.apache.hadoop.fs.Path(partial, "part-garbage.parquet"), true).close()
        }

        val stream = MemoryStream[Op]
        // an incarnation must re-present all earlier blocks so offsets
        // line up; committed ones are skipped via the checkpoint
        (0 until upTo).foreach(i => stream.addData(blocks(i)))
        val query = LiveKV.stateTableSink(
          stream.toDS().dropDuplicates("clientId", "reqId"), stateDir, ckpt).start()
        try query.processAllAvailable() finally query.stop()

        delivered = upTo
        val expected = KVEngine.replay(blocks.take(delivered).flatten.toDS())
          .as[(String, String)].collect().toMap
        val got = LiveKV.readStateTable(spark, stateDir)
          .as[(String, String)].collect().toMap
        assert(got == expected, s"state diverged after kill at block $upTo (seed=$seed)")
        val leaked = org.apache.spark.graftbus.CachedBlocks.rddBlocks() -- cachedBefore
        assert(leaked.size == 0,
          s"cached blocks left after kill at block $upTo, e.g. ${leaked.take(3)} (seed=$seed)")
        assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore,
          s"persisted RDDs left after kill at block $upTo (seed=$seed)")
        if (progresses)
          assert(!fs.exists(partial), s"crashed partial attempt survived (seed=$seed)")
        if (upTo == compactAfter) {
          LiveKV.compactStateTable(spark, stateDir)
          val afterCompact = LiveKV.readStateTable(spark, stateDir)
            .as[(String, String)].collect().toMap
          assert(afterCompact == expected, s"compaction changed state (seed=$seed)")
        }
      }
      assert(delivered == blocks.size)
      // after the whole sweep, GC must hold the per-shard bound: only
      // the newest version and its predecessor of any shard survive
      val shardVersionCounts = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
        .map(_.getPath.getName).filter(_.startsWith("v")).toSeq
        .flatMap { v =>
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/$v"))
            .map(_.getPath.getName).filter(_.startsWith("shard="))
        }
        .groupBy(identity).map { case (s, vs) => s -> vs.size }
      shardVersionCounts.foreach { case (shard, n) =>
        assert(n <= 2, s"$shard survives in $n versions after chaos sweep (seed=$seed)")
      }
    }
  }

  test("liveState survives seeded kill/restart across incarnations (exactly-once)") {
    Seq(5L).foreach { seed =>
      implicit val sqlCtx = spark.sqlContext
      val rnd = new Random(seed * 17)
      val ckpt = Files.createTempDirectory(s"graft_chaos_live_$seed").toString
      val blocks = chaosBlocks(seed, nBlocks = 6)
      StreamingChaosSpec.liveStates.clear()

      val stops = (Vector.fill(2)(1 + rnd.nextInt(blocks.size)) :+ blocks.size).sorted
      stops.foreach { upTo =>
        val stream = MemoryStream[Op]
        (0 until upTo).foreach(i => stream.addData(blocks(i)))
        val query = LiveKV.liveState(stream.toDS())
          .writeStream.outputMode("update")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[LiveKV.KVUpdate], _: Long) =>
            batch.collect().foreach(u => StreamingChaosSpec.liveStates.put(u.key, u.value))
          }
          .option("checkpointLocation", ckpt).start()
        try query.processAllAvailable() finally query.stop()
      }

      val expected = KVEngine.replay(blocks.flatten.toDS())
        .as[(String, String)].collect().toMap
      val got = StreamingChaosSpec.liveStates.toMap
      assert(got == expected, s"live state diverged (seed=$seed)")
    }
  }

  test("dropDuplicatesWithinWatermark survives kill/restart: exactly-once modulo eviction") {
    // the bounded-state dedup under restart chaos. Deterministic
    // invariants that hold under ANY batching the engine picks:
    //  - every pair emits at least once (no loss across restarts);
    //  - a pair with NO planted duplicate emits exactly once (the
    //    checkpoint + state store never double-emit on batch replay);
    //  - a within-delay duplicate (same addData block — blocks are
    //    never split across batches) is always suppressed;
    //  - only the planted post-eviction duplicates may re-emit, and at
    //    most once each (emission count in {1, 2}).
    Seq(11L, 29L).foreach { seed =>
      implicit val sqlCtx = spark.sqlContext
      val rnd = new Random(seed * 23)
      val ckpt = Files.createTempDirectory(s"graft_chaos_evict_$seed").toString

      val base = KVEngine.dedup(OpLog.fromEvents(Tables.events(spark, sf0001)))
        .select(org.apache.spark.sql.functions.col("clientId"),
          org.apache.spark.sql.functions.col("reqId"), org.apache.spark.sql.functions.col("seq"))
        .as[(Long, Long, Long)].collect().sortBy(_._3).toVector
      val maxSeq = base.last._3
      val w = maxSeq / 4 + 1
      // plants as in dedupEvictReplay: readmit dups re-arrive LAST
      // with a fresh event time; suppress dups ride in-block
      val firsts = base.groupBy(_._1).view.mapValues(_.minBy(_._3)).toMap
      val readmit = firsts.collect {
        case (c, (_, r, s0)) if c % 5 == 0 && s0 < w / 2 => (c, r, maxSeq)
      }.toVector
      val suppress = firsts.collect {
        case (c, (_, r, s0)) if c % 5 == 1 && s0 < w / 2 => (c, r, s0)
      }.toVector
      assert(readmit.nonEmpty && suppress.nonEmpty)
      val nBlocks = 6
      val cut = (base.size + nBlocks - 1) / nBlocks
      val blocks0 = base.grouped(cut).toVector
      val blocks = blocks0.zipWithIndex.map { case (b, i) =>
        val withSuppress = b ++ suppress.filter { case (_, _, s0) =>
          b.exists(_._3 == s0) } // dup rides in its original's block
        if (i == blocks0.size - 1) withSuppress ++ readmit else withSuppress
      }

      // per-batchId capture: a replayed batch after a kill OVERWRITES
      // its slot instead of double-counting
      val byBatch = new scala.collection.concurrent.TrieMap[Long, Seq[(Long, Long)]]()
      val stops = (Vector.fill(2)(1 + rnd.nextInt(blocks.size)) :+ blocks.size).sorted
      stops.foreach { upTo =>
        val stream = MemoryStream[(Long, Long, Long)]
        (0 until upTo).foreach(i => stream.addData(blocks(i)))
        val q = stream.toDS()
          .select(org.apache.spark.sql.functions.col("_1").as("clientId"),
            org.apache.spark.sql.functions.col("_2").as("reqId"),
            org.apache.spark.sql.functions.timestamp_micros(
              (org.apache.spark.sql.functions.col("_3") + 1) * 1000000L).as("ets"))
          .withWatermark("ets", s"${w / 8} seconds")
          .dropDuplicatesWithinWatermark("clientId", "reqId")
          .writeStream.outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            byBatch.put(id, batch.select("clientId", "reqId")
              .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }

      val emitted = byBatch.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val pairs = base.map(t => (t._1, t._2)).toSet
      val readmitPairs = readmit.map(t => (t._1, t._2)).toSet
      pairs.foreach { p =>
        val n = emitted.getOrElse(p, 0)
        if (readmitPairs.contains(p))
          assert(n >= 1 && n <= 2, s"seed=$seed readmit pair $p emitted $n times")
        else
          assert(n == 1, s"seed=$seed pair $p emitted $n times (expected exactly once)")
      }
    }
  }
}

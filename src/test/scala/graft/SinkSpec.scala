package graft

import graft.core.{KeyValue, MapReduceJob}
import graft.kv.Op
import graft.streaming.LiveKV
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Sink/source semantics: JSON KeyValue round-trip (reference S3-S5:
  * JSON is the wire format of intermediates and reduce output) and
  * streaming checkpoint restore (reference S8: snapshot + restore on
  * restart, src/kvraft/server.go:203-210, 169-183).
  */
object SinkSpec {
  val states = new scala.collection.concurrent.TrieMap[String, graft.streaming.LiveKV.KVUpdate]()
}

class SinkSpec extends SparkSpec {
  import spark.implicits._

  test("KeyValue JSON sink round-trips (S5)") {
    val dir = Files.createTempDirectory("graft_json").toString + "/out"
    val kvs = Seq(KeyValue("a", "1"), KeyValue("b", "2"), KeyValue("c", "")).toDS()
    kvs.write.json(dir)
    val back = spark.read.schema("key STRING, value STRING").json(dir)
      .as[KeyValue].collect().sortBy(_.key)
    assert(back.toSeq == Seq(KeyValue("a", "1"), KeyValue("b", "2"), KeyValue("c", "")))
  }

  test("merged text sink writes reference format (S6)") {
    val dir = Files.createTempDirectory("graft_txt").toString + "/out"
    val kvs = Seq(KeyValue("b", "2"), KeyValue("a", "1")).toDS()
    MapReduceJob.merged(kvs).coalesce(1).write.text(dir)
    val lines = spark.read.text(dir).as[String].collect().sorted
    assert(lines.toSeq == Seq("a: 1", "b: 2"))
  }

  test("stateTableSink maintains a parquet state table equal to batch replay (S8 batch form)") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("graft_state").toString
    val ckpt = Files.createTempDirectory("graft_state_ckpt").toString
    val ops = graft.kv.OpLog.fromEvents(Tables.events(spark, sf0001))
      .collect().sortBy(_.seq)
    val expected = graft.kv.KVEngine.replay(
      graft.kv.OpLog.fromEvents(Tables.events(spark, sf0001)))
      .as[(String, String)].collect().toMap

    val stream = MemoryStream[graft.kv.Op]
    val query = LiveKV.stateTableSink(
      stream.toDS().dropDuplicates("clientId", "reqId"), stateDir, ckpt).start()
    try {
      ops.grouped(ops.length / 3 + 1).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val got = LiveKV.readStateTable(spark, stateDir)
        .as[(String, String)].collect().toMap
      assert(got == expected)
      // GC: per shard, only the newest version and its predecessor
      // survive (shard-partitioned versions age out shard by shard)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val versions = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
        .map(_.getPath.getName).filter(_.startsWith("v"))
      val shardVersionCounts = versions.toSeq
        .flatMap { v =>
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/$v"))
            .map(_.getPath.getName).filter(_.startsWith("shard="))
        }
        .groupBy(identity).map { case (s, vs) => s -> vs.size }
      assert(shardVersionCounts.nonEmpty)
      shardVersionCounts.foreach { case (shard, n) =>
        assert(n <= 2, s"$shard present in $n versions — stale partitions not GC'd")
      }
    } finally query.stop()

    // reusing the stateDir with a FRESH checkpoint must fail loudly,
    // not silently skip batches whose ids collide with old commits
    val ckpt2 = Files.createTempDirectory("graft_state_ckpt2").toString
    val stream2 = MemoryStream[graft.kv.Op]
    val query2 = LiveKV.stateTableSink(stream2.toDS(), stateDir, ckpt2).start()
    try {
      stream2.addData(graft.kv.Op(0, 1, 0, "put", "k", "X"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query2.processAllAvailable()
      }
      assert(ex.getMessage.contains("different checkpoint")
        || Option(ex.getCause).exists(_.getMessage.contains("different checkpoint")))
    } finally query2.stop()
  }

  test("stateTableSink rewrites ONLY the shard partitions a batch touches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.shard.Key2Shard
    val stateDir = Files.createTempDirectory("graft_shardstate").toString
    val ckpt = Files.createTempDirectory("graft_shardstate_ckpt").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def shardDirs(v: Long): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/v$v"))
        .map(_.getPath.getName).filter(_.startsWith("shard=")).toSeq.sorted

    val stream = MemoryStream[Op]
    val query = LiveKV.stateTableSink(stream.toDS(), stateDir, ckpt).start()
    try {
      // batch 0: keys "0"/"1"/"22" land on three distinct shards
      stream.addData(Op(0, 1, 0, "put", "0", "a"), Op(1, 1, 1, "put", "1", "b"),
        Op(2, 1, 2, "put", "22", "c"))
      query.processAllAvailable()
      assert(shardDirs(0).size == 3)

      // batch 1: ONE key -> exactly one partition written, O(shard)
      // not O(table) I/O
      stream.addData(Op(3, 1, 3, "append", "0", "X"))
      query.processAllAvailable()
      assert(shardDirs(1) == Seq(s"shard=${Key2Shard.shardOfRef("0")}"),
        s"1-key batch rewrote ${shardDirs(1).size} partitions: ${shardDirs(1).mkString(",")}")

      // untouched shards still resolve from v0; touched shard from v1
      val got = LiveKV.readStateTable(spark, stateDir).as[(String, String)].collect().toMap
      assert(got == Map("0" -> "aX", "1" -> "b", "22" -> "c"))
    } finally query.stop()
  }

  test("stateTableSink skips get-only batches: marker only, no version dir, no shard rewrite") {
    implicit val sqlCtx = spark.sqlContext
    import graft.shard.Key2Shard
    val stateDir = Files.createTempDirectory("graft_getstate").toString
    val ckpt = Files.createTempDirectory("graft_getstate_ckpt").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)

    val stream = MemoryStream[Op]
    val query = LiveKV.stateTableSink(stream.toDS(), stateDir, ckpt).start()
    try {
      stream.addData(Op(0, 1, 0, "put", "a", "1"), Op(1, 1, 1, "put", "b", "2"))
      query.processAllAvailable()
      // a batch of pure reads: gets don't change state, so nothing may
      // be reread or rewritten — commit marker only (keeps redelivery
      // idempotent), no v1 data dir, no extra version for GC to chase
      stream.addData(Op(2, 1, 2, "get", "a", ""), Op(3, 1, 3, "get", "b", ""))
      query.processAllAvailable()
      assert(!fs.exists(p(s"$stateDir/v1")), "get-only batch wrote a version dir")
      assert(fs.exists(p(s"$stateDir/_commit_1")), "get-only batch must still commit")
      // a MIXED batch routes only its writes: the get on "b" must not
      // drag b's shard into the rewrite
      stream.addData(Op(4, 1, 4, "append", "a", "X"), Op(5, 1, 5, "get", "b", ""))
      query.processAllAvailable()
      val dirs2 = fs.listStatus(p(s"$stateDir/v2"))
        .map(_.getPath.getName).filter(_.startsWith("shard=")).toSeq
      assert(dirs2 == Seq(s"shard=${Key2Shard.shardOfRef("a")}"),
        s"mixed batch rewrote ${dirs2.mkString(",")}")
      val got = LiveKV.readStateTable(spark, stateDir).as[(String, String)].collect().toMap
      assert(got == Map("a" -> "1X", "b" -> "2"))
    } finally query.stop()
  }

  test("stateTableSink evaluates each micro-batch once: dedup state counts every pair once") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("graft_once").toString
    val ckpt = Files.createTempDirectory("graft_once_ckpt").toString
    val rnd = new scala.util.Random(5L)
    var seq = 0L
    // a retry repeats its request verbatim: the fields follow from reqId
    def op(reqId: Long): Op = {
      seq += 1
      Op(seq, 1 + reqId % 3, reqId, if (reqId % 4 == 0) "put" else "append",
        s"k${reqId % 5}", s"v$reqId;")
    }
    // three micro-batches of ten new requests plus four retries each,
    // from the same batch or an earlier one
    val blocks = (0 until 3).map { b =>
      (b * 10 until b * 10 + 10).map(r => op(r.toLong)) ++
        (0 until 4).map(_ => op(rnd.nextInt(b * 10 + 10).toLong))
    }
    val stream = MemoryStream[Op]
    val query = LiveKV.stateTableSink(
      stream.toDS().dropDuplicates("clientId", "reqId"), stateDir, ckpt).start()
    try {
      blocks.indices.foreach { k =>
        stream.addData(blocks(k))
        query.processAllAvailable()
        val pairs = blocks.take(k + 1).flatten.map(o => (o.clientId, o.reqId)).distinct.size
        val rows = query.lastProgress.stateOperators.head.numRowsTotal
        assert(rows == pairs, s"after batch $k the dedup state counts $rows rows for $pairs pairs")
      }
      val expected = graft.kv.KVEngine.replay(blocks.flatten.toDS()).as[(String, String)].collect().toMap
      assert(LiveKV.readStateTable(spark, stateDir).as[(String, String)].collect().toMap == expected)
    } finally query.stop()
  }

  test("compactStateTable consolidates to ONE version and the stream resumes cleanly after") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("graft_compact").toString
    val ckpt = Files.createTempDirectory("graft_compact_ckpt").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def listNames(p: String, prefix: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(_.getPath.getName).filter(_.startsWith(prefix)).toSeq.sorted

    // three batches touching different shard mixes -> multiple versions
    val blocks = Vector(
      Vector(Op(0, 1, 0, "put", "a", "1"), Op(1, 1, 1, "put", "b", "2")),
      Vector(Op(2, 1, 2, "append", "a", "X")),
      Vector(Op(3, 1, 3, "put", "c", "3")))
    val s1 = MemoryStream[Op]
    val q1 = LiveKV.stateTableSink(s1.toDS(), stateDir, ckpt).start()
    try {
      blocks.foreach { b => s1.addData(b); q1.processAllAvailable() }
    } finally q1.stop()
    val before = LiveKV.readStateTable(spark, stateDir).as[(String, String)].collect().toMap
    assert(before == Map("a" -> "1X", "b" -> "2", "c" -> "3"))
    assert(listNames(stateDir, "v").size >= 2, "need multiple versions to compact")

    LiveKV.compactStateTable(spark, stateDir)
    assert(listNames(stateDir, "v") == Seq("v2"), listNames(stateDir, "v").mkString(","))
    assert(listNames(stateDir, "_commit_") == Seq("_commit_2"))
    assert(LiveKV.readStateTable(spark, stateDir)
      .as[(String, String)].collect().toMap == before)

    // resume the SAME checkpoint: next batch id (3) is ahead of the
    // single surviving commit (2), so the incarnation guard passes and
    // new writes land as usual
    val s2 = MemoryStream[Op]
    blocks.foreach(s2.addData(_)) // same block alignment as before
    s2.addData(Vector(Op(4, 1, 4, "append", "b", "Y")))
    val q2 = LiveKV.stateTableSink(s2.toDS(), stateDir, ckpt).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(LiveKV.readStateTable(spark, stateDir).as[(String, String)].collect().toMap ==
      Map("a" -> "1X", "b" -> "2Y", "c" -> "3"))
  }

  test("streaming state survives checkpointed restart (S8 snapshot/restore)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_ckpt").toString

    def run(stream: MemoryStream[Op]): Unit = {
      val q = LiveKV.liveState(stream.toDS())
        .writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[LiveKV.KVUpdate], _: Long) =>
          batch.collect().foreach(u => SinkSpec.states.put(u.key, u))
        }
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
    }

    val s1 = MemoryStream[Op]
    s1.addData(Op(0, 1, 0, "put", "k", "X"), Op(1, 1, 1, "append", "k", "Y"))
    run(s1)
    assert(SinkSpec.states.get("k").map(_.value).contains("XY"))

    // new stream + same checkpoint: state (XY) must be restored, and
    // the retried (client 1, req 1) must still be deduped
    val s2 = MemoryStream[Op]
    s2.addData(Op(0, 1, 0, "put", "k", "X"), Op(1, 1, 1, "append", "k", "Y")) // replayed batch 0
    s2.addData(Op(2, 1, 1, "append", "k", "Y"), Op(3, 1, 2, "append", "k", "Z"),
      Op(4, 1, 3, "append", "k", "!"))
    run(s2)
    assert(SinkSpec.states.get("k").map(_.value).contains("XYZ!"))
  }
}

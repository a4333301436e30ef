package perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.kv.{ClerkGroup, Op}
import graft.streaming.LiveKV

/** kv_live: a few Clerks on one ClerkGroup write and read a skewed key
  * set in seeded rounds. Each round hands its W writes (puts and
  * appends, with duplicate sends and late retries) to a live query,
  * `dropDuplicates("clientId", "reqId")` upstream of
  * `LiveKV.stateTableSink`, as one micro-batch, waits for the commit,
  * then issues R `Clerk.get` reads. An op is one client request; a
  * write completes when its micro-batch commits. */
object KvLive {
  import Main._

  val Clerks = 3
  val Keys = 24
  val W = 8 // writes per round, one micro-batch
  val R = 3 // reads per round
  val PutShare = 0.3 // else append
  val DupShare = 0.15 // writes sent twice back to back
  val LateRetryShare = 0.5 // rounds that end with one late resend
  val WarmRounds = 2 // untimed rounds before the timed ones, same store

  /** Zipf(1.1) over the key set: key 0 gets ~26% of requests. */
  private val cumWeights = {
    val w = (1 to Keys).map(i => 1.0 / math.pow(i, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private def key(rnd: Random): String = {
    val u = rnd.nextDouble()
    f"k${cumWeights.indexWhere(_ >= u) max 0}%02d"
  }

  /** The log folded independently of the program: the first copy of each
    * (clientId, reqId) wins, put overwrites, append concatenates. */
  def fold(log: Seq[Op]): Map[String, String] = {
    val seen = mutable.Set.empty[(Long, Long)]
    val st = mutable.Map.empty[String, String]
    log.sortBy(_.seq).foreach { op =>
      if (seen.add((op.clientId, op.reqId))) op.kind match {
        case "put" => st(op.key) = op.value
        case "append" => st(op.key) = st.getOrElse(op.key, "") + op.value
        case _ => ()
      }
    }
    st.toMap
  }

  /** One live store: clerks, their group log, the stream and its sink. */
  final class Live(spark: SparkSession, dir: String) {
    import spark.implicits._
    val group = new ClerkGroup(spark)
    val clerks = (1 to Clerks).map(i => group.clerk(i.toLong))
    val stateDir = s"$dir/state"
    private val stream = MemoryStream[Op](implicitly[org.apache.spark.sql.Encoder[Op]], spark.sqlContext)
    val query: StreamingQuery = LiveKV.stateTableSink(
      stream.toDS().dropDuplicates("clientId", "reqId"), stateDir, s"$dir/checkpoint").start()
    private var handed = 0

    /** W client writes, then their micro-batch committed. Returns the
      * batch's commit latency in ms. */
    def writeRound(round: Int, rnd: Random): Double = {
      (0 until W).foreach { i =>
        val c = clerks(rnd.nextInt(Clerks))
        val k = key(rnd)
        val v = s"$round.$i;"
        val copies = if (rnd.nextDouble() < DupShare) 2 else 1
        if (rnd.nextDouble() < PutShare) c.put(k, v, copies) else c.append(k, v, copies)
      }
      if (rnd.nextDouble() < LateRetryShare) clerks(rnd.nextInt(Clerks)).resendRandom(rnd)
      val log = group.log
      val batch = log.drop(handed)
      handed = log.size
      val t = System.nanoTime()
      stream.addData(batch)
      query.processAllAvailable()
      (System.nanoTime() - t) / 1e6
    }

    def stop(): Unit = query.stop()
  }

  def run(spark: SparkSession, conf: Conf, rounds: Int, trace: Option[Trace], res: Result): Unit = {
    import spark.implicits._
    val live = new Live(spark, s"${conf.work}/kv")
    val rnd = new Random(conf.seed)
    // warm-up: the first rounds of the same store, untimed. The stream's
    // cold start, JIT and codegen are paid here; the reads are checked
    (0 until WarmRounds).foreach { r =>
      res.note("warm", "commit", live.writeRound(r, rnd))
      (0 until R).foreach { _ =>
        val k = key(rnd)
        val expected = fold(live.group.log).getOrElse(k, "")
        val t = System.nanoTime()
        val got = live.clerks(rnd.nextInt(Clerks)).get(k)
        res.note("warm", "get", (System.nanoTime() - t) / 1e6)
        if (got != expected) res.errors += s"warm get($k): '$got' != '$expected'"
      }
    }
    trace.foreach(_.reset())

    val reads, commits, readCpu, writeCpu = mutable.ArrayBuffer.empty[Double]
    val logAtRead = mutable.ArrayBuffer.empty[Double]
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    res.setupS = uptimeMs / 1000
    val t0 = System.nanoTime()
    val m0 = trace.map(_.mark())
    for (round <- WarmRounds until WarmRounds + rounds) {
      res.attempted += W
      try {
        val c0 = processCpuNs
        val ms = live.writeRound(round, rnd)
        writeCpu += (processCpuNs - c0) / 1e6 / W
        commits += ms
        res.note("op", "commit", ms, writeCpu.last * W)
        trace.foreach { t =>
          val v = new org.apache.hadoop.fs.Path(s"${live.stateDir}/v${live.query.lastProgress.batchId}")
          if (fs.exists(v)) {
            val files = fs.listFiles(v, true)
            var n = 0
            while (files.hasNext) if (files.next().getPath.getName.endsWith(".parquet")) n += 1
            t.record("shards_per_batch", fs.listStatus(v).count(_.getPath.getName.startsWith("shard=")).toDouble)
            t.record("files_per_batch", n.toDouble)
          }
        }
      } catch {
        case NonFatal(e) => res.failed += W; res.errors += s"write round $round: ${e.getMessage}"
      }
      (0 until R).foreach { _ =>
        res.attempted += 1
        val c = live.clerks(rnd.nextInt(Clerks))
        val k = key(rnd)
        val expected = fold(live.group.log).getOrElse(k, "")
        logAtRead += live.group.log.size
        val m = trace.map(_.mark())
        try {
          val c0 = processCpuNs
          val t = System.nanoTime()
          val got = c.get(k)
          val ms = (System.nanoTime() - t) / 1e6
          readCpu += (processCpuNs - c0) / 1e6
          reads += ms
          res.note("op", "get", ms, readCpu.last)
          if (got != expected) res.errors += s"get($k) at log ${live.group.log.size}: '$got' != '$expected'"
          trace.foreach { tr =>
            val (d, _) = tr.since(m.get)
            tr.record("read_jobs", d.jobs.toDouble)
            tr.record("read_plan_ms", d.planMs)
          }
        } catch {
          case NonFatal(e) => res.failed += 1; res.errors += s"get($k): ${e.getMessage}"
        }
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val done = res.attempted - res.failed
    val progress = live.query.recentProgress.toSeq
    live.stop()
    res.metrics ++= Seq(
      "op_p50_gmean_ms" -> p50Gmean(Seq(commits.toSeq, reads.toSeq)),
      "ops_per_s" -> done / wallS,
      "cpu_ms_per_op" -> p50Gmean(Seq(writeCpu.toSeq, readCpu.toSeq)))

    val finalState = fold(live.group.log)
    trace.foreach { t =>
      val (d, jobWall) = t.since(m0.get)
      t.record("plan_ms", d.planMs / math.max(1, done))
      t.jobLayers(d, jobWall, wallS * 1000, ops = done)
      t.record("read_p50_ms", median(reads.toSeq))
      t.record("commit_p50_ms", median(commits.toSeq))
      t.record("log_ops", mean(logAtRead.toSeq))
      progress.foreach { p =>
        val dm = p.durationMs
        def dur(k: String) = Option(dm.get(k)).map(_.doubleValue).getOrElse(0.0)
        t.record("batch_add_ms", dur("addBatch"))
        t.record("batch_plan_ms", dur("queryPlanning"))
        t.record("wal_commit_ms", dur("walCommit"))
        t.record("commit_offsets_ms", dur("commitOffsets"))
        t.record("latest_offset_ms", dur("latestOffset"))
        t.record("get_batch_ms", dur("getBatch"))
        p.stateOperators.headOption.foreach { s =>
          t.record("state_rows", s.numRowsTotal.toDouble)
          t.record("state_mem_mb", s.memoryUsedBytes / Trace.MiB)
          t.record("state_commit_ms", s.commitTimeMs.toDouble)
        }
      }
      val userBytes = finalState.map { case (k, v) => k.length + v.length }.sum.toDouble
      val onDisk = fs.getContentSummary(new org.apache.hadoop.fs.Path(live.stateDir)).getLength
      t.record("state_table_mb_per_user_mb", onDisk / math.max(1.0, userBytes))
      res.metrics ++= t.layers :+ ("retained_heap_mb" -> retainedHeapMb())
    }

    // the committed state table against the independent fold of the log
    val table = LiveKV.readStateTable(spark, live.stateDir).as[(String, String)].collect().toMap
    if (table != finalState) {
      val diff = (table.keySet ++ finalState.keySet).filter(k => table.get(k) != finalState.get(k))
      res.errors += s"state table differs from the log fold on keys ${diff.toSeq.sorted.mkString(",")}"
    }
  }
}

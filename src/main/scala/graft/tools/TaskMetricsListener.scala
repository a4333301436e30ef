package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Machine-independent per-query metrics for the bench harness
  * (round 13): wall-clock medians drift ±10-30% with machine-window
  * speed — two rounds were spent proving drifts environmental after
  * the fact (MINHASH_AB_r12, the r12 165.7-vs-211.4 s split). Shuffle
  * BYTES, spill bytes and task counts are invariant across windows: a
  * regression in bytes is always real; a flat byte profile under a
  * slow wall-clock is always the machine. This listener accumulates
  * them per SparkContext; the harness takes [[snapshot]] deltas around
  * each timed action (after a [[org.apache.spark.graftbus.BusFlush]]
  * drain, so async task-end events can't leak across queries).
  *
  * Counters are totals over ALL tasks of the context — the harness
  * runs queries strictly sequentially, so a delta is attributable to
  * the one query inside it. */
final class TaskMetricsListener extends SparkListener {
  private val tasks = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  private val input = new AtomicLong
  private val records = new AtomicLong
  private val jobs = new AtomicLong

  override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      tasks.incrementAndGet()
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
      // shuffle RECORDS (read + write, mirroring the byte pair): the
      // row-count companion to shuffle bytes (round 14). Shuffle BYTES
      // are records × bytes-per-record, and bytes-per-record is NOT
      // scale-invariant — lz4 compresses a narrow key domain (the 1×
      // rung) far below the raw UnsafeRow size and decays toward it
      // as replicated id domains decorrelate, which reads as a
      // super-linear byte exponent on a perfectly linear operator.
      // Records separate the two: α_records says how the WORK scales,
      // bytes/record says how the encoding scales (bounded above by
      // the raw row width, so its growth can never compound).
      records.addAndGet(
        m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten)
    }
  }

  def snapshot(sc: SparkContext): TaskMetricsListener.Snap = {
    org.apache.spark.graftbus.BusFlush.flush(sc)
    TaskMetricsListener.Snap(
      tasks.get(), shuffleRead.get(), shuffleWrite.get(), spill.get(), input.get(),
      records.get(), jobs.get())
  }
}

object TaskMetricsListener {
  /** Cumulative counter snapshot; `-` yields the per-window delta. */
  final case class Snap(tasks: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, input: Long, records: Long = 0L, jobs: Long = 0L) {
    def -(o: Snap): Snap = Snap(tasks - o.tasks, shuffleRead - o.shuffleRead,
      shuffleWrite - o.shuffleWrite, spill - o.spill, input - o.input,
      records - o.records, jobs - o.jobs)
    /** Compact JSON object: shuffle read/write bytes + records, spill,
      * task and job counts, scan input bytes. */
    def json: String =
      s"""{"shuffle_read":$shuffleRead,"shuffle_write":$shuffleWrite,""" +
        s""""shuffle_records":$records,"spill":$spill,"tasks":$tasks,"jobs":$jobs,"input":$input}"""
  }

  def install(sc: SparkContext): TaskMetricsListener = {
    val l = new TaskMetricsListener
    sc.addSparkListener(l)
    l
  }

  /** The bench's measured ACTION (round 14): execute the query's OWN
    * physical plan and consume every row, distributed (no driver
    * collect). `df.count()` is NOT that — Catalyst plans the count
    * from scratch and prunes everything the count doesn't need:
    * EliminateSorts drops the declared ORDER BY's range exchange, and
    * column pruning can remove whole operators (ev_sessions' count
    * collapsed to a two-phase DISTINCT user_id — the lag window never
    * ran, and three rounds of its bench history measured the wrong
    * plan: the r13 "super-linear byte curve" was the pruned distinct's
    * map-side-combine decay, not sessionization). toRdd materializes
    * the DataFrame's declared plan exactly as Verify/collect would,
    * and RDD.count consumes each partition's iterator in place. */
  def materialize(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Fixed spark-free CPU canary: a pinned xorshift64* integer loop
    * whose work is identical every call, timed in seconds. Indexes the
    * machine window's speed so cross-round wall-clock comparisons can
    * be normalized (a slow canary says "the machine", a flat canary
    * with a slow query says "the code"). Single-threaded on purpose —
    * it measures the window's per-core speed, the thing that scales
    * every query's wall-clock. The folded result is returned (and
    * compared to a pinned constant) so the loop cannot be dead-code
    * eliminated. */
  def cpuCanarySec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 200000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545F4914F6CDD1DL
      i += 1
    }
    require(acc == CanaryFold, s"canary fold drifted: $acc") // pins the workload
    (System.nanoTime() - t0) / 1e9
  }

  /** The xorshift64* fold after exactly 2e8 steps from the fixed seed,
    * pinned as a literal — a fold mismatch means the canary workload
    * changed and its seconds are no longer comparable across rounds. */
  val CanaryFold: Long = -5856912143150932511L
}

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer instrumentation, installed only in traced runs. It reads
  * Spark's own APIs from outside the program: a [[SparkListener]] for
  * jobs, stages and task metrics, a [[QueryExecutionListener]] plus each
  * op's `queryExecution.tracker` for Catalyst phase times, and the
  * block manager's storage info for persisted RDDs. */
final class Trace private (spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private var c = Counters()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val perOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) c = c.copy(
      tasks = c.tasks + 1,
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRecords = c.shuffleRecords + m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      input = c.input + m.inputMetrics.bytesRead,
      gcMs = c.gcMs + m.jvmGCTime)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    c = c.copy(planMs = c.planMs + planMs(qe))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters after every queued listener event is delivered. */
  def mark(): Mark = {
    org.apache.spark.perfbench.Bus.flush(spark.sparkContext)
    synchronized(Mark(c, System.currentTimeMillis()))
  }

  /** Counter deltas since `m`, with the union of the job intervals that
    * started inside the window. */
  def since(m: Mark): (Counters, Double) = {
    val now = mark()
    val spans = synchronized(jobSpans.filter(_._1 >= m.atMs).sortBy(_._1).toList)
    var covered = 0L
    var end = Long.MinValue
    spans.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (now.c - m.c, covered.toDouble)
  }

  def record(name: String, v: Double): Unit =
    perOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Record one batch op: the query function's eager time, the op
    * DataFrame's own Catalyst phases plus those of any action the
    * function ran, the Spark work and the cache footprint after it. */
  def op(m: Mark, df: DataFrame, fnMs: Double, wallMs: Double): Unit = {
    val (d, jobWall) = since(m)
    record("fn_ms", fnMs)
    record("plan_ms", planMs(df.queryExecution) + d.planMs)
    jobLayers(d, jobWall, wallMs)
    val sc = spark.sparkContext
    record("persisted_rdds", sc.getPersistentRDDs.size.toDouble)
    record("persisted_mb", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MiB)
  }

  /** The job-level layers of a window of `wallMs` covering `d`, per op
    * of the `ops` the window holds. */
  def jobLayers(d: Counters, jobWall: Double, wallMs: Double, ops: Int = 1): Unit = {
    val n = math.max(1, ops).toDouble
    Seq(
      "jobs_per_op" -> d.jobs.toDouble,
      "stages_per_op" -> d.stages.toDouble,
      "tasks_per_op" -> d.tasks.toDouble,
      "job_wall_ms" -> jobWall,
      "driver_gap_ms" -> math.max(0.0, wallMs - jobWall),
      "executor_run_ms" -> d.runMs.toDouble,
      "executor_cpu_ms" -> d.cpuNs / 1e6,
      "shuffle_read_mb" -> d.shuffleRead / MiB,
      "shuffle_write_mb" -> d.shuffleWrite / MiB,
      "shuffle_records" -> d.shuffleRecords.toDouble,
      "spill_mb" -> d.spill / MiB,
      "input_mb" -> d.input / MiB,
      "jvm_gc_ms" -> d.gcMs.toDouble,
    ).foreach { case (k, v) => record(k, v / n) }
  }

  /** Drop everything recorded so far (the warm-up). */
  def reset(): Unit = { mark(); synchronized(perOp.clear()) }

  /** Mean per op of every recorded layer. */
  def layers: Seq[(String, Double)] =
    perOp.toSeq.map { case (n, b) => n -> Main.mean(b.toSeq) }
}

object Trace {
  val MiB = 1048576.0

  final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, runMs: Long = 0,
      cpuNs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0, shuffleRecords: Long = 0,
      spill: Long = 0, input: Long = 0, gcMs: Long = 0, planMs: Double = 0) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      runMs - o.runMs, cpuNs - o.cpuNs, shuffleRead - o.shuffleRead,
      shuffleWrite - o.shuffleWrite, shuffleRecords - o.shuffleRecords, spill - o.spill,
      input - o.input, gcMs - o.gcMs, planMs - o.planMs)
  }

  final case class Mark(c: Counters, atMs: Long)

  /** Catalyst analysis + optimization + planning time of one query. */
  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum

  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}

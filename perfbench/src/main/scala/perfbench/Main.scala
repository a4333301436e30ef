package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload, in one JVM.
  *
  * Usage (classpath = harness classes + Spark jars):
  * {{{
  *   java perfbench.Main --workload olap|kv_live --data <dir>
  *     --work <dir> --seed <n> --seconds <n> --trace 0|1 --out <result.json>
  * }}}
  *
  * `--data` holds the input tables. `--work` is this run's fresh scratch root. The run
  * writes one JSON object to `--out`: the end-to-end metrics, the
  * per-layer metrics when traced, the ops attempted and failed, the
  * canonical row hash of every timed query (checked against DuckDB by
  * run.py) and the kv_live consistency errors, if any.
  *
  * The amount of work is fixed by the workload, the seed and `--seconds`
  * (rounds = seconds / nominal round length), never by the clock, so two
  * runs with the same arguments do the same operations.
  */
object Main {

  /** olap: one short declared batch query per plane family, each
    * oracle-checked: TPC-H aggregate and join, events window, MapReduce
    * app, KV log replay, shard routing, and `dedup_components`, which
    * reads the near-duplicate index that the warm-up pass builds and the
    * build-once cache serves after. */
  val OlapQueries: Seq[String] = Seq(
    "q1_agg", "q3_join", "ev_sessions", "wc_wordcount", "kv_get", "shard_routed",
    "dedup_components")

  /** Nominal seconds per round, used only to turn `--seconds` into a
    * fixed round count. */
  private val RoundSeconds = Map("olap" -> 7.0, "kv_live" -> 3.0)

  final case class Conf(workload: String, data: String, work: String,
      seed: Long, seconds: Int, trace: Boolean, out: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(a("workload"), a("data"), a("work"), a("seed").toLong,
      a("seconds").toInt, a("trace") == "1", a("out"))
    require(RoundSeconds.contains(conf.workload), s"unknown workload ${conf.workload}")
    val rounds = math.max(1, math.round(conf.seconds / RoundSeconds(conf.workload)).toInt)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Tables.session("perfbench", cores)
    val result = new Result
    result.note("session", "", uptimeMs)
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (conf.trace) Some(Trace.install(spark)) else None
    try {
      conf.workload match {
        case "kv_live" => KvLive.run(spark, conf, rounds, trace, result)
        case "olap" => Batch.run(spark, conf, OlapQueries, rounds, trace, result)
      }
    } catch {
      case NonFatal(e) =>
        result.errors += s"run aborted: ${e.getClass.getName}: ${e.getMessage}"
    }
    Files.writeString(Paths.get(conf.out), result.json)
    spark.stop()
  }

  /** Milliseconds since this JVM started. */
  def uptimeMs: Double = ManagementFactory.getRuntimeMXBean.getUptime.toDouble

  /** CPU time of every thread of this process, nanoseconds. */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after a full collection, MiB: the least of three, as
    * one collection can leave just-released objects behind. */
  def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The typical op cost of a run: each op kind's median (wall or CPU
    * time), combined by geometric mean, so every kind weighs the same.
    * The plain median of a mix of kinds jumps between kinds from run to
    * run, and a total over the timed phase carries every JIT, GC and
    * background burst; the per-kind median carries neither. */
  def p50Gmean(byKind: Iterable[Seq[Double]]): Double = {
    val meds = byKind.filter(_.nonEmpty).map(median).toSeq
    if (meds.isEmpty) 0.0 else math.exp(meds.map(math.log).sum / meds.size)
  }

}

/** What one run hands back to run.py. */
final class Result {
  var setupS = 0.0
  var attempted = 0
  var failed = 0
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Row hashes by pass ("warm", "after") and query. */
  val hashes = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, (Long, String)]]
  val oracleSql = mutable.LinkedHashMap.empty[String, String]
  /** (phase, op, wall ms, process CPU ms) of every op, warm-up
    * included, for diagnosis. */
  val log = mutable.ArrayBuffer.empty[(String, String, Double, Double)]

  def note(phase: String, op: String, ms: Double, cpuMs: Double = Double.NaN): Unit = {
    log += ((phase, op, ms, cpuMs))
    System.err.println(f"[perfbench] $phase%-8s $op%-24s $ms%10.1f ms $cpuMs%10.1f cpu ms")
  }
  val errors = mutable.ArrayBuffer.empty[String]

  def json: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val m = metrics.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val h = hashes.map { case (pass, byName) =>
      q(pass) + ": " + byName.map { case (k, (n, x)) => s"${q(k)}: [$n, ${q(x)}]" }.mkString("{", ", ", "}")
    }.mkString("{", ", ", "}")
    s"""{"setup_s": ${num(setupS)}, "attempted": $attempted, "failed": $failed,
       | "metrics": $m, "hashes": $h,
       | "log": ${log.map { case (p, n, ms, c) => s"[${q(p)}, ${q(n)}, ${num(ms)}, ${num(c)}]" }.mkString("[", ", ", "]")},
       | "oracle_sql": ${oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")},
       | "errors": ${errors.map(q).mkString("[", ", ", "]")}}""".stripMargin
  }
}

/** Canonical content hash of a result: columns sorted by name, every
  * cell rendered by the same rules oracle.py applies to DuckDB's rows,
  * rows sorted, md5 over the lines. */
object Canon {
  def cell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case s: String => s
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case d: java.math.BigDecimal => big(d)
    case d: scala.math.BigDecimal => big(d.underlying())
    case f: Float => double(f.toDouble)
    case d: Double => double(d)
    case n: java.lang.Number => n.toString
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => instant(t.toInstant)
    case i: java.time.Instant => instant(i)
    case t: java.time.LocalDateTime => instant(t.toInstant(java.time.ZoneOffset.UTC))
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => (0 until r.length).map(i => cell(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }

  private def big(d: java.math.BigDecimal): String = {
    val s = d.stripTrailingZeros()
    if (s.signum() == 0) "0" else s.toPlainString
  }

  /** Nine decimals, half-even; 15 significant digits from 1e15 up. */
  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) { if (d > 0) "Infinity" else "-Infinity" }
    else if (d == 0.0) "0"
    else if (math.abs(d) >= 1e15)
      big(new java.math.BigDecimal(d).round(new java.math.MathContext(15, java.math.RoundingMode.HALF_EVEN)))
    else big(new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN))

  private def instant(i: java.time.Instant): String = {
    val t = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    f"${t.toLocalDate}%s ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${t.getNano / 1000}%06d"
  }

  def hash(df: DataFrame): (Long, String) = {
    val cols = df.columns.toSeq
    val order = cols.indices.sortBy(cols(_))
    val rows = df.collect().map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val text = (order.map(cols(_)).mkString("\u0001") +: rows).mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
    (rows.length.toLong, md5.map(b => f"${b & 0xff}%02x").mkString)
  }
}

/** olap: declared batch queries in seeded rounds. An op is
  * the query-function call plus full materialization of its plan. */
object Batch {
  import Main._

  def run(spark: SparkSession, conf: Conf, names: Seq[String], rounds: Int,
      trace: Option[Trace], res: Result): Unit = {
    val fns = graft.SparkEntry.queries
    val rnd = new Random(conf.seed)
    names.foreach { n =>
      graft.SparkEntry.oracleSql.get(n) match {
        case Some(sql) => res.oracleSql(n) = sql
        case None => res.errors += s"$n has no oracle SQL"
      }
    }
    // warm-up, which is also the first correctness pass: each query's
    // rows are collected and hashed for run.py to check against DuckDB.
    // JIT, codegen, parquet footers and the build-once caches (the
    // near-duplicate index) are per-process costs paid here, in set-up
    hashAll(spark, conf.data, names, "warm", res)
    // one untimed round of the timed op: after a single call per query
    // the JIT is still compiling, and a first timed round took about
    // twice the CPU time of the next
    names.foreach { n =>
      val s = System.nanoTime()
      fns(n)(spark, conf.data).queryExecution.toRdd.count()
      res.note("warm", n, (System.nanoTime() - s) / 1e6)
    }
    trace.foreach(_.reset())

    val walls, cpus = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    res.setupS = uptimeMs / 1000
    val t0 = System.nanoTime()
    for (_ <- 0 until rounds; n <- rnd.shuffle(names)) {
      res.attempted += 1
      val mark = trace.map(_.mark())
      val c = processCpuNs
      val s = System.nanoTime()
      try {
        val df = fns(n)(spark, conf.data)
        val f = System.nanoTime()
        df.queryExecution.toRdd.count()
        val e = System.nanoTime()
        walls.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (e - s) / 1e6
        cpus.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (processCpuNs - c) / 1e6
        res.note("op", n, (e - s) / 1e6, cpus(n).last)
        trace.foreach(_.op(mark.get, df, fnMs = (f - s) / 1e6, wallMs = (e - s) / 1e6))
      } catch {
        case NonFatal(e) =>
          res.failed += 1
          res.errors += s"$n: ${e.getClass.getName}: ${e.getMessage}"
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    res.metrics ++= Seq(
      "op_p50_gmean_ms" -> p50Gmean(walls.values.map(_.toSeq)),
      "ops_per_s" -> (res.attempted - res.failed) / wallS,
      "cpu_ms_per_op" -> p50Gmean(cpus.values.map(_.toSeq)))
    trace.foreach(t => res.metrics ++= t.layers :+ ("retained_heap_mb" -> retainedHeapMb()))
    // second correctness pass, outside the timed phase: the rows the
    // queries give from the state the timed pass left (warm caches)
    hashAll(spark, conf.data, names, "after", res)
  }

  private def hashAll(spark: SparkSession, data: String, names: Seq[String], pass: String,
      res: Result): Unit = {
    val out = res.hashes.getOrElseUpdate(pass, mutable.LinkedHashMap.empty)
    names.foreach { n =>
      val s = System.nanoTime()
      try out(n) = Canon.hash(graft.SparkEntry.queries(n)(spark, data))
      catch { case NonFatal(e) => res.errors += s"check $n: ${e.getClass.getName}: ${e.getMessage}" }
      res.note(pass, n, (System.nanoTime() - s) / 1e6)
    }
  }
}

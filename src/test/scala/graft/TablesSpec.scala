package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The two per-process costs the session and table layer pays once:
  * a table's parquet schema (inferred once per file content) and the
  * whole-stage codegen classes of the queries a process repeats (held
  * by the session's codegen cache). */
class TablesSpec extends SparkSpec {

  private val jobs = new AtomicInteger()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Spark jobs started while `body` runs, every queued event delivered. */
  private def jobsIn[T](body: => T): (T, Int) = {
    listener
    val sc = spark.sparkContext
    org.apache.spark.graftbus.BusFlush.flush(sc)
    val j0 = jobs.get()
    val out = body
    org.apache.spark.graftbus.BusFlush.flush(sc)
    (out, jobs.get() - j0)
  }

  /** One parquet file's bytes for `df`, written through a staging dir. */
  private def parquetBytes(df: org.apache.spark.sql.DataFrame, staging: Path): Array[Byte] = {
    val dir = staging.resolve(s"w${System.nanoTime()}")
    df.coalesce(1).write.parquet(dir.toString)
    val part = Files.list(dir)
    try Files.readAllBytes(part.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get)
    finally part.close()
  }

  test("a second load of a table infers nothing: 0 Spark jobs, the same schema") {
    val tmp = Files.createTempDirectory("graft-tables")
    try {
      Files.write(tmp.resolve("t.parquet"),
        parquetBytes(spark.range(100).select(col("id"), (col("id") * 2).as("v")), tmp))
      val (first, firstJobs) = jobsIn(Tables.load(spark, tmp.toString, "t"))
      val (second, secondJobs) = jobsIn(Tables.load(spark, tmp.toString, "t"))
      assert(firstJobs >= 1, "the first load did not infer the schema with a job")
      assert(secondJobs == 0, s"the second load ran $secondJobs Spark jobs")
      assert(second.schema == first.schema)
      assert(second.agg(sum("v")).head().getLong(0) == 9900L)
    } finally graft.core.Fs.rmTreeNoFollow(tmp)
  }

  test("loaded schemas equal inference for every test table") {
    Tables.all.foreach { t =>
      assert(Tables.load(spark, sf0001, t).schema ==
        spark.read.parquet(s"$sf0001/$t.parquet").schema, t)
    }
  }

  test("every load is a fresh relation: a self-join stays unambiguous") {
    val a = Tables.load(spark, sf0001, "nation")
    val b = Tables.load(spark, sf0001, "nation")
    val ids = (a.queryExecution.analyzed.output ++ b.queryExecution.analyzed.output)
      .map(_.exprId)
    assert(ids.distinct.size == ids.size, "two loads share expression ids")
    val n = a.count()
    assert(a.join(b, a("n_nationkey") === b("n_nationkey")).count() == n)
  }

  test("a table rewritten in place shows its new column, inside and after the mtime window") {
    val tmp = Files.createTempDirectory("graft-tables")
    try {
      val file = tmp.resolve("t.parquet")
      val base = spark.range(10).select(col("id"))
      Files.write(file, parquetBytes(base, tmp))
      assert(Tables.load(spark, tmp.toString, "t").columns.toSeq == Seq("id"))
      // rewritten at once: inside the 2 s window in which LayoutStore
      // distrusts a fresh mtime and re-samples the file
      Files.write(file, parquetBytes(base.withColumn("a", col("id") + 1), tmp))
      val v2 = Tables.load(spark, tmp.toString, "t")
      assert(v2.columns.toSeq == Seq("id", "a"))
      assert(v2.agg(sum("a")).head().getLong(0) == 55L)
      // at rest past the window, the content tag is memoized; a later
      // in-place rewrite must still be seen
      Thread.sleep(2500)
      assert(Tables.load(spark, tmp.toString, "t").columns.toSeq == Seq("id", "a"))
      Files.write(file, parquetBytes(base.withColumn("a", col("id") + 1)
        .withColumn("b", lit("x")), tmp))
      val v3 = Tables.load(spark, tmp.toString, "t")
      assert(v3.columns.toSeq == Seq("id", "a", "b"))
      assert(v3.filter(col("b") === "x").count() == 10L)
    } finally graft.core.Fs.rmTreeNoFollow(tmp)
  }

  test("shard_routed's eager last-seq lookup runs once per events content") {
    val q = SparkEntry.queries("shard_routed")
    q(spark, sf0001)
    val (_, again) = jobsIn(q(spark, sf0001))
    assert(again == 0, s"a repeated shard_routed call ran $again eager Spark jobs")
  }

  test("the codegen cache holds the olap working set: a second pass compiles nothing") {
    val olap = Seq("q1_agg", "q3_join", "ev_sessions", "wc_wordcount", "kv_get",
      "shard_routed", "dedup_components")
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      olap.foreach(n => SparkEntry.queries(n)(spark, SparkSpec.SF001).queryExecution.toRdd.count())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = pass()
    val second = pass()
    assert(second == 0L, s"second pass compiled $second classes (first: $first)")
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every query receives `sfDir` (e.g. /root/testdata/sf0.01) and reads
  * parquet lazily so Catalyst can push filters/pruning into the scan.
  * At 100 TB these would be partitioned/bucketed external tables; the
  * loader is the single seam where that changes.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Legacy lakes may carry events.ts as TIMESTAMP(NANOS), which Spark 4
    // rejects by default; nanosAsLong reads it as a long (ns since epoch)
    // that eventTime()/eventMicros() convert. Harmless no-op for the
    // current testdata (timestamp[us] -> TIMESTAMP_NTZ). Guarded so a
    // driver-owned session isn't mutated on every table load.
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    // a missing table keeps Spark's own PATH_NOT_FOUND error
    if (!Files.exists(Paths.get(path))) spark.read.parquet(path)
    else spark.read.schema(schemaOf(spark, sfDir, name)).parquet(path)
  }

  /** Session confs that change the StructType parquet inference yields. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** A table's inferred schema, inferred once per file content.
    * Inference runs a one-task Spark job to read the footer; a read
    * with the schema given lists the files and runs no job. Only the
    * StructType is cached, never the DataFrame: every load still builds
    * a fresh relation with fresh expression ids, so self-joins (q21's
    * two lineitem sides) stay unambiguous. */
  private def schemaOf(spark: SparkSession, sfDir: String, name: String): StructType = {
    val confs = SchemaConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")
    BuildCache("schema", BuildCache.files(spark, sfDir, s"$name.parquet"), confs)(
      spark.read.parquet(s"$sfDir/$name.parquet").schema)
  }

  /** Legacy form: events.ts as ns-since-epoch long (TIMESTAMP(NANOS)
    * under nanosAsLong) -> TimestampType at microsecond precision,
    * truncating like DuckDB's CAST(ts AS TIMESTAMP).
    *
    * ns/1000 must be EXACT integer division: `floor(ts / 1000)` runs in
    * doubles and ns-since-epoch (~1.7e18) exceeds 2^53, so values
    * within ~128 ns of a microsecond boundary would mis-truncate
    * relative to DuckDB. Decimal division keeps it exact; decimal->long
    * cast truncates toward zero (positive epochs => floor).
    */
  def eventTime(tsNanos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.timestamp_micros(
      (tsNanos.cast("decimal(25,0)") / 1000).cast("long"))

  /** Schema-adaptive event time: a 100 TB lake mixes timestamp
    * encodings, so the time plane branches on the LOADED dtype rather
    * than assuming one. `ts` as LongType (legacy nanosAsLong) goes
    * through the exact ns->us truncation above; native TimestampType /
    * TIMESTAMP_NTZ (current testdata: parquet timestamp[us]) is used
    * directly — the NTZ->TZ cast is wall-clock identity under the
    * UTC session timezone every entrypoint pins.
    */
  def eventTime(df: DataFrame, tsCol: String = "ts"): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(tsCol).dataType match {
      case LongType         => eventTime(df(tsCol))
      case TimestampNTZType => df(tsCol).cast("timestamp")
      case _                => df(tsCol)
    }
  }

  /** Schema-adaptive us-since-epoch long for gap/interval arithmetic
    * (sessionization): integer math, exact under either encoding.
    */
  def eventMicros(df: DataFrame, tsCol: String = "ts"): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.LongType
    df.schema(tsCol).dataType match {
      case LongType => (df(tsCol).cast("decimal(25,0)") / 1000).cast("long")
      case _        => org.apache.spark.sql.functions.unix_micros(df(tsCol).cast("timestamp"))
    }
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Register every testdata table as a temp view so `spark.sql(...)`
    * works as a front door next to the DataFrame API — the full ANSI
    * SQL surface (plus graft's native functions when the session was
    * built with [[GraftExtensions]]) over the same loaders, schema
    * adaptation included. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => load(spark, sfDir, t).createOrReplaceTempView(t))

  /** Whole-stage codegen cache size: `spark.sql.codegen.cache.maxEntries`.
    * Spark's default of 100 is smaller than the working set, so a
    * process that runs the same queries again and again Janino-compiles
    * (and then JITs) their classes on every round. One pass of all 199
    * declared queries (graft.Verify at sf0.01) compiles 3,239 classes
    * with an unbounded cache, 1,829 of them again on a second pass:
    * code that differs on every call, which takes a slot without ever
    * hitting. An LRU cache therefore needs one pass's distinct classes
    * to keep the reusable ones; this is twice that. */
  private val CodegenCacheEntries = 6500

  /** The one session builder: tests, perfbench and every main (Verify,
    * Bench, ScaleBench, CaptureQuery, AnnCapProbe) build here, each
    * passing its own core count. The codegen cache is JVM-wide and a
    * static conf, fixed by the first session the process builds, and it
    * is sized to the working set ([[CodegenCacheEntries]]). The session
    * carries [[GraftExtensions]]: graft's SQL functions and the
    * [[SingleTaskSort]] runtime rule.
    */
  def session(appName: String, cores: Int = 4): SparkSession = {
    val spark = SparkSession.builder()
      // local[N, 2]: allow one task retry, like a real cluster would —
      // required for the worker-failure semantics tests
      .master(s"local[$cores, 2]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // over-provisioned shuffle partitions are THE production
      // setting (round 14, SCALE_r13_shuf256): at the 100× rung a
      // 5 GB shuffle over cores-many partitions outgrows per-task
      // sort memory and spills (q21 wall 22.8 → 12.4 s at 256); at
      // small data AQE coalesces the excess post-shuffle, so the
      // only cost is map-side file handles — asymmetric in favor of
      // over-provisioning. A small final sort does not pay the
      // 256-way range exchange and its sampling job either: it sorts
      // in one task (SingleTaskSort). Streaming state stores size it
      // per query instead (StreamReplay.drain).
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "256"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // honor bucket sort order at planning (off by default since
      // Spark 3.0 because it lists files during planning): the
      // library's bucketed layouts are ONE file per bucket by
      // construction (BucketedTables.writeBucketed), so the listing
      // is bounded by bucket count and the payoff is a sort-free SMJ
      // on every co-located join — the reason the layout sortBys at
      // all.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

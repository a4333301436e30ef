package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed co-located joins — the persisted-layout scale lever.
  *
  * A 100 TB fact-to-fact join (lineitem ⋈ orders on orderkey) is
  * dominated by the two full-table shuffles that hash-partition the
  * sides onto the join key. Bucketing pays that shuffle ONCE at write
  * time: both tables are stored `bucketBy(n, key)` (+ `sortBy` so the
  * merge needs no sort either), and every later join on the key reads
  * both sides already co-partitioned — the planner drops BOTH
  * exchanges and merge-joins bucket i against bucket i, a per-bucket
  * streaming merge with no wide stage at all. At 1000 executors the
  * layout also fixes the join's parallelism to the bucket count, so
  * `n` is sized to the target cluster (here 8 for local[32] testdata;
  * production uses thousands).
  *
  * Build-serve split, PERSISTED cross-session via [[LayoutStore]]
  * (round-11; the r10 temp-warehouse form lost the layout with the
  * session): the bucketed files are written ONCE under the layout dir
  * — a real lake writes fact tables bucketed at ingest — and every
  * session (including a restarted driver) registers them with
  * `CREATE TABLE ... USING PARQUET CLUSTERED BY ... SORTED BY ...
  * INTO n BUCKETS LOCATION ...`, the external-bucketed-table DDL:
  * Spark recovers each file's bucket id from its `_0000N` filename
  * tag, so registration is metadata-only — ZERO rebuild jobs
  * (BucketingSpec pins it). [[colocatedJoin]] is the SERVE.
  * BucketingSpec holds the zero-join-side-shuffle plan pin; the
  * driver's hash gate holds the result (rel_bucket_join, oracle = the
  * plain parquet join).
  */
object BucketedTables {

  /** Bucket count: sized to the join's target parallelism. The gate
    * data fits 8 buckets comfortably; at 100 TB this is thousands and
    * is chosen ONCE at ingest for the whole table lifetime. */
  val NumBuckets = 8

  /** Write `df` as bucketed+sorted files under `path` without keeping
    * a catalog entry: saveAsTable through a throwaway EXTERNAL table
    * name (bucketed writes are only reachable via the table API), then
    * drop the name — the files and their bucket-id filename tags stay.
    *
    * ONE FILE PER BUCKET (round 13): a bucketed write emits one file
    * per (input task × bucket), and Spark's reader honors the layout's
    * sort order only when each bucket is a SINGLE file — with
    * multi-file buckets every downstream SMJ silently re-sorts both
    * fact sides at serve time (measured: 4.6 GB of sort spill per join
    * at the 100× rung, on a layout whose whole point is pre-paid
    * order). The repartition below aligns input tasks with bucket ids
    * (repartition's HashPartitioning and bucketBy use the same
    * murmur3-pmod function), so each task holds exactly one bucket →
    * one file per bucket → the serve-side sorts plan away
    * (BucketingSpec pins both the file count and the sort-free SMJ).
    * The extra shuffle is paid ONCE at ingest — the build-serve trade
    * this operator exists for. */
  private def writeBucketed(df: DataFrame, key: String, path: String): Unit = {
    val spark = df.sparkSession
    val tmp = s"graft_build_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.repartition(NumBuckets, col(key))
      .write.bucketBy(NumBuckets, key).sortBy(key)
      .option("path", path).saveAsTable(tmp)
    spark.sql(s"DROP TABLE $tmp")
  }

  /** Register the persisted bucketed files as an external table (any
    * session — this is the restart path). Metadata-only: the DDL names
    * the bucket spec; the data is never touched. */
  private def register(spark: SparkSession, name: String, key: String,
      path: java.nio.file.Path): Unit = {
    if (!spark.catalog.tableExists(name)) {
      val ddl = spark.read.parquet(path.toString).schema.toDDL
      spark.sql(
        s"""CREATE TABLE $name ($ddl) USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $NumBuckets BUCKETS
           |LOCATION '${path.toUri}'""".stripMargin)
    }
  }

  /** BUILD once / reload thereafter: lineitem and orders bucketed+
    * sorted by orderkey under the persisted layout, registered in this
    * session's catalog. Returns the two table names (fingerprint-
    * suffixed: a regenerated source publishes under a fresh name, so a
    * stale layout can never serve). */
  def orderkeyBucketed(spark: SparkSession, sfDir: String): (String, String) =
    graft.BuildCache("orderkeyBucketed",
        graft.BuildCache.files(spark, sfDir, "lineitem.parquet", "orders.parquet")) {
      // kind carries the layout FORMAT generation: v2 = one file per
      // bucket (see writeBucketed). Same SOURCE fingerprints exist
      // under the pre-r13 "bucketed" kind on hosts that built them —
      // a format change must publish under a new name or a reused
      // host would serve the old multi-file (serve-side-sorting)
      // layout forever. The dead "bucketed" dirs are swept off disk
      // by LayoutStore.RetiredKinds on the next v2 publish (r13
      // advice: "ages out of use" left a full lineitem+orders copy
      // per reused host).
      val live = LayoutStore.getOrBuild(
        LayoutStore.layoutDir("bucketedv2", sfDir,
          Seq("lineitem.parquet", "orders.parquet"))) { staging =>
        writeBucketed(graft.Tables.lineitem(spark, sfDir), "l_orderkey",
          staging.resolve("lineitem").toString)
        writeBucketed(graft.Tables.orders(spark, sfDir), "o_orderkey",
          staging.resolve("orders").toString)
      }
      val fp = live.getFileName.toString.takeWhile(_ != '.').split('-').last
      val li = s"graft_li_bucketed_$fp"
      val ord = s"graft_ord_bucketed_$fp"
      register(spark, li, "l_orderkey", live.resolve("lineitem"))
      register(spark, ord, "o_orderkey", live.resolve("orders"))
      (li, ord)
    }

  /** MERGE composed with the BUCKETED layout — [[MergeInto]]'s other
    * documented lever, gated (rel_merge_bucketed; the partitioned
    * twin is [[PartitionedTables.mergePruned]]): when the base table
    * is stored bucketed on the merge key, the full-outer merge join
    * takes the base's bucket distribution as-is and shuffles ONLY the
    * change batch into matching partitions — at 100 TB the base (the
    * dominant side by orders of magnitude) is never re-partitioned to
    * be merged into. BucketingSpec pins the one-sided exchange: zero
    * shuffles under the join's base side, exactly one under the
    * changes side. Output = the post-merge priority rollup. */
  def mergeBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, ord) = orderkeyBucketed(spark, sfDir)
    val cents = floor(col("o_totalprice") * 100).cast("long")
    val base = spark.table(ord)
      .select(col("o_orderkey"), col("o_orderpriority"), cents.as("cents"))
    val changes = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (floor(col("o_totalprice") * 100).cast("long") + 100000L).as("cents"),
        when(col("o_orderkey") % 9 === 0, "D").otherwise("U").as("op"))
    MergeInto.merge(base, changes, Seq("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("o_orderpriority")
  }

  /** SERVE: priority × status line rollup over the co-located join.
    * `hint("merge")` keeps the strategy a sort-merge join at ANY sf —
    * at gate scale orders would broadcast under the default threshold,
    * which is exactly the strategy that stops being available at
    * 100 TB; the hint makes the gated plan the production plan
    * (bucketed SMJ: no exchange, no sort, on either side). All
    * aggregates are exact integers (l_quantity is integral by schema
    * contract; the cast is checked by BucketingSpec). */
  def colocatedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (li, ord) = orderkeyBucketed(spark, sfDir)
    spark.table(li).hint("merge")
      .join(spark.table(ord), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority", "l_linestatus")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .orderBy("o_orderpriority", "l_linestatus")
  }
}

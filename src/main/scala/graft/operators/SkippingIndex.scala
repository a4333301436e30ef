package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level MIN/MAX data skipping over a range-sorted layout — the
  * zone map every 100 TB lake keeps next to its big tables (Delta /
  * Iceberg file statistics, re-expressed as a first-class operator).
  * Complements the other two scan levers: partition pruning
  * ([[PartitionedTables]]) needs a partition COLUMN and one directory
  * per value; this needs only a SORT at write time and skips on any
  * range predicate over the sort key — the right tool when the key is
  * high-cardinality (user ids, timestamps) and directories-per-value
  * would explode.
  *
  * Build — PERSISTED cross-session via [[LayoutStore]] (round-11; the
  * r10 form cached into a temp dir, so every restarted driver re-paid
  * the full-corpus rewrite): events written
  * `repartitionByRange(nFiles, user_id)` — range-disjoint files — plus
  * a MANIFEST parquet of (file, min_uid, max_uid, rows) built
  * distributedly from the `_metadata.file_path` pseudo-column with one
  * partial-aggregating groupBy. The manifest is file-count-sized
  * (dimension-sized at any corpus scale: ~1 row per 128 MB of data)
  * and stores RELATIVE file names so the layout can be renamed/moved
  * like any table-format snapshot. A second session finds the marker
  * and serves with zero rebuild jobs (BucketingSpec pins it).
  *
  * Serve: a key predicate prunes the MANIFEST first (a driver filter
  * over the file list — the same walk Delta does before handing Spark
  * a file list), and only matching files are read. [[PlanSpec]]-class
  * evidence lives in BucketingSpec (the persisted-layout spec): the
  * served scan reads 1-2 of the 16 files and equals the full-scan
  * answer.
  */
object SkippingIndex {

  /** One data file's zone-map row. `file` is relative to the layout's
    * events dir. */
  final case class Zone(file: String, minUid: Long, maxUid: Long, rows: Long)

  val NumFiles = 16

  /** BUILD or reload: the range-sorted layout + its manifest. Disk
    * layout: `<layout>/events` (parquet files) + `<layout>/manifest`
    * (parquet). The manifest collect is bounded by the FILE count
    * (never the row count). */
  def eventsByUserRange(spark: SparkSession, sfDir: String): (String, Seq[Zone]) =
    graft.BuildCache("eventsByUserRange", graft.BuildCache.files(spark, sfDir, "events.parquet")) {
      val live = LayoutStore.getOrBuild(
        LayoutStore.layoutDir("skip_idx", sfDir, Seq("events.parquet"))) { staging =>
        val dir = staging.resolve("events").toString
        val ev = graft.Tables.events(spark, sfDir)
        ev.select(col("user_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .repartitionByRange(NumFiles, col("user_id"))
          .write.parquet(dir)
        spark.read.parquet(dir)
          .groupBy(substring_index(col("_metadata.file_path"), "/", -1).as("file"))
          .agg(min("user_id").as("min_uid"), max("user_id").as("max_uid"),
            count(lit(1)).as("rows"))
          .coalesce(1) // file-count rows — dimension-sized
          .write.parquet(staging.resolve("manifest").toString)
      }
      (live.resolve("events").toString, readManifest(spark, live.toString))
    }

  /** Reload the zone manifest from its parquet — the snapshot read a
    * restarted driver does instead of re-scanning the corpus. */
  def readManifest(spark: SparkSession, layoutDir: String): Seq[Zone] =
    spark.read.parquet(s"$layoutDir/manifest")
      .collect() // file-count rows — bounded
      .map(r => Zone(r.getAs[String]("file"), r.getAs[Long]("min_uid"),
        r.getAs[Long]("max_uid"), r.getAs[Long]("rows")))
      .toSeq

  /** SERVE: per-type rollup of one user's events, reading ONLY the
    * files whose [min, max] zone admits the key. Returns the rollup
    * and the pruned file count (for specs; the gated query drops it). */
  def userRollup(spark: SparkSession, sfDir: String, uid: Long): (DataFrame, Int) = {
    val (dir, zones) = eventsByUserRange(spark, sfDir)
    val hit = zones.filter(z => z.minUid <= uid && uid <= z.maxUid)
      .map(z => s"$dir/${z.file}")
    // no zone admits the key: the manifest just PROVED the key absent
    // — the ideal skip (0 files); serve the empty rollup without
    // touching a data file (lit(false) prunes every row at planning)
    val rows =
      if (hit.isEmpty) spark.read.parquet(dir).filter(lit(false))
      else spark.read.parquet(hit: _*).filter(col("user_id") === uid)
    val df = rows
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("event_type")
    (df, hit.size)
  }

  /** The gated form: the probed key is data-driven (min user id + 42,
    * one 1-row aggregate) so the oracle can model it in SQL. The min
    * comes from the MANIFEST (min over file minima == corpus min) —
    * the zone stats exist precisely so no probe ever scans the table. */
  def gatedUserRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, zones) = eventsByUserRange(spark, sfDir)
    val uid = zones.map(_.minUid).min + 42
    userRollup(spark, sfDir, uid)._1
  }
}

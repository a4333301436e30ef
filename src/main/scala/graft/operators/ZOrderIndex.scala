package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) multi-dimension data skipping — the layout
  * lever for predicates over TWO high-cardinality columns, where a
  * single-column range sort ([[SkippingIndex]]) leaves the second
  * column's per-file ranges as wide as the table. Delta/Iceberg ship
  * this as OPTIMIZE ZORDER BY; here it is a first-class operator.
  *
  * Key idea: range-partition by the bit-interleaved key
  * z = morton(user_id, day) so each file covers a small SQUARE of the
  * (user, day) plane instead of a thin full-width stripe — per-file
  * min/max stay tight on BOTH columns and a predicate on EITHER prunes
  * files. The z-key is a CLUSTERING key only: the manifest stores true
  * per-file min/max of the real columns, so pruning is correct no
  * matter how the bits were interleaved (truncating either dim to 16
  * bits can only loosen clustering, never correctness).
  *
  * Build — PERSISTED cross-session via [[LayoutStore]] (round-11, same
  * move as [[SkippingIndex]]): one repartitionByRange on the 32-bit
  * morton expression (pure codegen'd bit arithmetic) + the
  * file-count-sized 2-D manifest parquet keyed by RELATIVE file name.
  * A restarted driver reloads layout + manifest with zero rebuild jobs
  * (BucketingSpec pins it). Serve: prune the manifest on whichever
  * column the predicate touches, read only admitted files. BucketingSpec
  * pins that BOTH a user probe and a day window read a fraction of the
  * 16 files and equal their full-scan answers — the two-sided evidence
  * the single-column layout cannot give.
  */
object ZOrderIndex {

  /** One data file's two-dimensional zone row. `file` is relative to
    * the layout's events dir. */
  final case class Zone2(file: String, minUid: Long, maxUid: Long,
      minDay: Int, maxDay: Int, rows: Long)

  val NumFiles = 16

  /** 32-bit Morton interleave of two 16-bit values — x in even bit
    * positions, y in odd. Unrolled bitwise expression: stays inside
    * whole-stage codegen. */
  def morton16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** BUILD or reload: the z-clustered layout + its 2-D manifest. `day`
    * is days since epoch (exact integer, matches DuckDB date
    * arithmetic). Disk layout: `<layout>/events` + `<layout>/manifest`. */
  def eventsByZOrder(spark: SparkSession, sfDir: String): (String, Seq[Zone2]) =
    graft.BuildCache("eventsByZOrder", graft.BuildCache.files(spark, sfDir, "events.parquet")) {
      val live = LayoutStore.getOrBuild(
        LayoutStore.layoutDir("zorder", sfDir, Seq("events.parquet"))) { staging =>
        val dir = staging.resolve("events").toString
        val ev = graft.Tables.events(spark, sfDir)
        ev.select(col("user_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"),
            datediff(to_date(graft.Tables.eventTime(ev)), lit("1970-01-01").cast("date"))
              .as("day"))
          .withColumn("z", morton16(
            col("user_id").bitwiseAND(lit(0xFFFFL)),
            col("day").cast("long").bitwiseAND(lit(0xFFFFL))))
          .repartitionByRange(NumFiles, col("z"))
          .drop("z")
          .write.parquet(dir)
        spark.read.parquet(dir)
          .groupBy(substring_index(col("_metadata.file_path"), "/", -1).as("file"))
          .agg(min("user_id").as("min_uid"), max("user_id").as("max_uid"),
            min("day").as("min_day"), max("day").as("max_day"),
            count(lit(1)).as("rows"))
          .coalesce(1) // file-count rows — dimension-sized
          .write.parquet(staging.resolve("manifest").toString)
      }
      (live.resolve("events").toString, readManifest(spark, live.toString))
    }

  /** Reload the 2-D zone manifest from its parquet snapshot. */
  def readManifest(spark: SparkSession, layoutDir: String): Seq[Zone2] =
    spark.read.parquet(s"$layoutDir/manifest")
      .collect() // file-count rows — bounded
      .map(r => Zone2(r.getAs[String]("file"), r.getAs[Long]("min_uid"),
        r.getAs[Long]("max_uid"), r.getAs[Int]("min_day"),
        r.getAs[Int]("max_day"), r.getAs[Long]("rows")))
      .toSeq

  private def read(spark: SparkSession, dir: String, hit: Seq[String]): DataFrame =
    if (hit.isEmpty) spark.read.parquet(dir).filter(lit(false))
    else spark.read.parquet(hit: _*)

  /** SERVE on the first dimension: one user's per-type rollup, reading
    * only files whose uid zone admits the key. */
  def userRollup(spark: SparkSession, sfDir: String, uid: Long): (DataFrame, Int) = {
    val (dir, zones) = eventsByZOrder(spark, sfDir)
    val hit = zones.filter(z => z.minUid <= uid && uid <= z.maxUid)
      .map(z => s"$dir/${z.file}")
    val df = read(spark, dir, hit)
      .filter(col("user_id") === uid)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("event_type")
    (df, hit.size)
  }

  /** SERVE on the second dimension: a day-window per-type rollup,
    * pruned on the day zones — the probe a user-range layout cannot
    * skip a single file for. */
  def dayWindowRollup(spark: SparkSession, sfDir: String, d0: Int, d1: Int): (DataFrame, Int) = {
    val (dir, zones) = eventsByZOrder(spark, sfDir)
    val hit = zones.filter(z => z.minDay <= d1 && d0 <= z.maxDay)
      .map(z => s"$dir/${z.file}")
    val df = read(spark, dir, hit)
      .filter(col("day") >= d0 && col("day") <= d1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("event_type")
    (df, hit.size)
  }

  /** The gated form: a 3-day mid-table window, endpoints data-driven
    * from the MANIFEST's own min (the zone stats exist precisely so no
    * probe ever scans the table; min over file minima == the corpus
    * min) so the oracle models the same window in SQL. */
  def gatedDayWindowRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, zones) = eventsByZOrder(spark, sfDir)
    val d0 = zones.map(_.minDay).min
    dayWindowRollup(spark, sfDir, d0 + 10, d0 + 12)._1
  }
}

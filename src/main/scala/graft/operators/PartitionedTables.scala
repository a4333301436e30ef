package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned fact layout + STATIC partition pruning — the scan
  * lever that makes "one day out of years" queries read one directory
  * instead of 100 TB.
  *
  * Complements the shop's other persisted layouts: [[BucketedTables]]
  * co-locates JOINS, the IVF index's `partitionBy(cell)` gets DYNAMIC
  * pruning from a join-derived predicate (PipelineSpec pins it); this
  * is the third and most common form — a LITERAL predicate on the
  * partition column resolved at PLANNING time, before a single task
  * launches (PlanSpec pins `PartitionFilters` + files actually read).
  *
  * Build — PERSISTED cross-session via [[LayoutStore]] (round-11; the
  * r10 temp-dir form made every restarted driver re-pay the rewrite):
  * events written `partitionBy(event_date)`, with a `repartition(d)`
  * FIRST — without it every write task emits a file into every day's
  * directory (tasks × days small files, the classic lake pathology);
  * with it each day directory holds one file. At 100 TB the same write
  * shape holds with more tasks per day (repartition on (d, salt)). The
  * day directories ARE the manifest — partition discovery is the
  * snapshot read.
  *
  * Serve: [[dayRollup]] — per-type rollup of day `min+3`, the day
  * chosen by a 1-row min aggregate (bounded driver read) so the query
  * stays data-driven and the oracle can model it in SQL.
  */
object PartitionedTables {

  /** BUILD or reload: events as a date-partitioned parquet layout;
    * returns its path. Integer cents carried so serve aggregates are
    * exact. A session that finds the published layout pays only the
    * directory listing. */
  def eventsByDay(spark: SparkSession, sfDir: String): String =
    graft.BuildCache("eventsByDay", graft.BuildCache.files(spark, sfDir, "events.parquet")) {
      // kind carries a layout-schema version: the fingerprint names the
      // SOURCE, so a schema change to the layout itself must publish
      // under a fresh name or an old on-disk build would serve it
      val live = LayoutStore.getOrBuild(
        LayoutStore.layoutDir("events_byday_v2", sfDir, Seq("events.parquet"))) { staging =>
        val ev = graft.Tables.events(spark, sfDir)
        ev.select(col("event_id"), col("user_id"), col("event_type"),
            round(col("value") * 100).cast("long").as("cents"),
            to_date(graft.Tables.eventTime(ev)).as("d"))
          .repartition(col("d"))
          .write.partitionBy("d").parquet(staging.resolve("events").toString)
      }
      live.resolve("events").toString
    }

  /** MERGE composed with partition pruning — how Delta/Iceberg price a
    * MERGE, gated end-to-end (rel_merge_pruned; closes the r10 gap
    * between [[MergeInto]]'s scaladoc claim and its evidence): a CDC
    * change batch names the partitions it touches, so the base-table
    * side of the merge join scans ONLY those directories — at 100 TB
    * the difference between rewriting two day-partitions and a
    * full-table rewrite.
    *
    * Shape: (1) the change batch (here: every 10th event of days
    * min+3..min+4, cents bumped on 'U', every 20th deleted) is itself
    * a pruned 2-directory scan; (2) its touched partition VALUES are
    * collected — bounded by the touched-day count, the same walk
    * Delta's MERGE does to plan its file rewrite set; (3) the base
    * scan filters `d IN (touched)` — static partition pruning, planned
    * before any task launches (PlanSpec pins PartitionFilters + the
    * 2-of-30 directory read); (4) [[MergeInto.merge]] applies U/D
    * rows in its one key-partitioned join. Output: the post-merge
    * per-(day, type) rollup of the touched partitions — exactly the
    * slice a real MERGE rewrites; untouched partitions are never read.
    */
  def mergePruned(spark: SparkSession, sfDir: String): DataFrame = {
    val path = eventsByDay(spark, sfDir)
    val t = spark.read.parquet(path)
    val day0 = t.agg(min("d")).head().getDate(0) // 1-row agg — bounded
    def plus(n: Int) = java.sql.Date.valueOf(day0.toLocalDate.plusDays(n))
    val changes = t
      .filter(col("d").between(lit(plus(3)), lit(plus(4))) && col("event_id") % 10 === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("cents") + 1000L).as("cents"), col("d"),
        when(col("event_id") % 20 === 0, "D").otherwise("U").as("op"))
    // touched-partition walk: collect is bounded by the touched-DAY
    // count (2 here; never the row count)
    val days = changes.select("d").distinct().collect().map(_.getDate(0)).toSeq
    val base = t.filter(col("d").isin(days: _*))
    graft.operators.MergeInto.merge(base, changes, Seq("event_id"))
      .groupBy("d", "event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("d", "event_type")
  }

  /** DYNAMIC partition pruning (ev_dpp) — the third pruning flavor
    * next to [[dayRollup]]'s planning-time literal and
    * [[mergePruned]]'s collected touched-set: the qualifying days are
    * only known by RUNNING the dim query (days whose total cents are
    * even — a predicate on a NON-join column, so constraint
    * propagation cannot turn it into a static fact-side filter), and
    * Spark plants a DynamicPruningExpression on the fact scan that
    * waits for the dim result before listing directories. At 100 TB
    * this is how a fact scan survives "join to whatever dimension
    * slice this query computes" without reading every partition.
    *
    * Gate-scale confs, scoped to the query: useStats=false (the
    * size-estimate benefit heuristic declines at kilobyte scale —
    * the fallback ratio applies instead) and reuseBroadcastOnly=false
    * (the dim is an aggregate whose pre-AQE size estimate can exceed
    * the broadcast threshold; production reuses the join's own
    * broadcast). The plan is REQUIREd to carry dynamicpruning before
    * the bounded (≤ #event-types rows) result materializes. */
  def dppRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false")
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val t = spark.read.parquet(eventsByDay(spark, sfDir))
      val dim = t.groupBy("d").agg(sum("cents").as("tot"))
        .filter(col("tot") % 2 === 0)
        .select("d")
      val joined = t.join(dim, "d")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .orderBy("event_type")
      require(joined.queryExecution.executedPlan.toString
        .toLowerCase.contains("dynamicpruning"),
        "dynamic partition pruning did not plant — the gated lever is off")
      val rows = joined.collect()
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toSeq.asJava, joined.schema)
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** SERVE: one-day per-type rollup whose day predicate is pruned at
    * planning time — the scan lists only that day's directory. */
  def dayRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val path = eventsByDay(spark, sfDir)
    val t = spark.read.parquet(path)
    val day = t.agg(date_add(min("d"), 3)).head().getDate(0) // 1-row agg — bounded
    t.filter(col("d") === lit(day))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("event_type")
  }
}

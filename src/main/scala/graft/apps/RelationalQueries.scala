package graft.apps

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational/analytics plane over the TPC-H-ish tables — the bench
  * headliners. The reference has no joins or window functions
  * (SURVEY §2.9); these cover the standard operator set a user of a
  * general engine needs, planned Spark-first:
  *
  *  - fixed-size dimension tables (region/nation) carry broadcast
  *    hints; linearly-growing ones (customer/supplier/part) are left
  *    to stats/AQE — still broadcast at any sf where they fit, never
  *    forced into an OOM at 100x;
  *  - aggregations rely on Catalyst partial aggregation;
  *  - double aggregates are rounded on both sides (oracle parity —
  *    IEEE summation order differs between engines);
  *  - every query ends in a deterministic ORDER BY.
  *
  * events.ts is read schema-adaptively (Tables.eventTime/eventMicros):
  * the current testdata carries parquet timestamp[us] (TIMESTAMP_NTZ in
  * Spark), legacy lakes ns-since-epoch longs; the oracle's
  * epoch_ns()/date_trunc works on DuckDB's TIMESTAMP reading either way.
  */
object RelationalQueries extends QueryPack {

  /** Run `body` with session confs set, restoring priors after — the
    * per-query physical-tuning lever (rel_bloom_join's pattern, shared
    * since round 17). Confs are read at EXECUTION time, so the body
    * must materialize any result whose plan depends on them; callers
    * here collect a bounded (LIMIT-ed) result and return it as a local
    * relation. */
  private def withScopedConfs[T](s: SparkSession,
      confs: Seq[(String, String)])(body: => T): T = {
    val old = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Collect `df` (bounded by contract — LIMIT / tiny-group queries
    * only) and rebuild it as a local relation, snapshotting the result
    * computed under the caller's scoped confs. */
  private def materialized(s: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** Scanned-input bind floor for the q18/q21 scoped sort-pressure
    * confs (round 18, the Spread.BindFloor discipline applied to
    * configuration): the 16m advisory / 32m split knobs are
    * bytes-per-task levers justified by stage-attributed sort spill
    * that only exists past ~x30 of sf0.1 (SCALE_r17_rel: q18 9.99 GB,
    * q21 13.26 GB at x100 lineitem ≈ 1.1 GB) — but round 17 applied
    * them unconditionally, paying +31/+54% at gate scale (sf0.1 min
    * 1.72→2.25 s / 1.62→2.49 s: finer advisory = more tiny tasks on an
    * 11 MB input). The confs now fire only when the scanned
    * lineitem.parquet exceeds this size; below it the queries run on
    * session defaults, exactly as every Spread lever keeps identity
    * plans below its bind floor. 200 MB ≈ x20 of sf0.1 — comfortably
    * below the first rung where spill was measured (x100) and above
    * every gate scale. Env-overridable for threshold A/Bs. */
  private val RelConfMinBytes: Long =
    sys.env.get("SPARK_GRAFT_REL_CONF_MIN_BYTES")
      .flatMap(_.toLongOption).getOrElse(200L << 20)

  /** Bytes of `$dir/lineitem.parquet` (file or directory). */
  private def lineitemBytes(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    try fs.getContentSummary(p).getLength
    catch { case scala.util.control.NonFatal(_) => 0L }
  }

  /** [[withScopedConfs]] gated on [[RelConfMinBytes]] — identity (body
    * under session confs) below the floor. */
  private def withScaledConfs[T](s: SparkSession, dir: String,
      confs: Seq[(String, String)])(body: => T): T =
    if (lineitemBytes(s, dir) >= RelConfMinBytes) withScopedConfs(s, confs)(body)
    else body

  /** Un-materialized SQL plans of the scoped-conf TPC-H entries — the
    * declared queries snapshot their result under scoped confs (so
    * their own plan is a LocalRelation); plan-shape pins (PlanSpec's
    * decorrelation guards) read these builders instead. */
  private[graft] def q18Sql(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey
        |                     HAVING sum(l_quantity) > 300)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin)
  }

  private[graft] def q21Sql(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 1200 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 1200 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)
  }

  private val SESSION_GAP_US = 1800000000L // 30 min in microseconds
  val FUNNEL_WINDOW_US = 259200000000L // 72 h per-stage conversion window

  /** The ev_funnel core over (user_id, event_type, tsu) rows:
    * min-forward stage chain (each stage the first qualifying event
    * strictly after the previous stage, within the 72 h window) —
    * four chained unbounded windows on ONE user_id partitioning, the
    * per-user groupBy reuses it, and only the 4-row funnel sees the
    * constant-partition conversion-rate window. */
  def funnel(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    val staged = ev
      .withColumn("t1", min(when(col("event_type") === "signup", col("tsu"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "view" &&
        col("tsu") > col("t1") && col("tsu") <= col("t1") + FUNNEL_WINDOW_US, col("tsu"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "click" &&
        col("tsu") > col("t2") && col("tsu") <= col("t2") + FUNNEL_WINDOW_US, col("tsu"))).over(w))
      .withColumn("t4", min(when(col("event_type") === "purchase" &&
        col("tsu") > col("t3") && col("tsu") <= col("t3") + FUNNEL_WINDOW_US, col("tsu"))).over(w))
    val users = staged
      .groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"), max("t4").as("t4"))
    val stages = users.agg(
      count(col("t1")).as("n1"), count(col("t2")).as("n2"),
      count(col("t3")).as("n3"), count(col("t4")).as("n4"))
      .select(explode(array(
        struct(lit(1).as("stage"), lit("signup").as("event_type"), col("n1").as("n_users")),
        struct(lit(2).as("stage"), lit("view").as("event_type"), col("n2").as("n_users")),
        struct(lit(3).as("stage"), lit("click").as("event_type"), col("n3").as("n_users")),
        struct(lit(4).as("stage"), lit("purchase").as("event_type"), col("n4").as("n_users")))).as("f"))
      .select(col("f.stage"), col("f.event_type"), col("f.n_users"))
    val wS = Window.partitionBy(lit(0)).orderBy("stage")
    stages
      .withColumn("prev", coalesce(lag("n_users", 1).over(wS), col("n_users")))
      .withColumn("conv_bp",
        when(col("prev") === 0, lit(0L))
          .otherwise(expr("n_users * 10000 div prev")))
      .select(col("stage"), col("event_type"), col("n_users"), col("conv_bp"))
      .orderBy("stage")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: full-scan aggregate, 4 groups.
    "q1_agg" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 2).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    // TPC-H Q6 shape: selective scan, single-row answer — exercises
    // predicate pushdown into the parquet reader.
    "q6_filter" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    },
    // TPC-H Q3 shape: 3-way join, top-10 by revenue.
    "q3_join" -> { (s, dir) =>
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      // customer grows linearly with sf — no broadcast hint: a forced
      // broadcast OOMs at 100x while AQE/stats still pick broadcast
      // whenever the filtered side is genuinely small
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
        .limit(10)
    },
    // TPC-H Q5 shape: 6-table star join, revenue by nation.
    "q5_join" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
        .filter(
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      // supplier/customer grow linearly with sf — hints only on the
      // fixed-size nation/region dims; AQE/stats broadcast the rest
      // iff they are genuinely under the threshold
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("n_name")
    },
    // Part-brand rollup: fact x part dimension. part grows linearly
    // with sf — stats-driven join choice, no forced broadcast.
    "part_revenue" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    },
    // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER
    // join (zero-order customers must appear) then a histogram of the
    // per-customer counts. Two aggregations, both key-partitioned; the
    // histogram grid is bounded by max orders per customer.
    "q13_custdist" -> { (s, dir) =>
      val cust = Tables.customer(s, dir).select("c_custkey")
      val ord = Tables.orders(s, dir)
        .filter(!col("o_orderpriority").contains("LOW"))
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
      cust.join(ord, Seq("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },
    // TPC-H Q17 shape: correlated aggregate subquery — lineitems under
    // 20% of their part's average quantity, for one brand. The
    // per-part average is computed AFTER the brand semi-join, so the
    // avg shuffle covers only the brand's parts (restricting to the
    // brand cannot change a per-part average); the threshold join then
    // reuses the same l_partkey partitioning.
    "q17_avg_qty" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey").as("l_partkey"))
      val liB = li.join(p, Seq("l_partkey"), "left_semi")
      val avgq = liB.groupBy("l_partkey")
        .agg((avg("l_quantity") * 0.2).as("qty_thresh"))
      liB.join(avgq, Seq("l_partkey"))
        .filter(col("l_quantity") < col("qty_thresh"))
        .agg(round(sum("l_extendedprice") / 7.0, 2).as("avg_yearly"))
    },
    // Exact nearest-rank percentiles of event values per type, over a
    // cents-quantized histogram CDF — no corpus sort, the
    // lengthQuantiles stance on the events plane. The running-sum
    // window is per-type over DISTINCT cent values (bounded by the
    // value range, not the event count).
    "ev_percentiles" -> { (s, dir) =>
      val hist = Tables.events(s, dir)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "cents").agg(count(lit(1)).as("cnt"))
      val cdf = hist
        .withColumn("cum",
          sum("cnt").over(Window.partitionBy("event_type").orderBy("cents")))
        .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
      val picks = Seq(50, 90, 99).map(q =>
        round(min(when(col("cum") * 100 >= col("n") * q, col("cents")))
          .cast("double") / 100, 2).as(s"p$q"))
      cdf.groupBy("event_type").agg(picks.head, picks.tail: _*).orderBy("event_type")
    },
    // Event-time daily rollup.
    "ev_daily" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev
        .select(
          to_date(Tables.eventTime(ev)).as("day"),
          col("event_type"), col("value"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("day", "event_type")
    },
    // Sessionization: 30-min-gap sessions per user via lag window.
    // Gap arithmetic on us-since-epoch longs (schema-adaptive) — integer
    // compare, no interval types, exact under either ts encoding.
    "ev_sessions" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id").orderBy("tsu")
      ev
        .select(col("user_id"), Tables.eventMicros(ev).as("tsu"))
        .withColumn("prev", lag("tsu", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("tsu") - col("prev") > SESSION_GAP_US, 1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_s").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },
    // The BUILT-IN session operator: Catalyst's session_window (gap
    // merging inside the aggregate — one user_id shuffle, no lag
    // window pass) must produce exactly the lag-split sessions. Its
    // gap boundary is NON-strict (an event at exactly start + gap
    // merges — probed empirically), the same rule the lag-split's
    // `gap > G` predicate encodes, so the two-plane oracle is shared.
    "ev_session_window" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev.select(col("user_id"), Tables.eventTime(ev).as("ts_utc"))
        .groupBy(col("user_id"), session_window(col("ts_utc"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("s_start"), col("n_events"))
        .orderBy("user_id", "s_start")
    },
    // Per-session table: ev_sessions' gap logic carried through to a
    // session_id (running sum of session starts) with per-session
    // duration and event count. The lag window, the running sum AND
    // the (user, session) aggregate all run on the ONE user_id
    // partitioning — HashPartitioning(user_id) satisfies the
    // ClusteredDistribution of the superset grouping key, so no
    // second shuffle ever happens.
    "ev_session_stats" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id").orderBy("tsu")
      ev
        .select(col("user_id"), Tables.eventMicros(ev).as("tsu"))
        .withColumn("prev", lag("tsu", 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("tsu") - col("prev") > SESSION_GAP_US, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          max("tsu").as("max_t"), min("tsu").as("min_t"))
        .withColumn("dur_s", expr("(max_t - min_t) div 1000000"))
        .select(col("user_id"), col("session_id"), col("n_events"), col("dur_s"))
        .orderBy("user_id", "session_id")
    },
    // Burst detection via the banded RANGE JOIN (operators.RangeJoin):
    // same-user event pairs within 5 minutes. The |Δt| predicate is
    // rewritten to a (user, bucket) equi-join with a bounded ×3
    // expansion — never the BroadcastNestedLoop/cartesian plan a raw
    // theta-join gets (plan-pinned).
    "ev_bursts" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val e = ev.select(col("user_id"), col("event_id"), Tables.eventMicros(ev).as("tsu"))
      val a = e.select(col("user_id"), col("event_id").as("id_a"), col("tsu").as("t_a"))
      val b = e.select(col("user_id"), col("event_id").as("id_b"), col("tsu").as("t_b"))
      graft.operators.RangeJoin.join(a, b, "user_id", "t_a", "t_b", 300000000L)
        .filter(col("id_a") < col("id_b"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },
    // Top spenders: agg + top-k + rank, deterministic tie-break.
    // orderBy().limit(k) compiles to TakeOrderedAndProject — per-
    // partition top-k, merge on the driver, never a global sort or a
    // single-partition window over ALL users (that shape moves every
    // user to one task and dies at billions of users). Only the 20
    // survivors see a window, partitioned on a constant so WindowExec
    // has an (intentional) partition spec.
    "ev_top_spenders" -> { (s, dir) =>
      val spend = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(round(sum("value"), 2).as("spend"), count(lit(1)).as("n_purchases"))
      spend
        .orderBy(desc("spend"), asc("user_id"))
        .limit(20)
        .withColumn("rank",
          row_number().over(
            Window.partitionBy(lit(0)).orderBy(desc("spend"), asc("user_id"))))
        .orderBy("rank")
    },
    // Semi/anti joins: buyers who never hit an error, and error-free
    // users' order counts (EXISTS / NOT EXISTS shapes).
    "ev_semi_anti" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val buyers = ev.filter(col("event_type") === "purchase").select("user_id").distinct()
      val badErrors = ev
        .filter(col("event_type") === "error" && col("value") > 190)
        .select("user_id").distinct()
      buyers
        .join(badErrors, Seq("user_id"), "left_anti")
        .join(ev.filter(col("event_type") === "purchase"), Seq("user_id"), "left_semi")
        .orderBy("user_id")
    },
    // As-of attribution: each purchase joined to the user's most
    // recent prior signup (running-max window — the same carry-forward
    // shape as operators.AsOfJoin).
    "ev_attribution" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.events(s, dir)
        .withColumn("last_signup",
          max(when(col("event_type") === "signup", col("event_id"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("last_signup"))
        .orderBy("event_id")
    },
    // As-of join proper (operators.AsOfJoin): each event joined to the
    // customer's most recent order at-or-before the event time. Union
    // + carry-forward window — ONE shuffle on the key, no range probe,
    // both sides arbitrarily large (ev_attribution is the same shape
    // within one table; this is the two-table operator). The right
    // side is first deduped to one row per (user, time) — max
    // o_orderkey wins — because a deterministic as-of needs a unique
    // right-side time per key.
    "ev_asof" -> { (s, dir) =>
      val evRaw = Tables.events(s, dir)
      val ev = evRaw
        .select(col("event_id"), col("user_id"), Tables.eventTime(evRaw).as("ts_utc"))
      val ord = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(
          max("o_orderkey").as("o_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
      graft.operators.AsOfJoin
        .join(ev, ord, "user_id", "ts_utc", "o_orderdate", Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"),
          col("asof_o_orderkey"), col("asof_o_totalprice"))
        .orderBy("event_id")
    },
    // Tumbling window() rollup — the batch form of the streaming
    // windowed aggregation (hourly).
    "ev_hourly" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev
        .select(Tables.eventTime(ev).as("ts_utc"), col("event_type"), col("value"))
        .groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))
        .orderBy("w_start", "event_type")
    },
    // Ordered conversion funnel signup -> view -> click -> purchase:
    // each stage's timestamp is the user's first qualifying event
    // STRICTLY AFTER the previous stage and within the 72 h conversion
    // window (min-forward chain — without the window every long-lived
    // user trivially completes the funnel). Four
    // chained unbounded windows share ONE user_id partitioning (a
    // single shuffle; Catalyst stacks the Window ops), then the
    // groupBy(user_id) reuses that partitioning. Only the 4-row funnel
    // itself sees the constant-partition lag window for conversion
    // rates — intentional, bounded. Integer basis-point conversion so
    // the oracle replays exactly.
    "ev_funnel" -> { (s, dir) =>
      val evRaw = Tables.events(s, dir)
      funnel(evRaw.select(col("user_id"), col("event_type"),
        Tables.eventMicros(evRaw).as("tsu")))
    },
    // Cohort retention matrix: cohort = first active DAY per user,
    // n_active = distinct users of that cohort active in week-offset
    // wk. distinct(user, day) -> min-day cohort -> same-key join ->
    // two-phase distinct count; every stage partitions on user_id or
    // the bounded (cohort, wk) grid (<= days x weeks rows).
    "ev_retention" -> { (s, dir) =>
      val evRaw = Tables.events(s, dir)
      val days = evRaw
        .select(col("user_id"), to_date(Tables.eventTime(evRaw)).as("day"))
        .distinct()
      val cohorts = days.groupBy("user_id").agg(min("day").as("cohort"))
      days.join(cohorts, "user_id")
        .withColumn("wk", expr("datediff(day, cohort) div 7").cast("int"))
        .groupBy("cohort", "wk")
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort", "wk")
    },
    // PIVOT: per-user event-type count matrix — the groupBy().pivot()
    // API surface. Values are listed explicitly (the 5 known types):
    // an unlisted pivot would collect the distinct values to the
    // driver to plan the schema — fine at 5 types, a scan at 5M.
    "ev_pivot" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    },
    // HOPPING window rollup: 2 h windows sliding by 1 h — each event
    // lands in exactly two windows. The batch twin of the streaming
    // sliding-window aggregation; Spark expands the window set
    // row-locally before the one aggregate shuffle.
    "ev_sliding" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev
        .select(Tables.eventTime(ev).as("ts_utc"), col("event_type"), col("value"))
        .groupBy(window(col("ts_utc"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("total"))
        .orderBy("w_start", "event_type")
    },
    // Daily-count anomaly flags per event type: spike ⟺ z > 2 over
    // that type's day series, decided entirely in integers — z > 2
    // ⟺ D·n − S1 > 0 AND (D·n − S1)² > 4·(D·S2 − S1²) after
    // multiplying through by D²σ² (the sign conjunct keeps dips/
    // outages, which also satisfy the squared inequality, out of the
    // spike flag), so no sqrt, no doubles, exact in any engine. The
    // per-type stats table is |types| rows (broadcast); the daily grid
    // is days × types. (At extreme daily counts the squares want
    // decimals; ANSI mode makes an overflow loud, never wrong.)
    "ev_anomaly" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val daily = ev
        .select(col("event_type"), to_date(Tables.eventTime(ev)).as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"))
      val stats = daily
        .groupBy("event_type")
        .agg(count(lit(1)).as("d"), sum("n").as("s1"), sum(col("n") * col("n")).as("s2"))
      daily.join(broadcast(stats), "event_type")
        .withColumn("spike",
          when(expr("d*n - s1 > 0 AND (d*n - s1)*(d*n - s1) > 4*(d*s2 - s1*s1)"), 1)
            .otherwise(0))
        .select(col("event_type"), col("day"), col("n"), col("spike"))
        .orderBy("event_type", "day")
    },
    // FULL OUTER join surface: per (user, day), signup activity vs
    // big-purchase activity — the two sides genuinely mismatch, so
    // both null fringes are exercised (coalesced to 0 both engines).
    "ev_full_outer" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val e = ev.select(col("user_id"), to_date(Tables.eventTime(ev)).as("day"),
        col("event_type"), col("value"))
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id", "day").agg(count(lit(1)).as("n_signups"))
      val bp = e.filter(col("event_type") === "purchase" && col("value") > 150)
        .groupBy("user_id", "day").agg(count(lit(1)).as("n_big_purchases"))
      su.join(bp, Seq("user_id", "day"), "full_outer")
        .na.fill(0L, Seq("n_signups", "n_big_purchases"))
        .orderBy("user_id", "day")
    },
    // Daily active users split into new (first-ever-active that day)
    // vs returning — the growth-accounting twin of ev_retention; the
    // same distinct-(user, day) + min-day-per-user machinery, one
    // user_id-keyed join, bounded daily output.
    "ev_dau" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val days = ev
        .select(col("user_id"), to_date(Tables.eventTime(ev)).as("day"))
        .distinct()
      val first = days.groupBy("user_id").agg(min("day").as("first_day"))
      days.join(first, "user_id")
        .groupBy("day")
        .agg(
          count(lit(1)).as("dau"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"))
        .withColumn("returning", col("dau") - col("new_users"))
        .orderBy("day")
    },
    // Trend analytics over the DAILY grid: 7-day moving average and
    // day-over-day delta per event type. The windows run over the
    // aggregated (type, day) series — bounded by days × types, never
    // the raw event stream — with rowsBetween frames ordered by day.
    "ev_trend" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val daily = ev
        .select(col("event_type"), to_date(Tables.eventTime(ev)).as("day"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"))
      val byType = Window.partitionBy("event_type").orderBy("day")
      daily
        .withColumn("ma7",
          round(avg("n").over(byType.rowsBetween(-6, Window.currentRow)), 2))
        .withColumn("delta", col("n") - lag("n", 1).over(byType))
        .orderBy("event_type", "day")
    },
    // Event-type transition matrix (first-order Markov chain over each
    // user's time-ordered stream): P(next | current) in basis points.
    // One lead window on the user_id partitioning; the transition
    // table is |types|² rows and its row-normalizer is a broadcast.
    "ev_markov" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      val trans = ev
        .select(col("user_id"), col("event_id"), col("event_type"),
          Tables.eventMicros(ev).as("tsu"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = trans.groupBy("from_type").agg(sum("n").as("tot"))
      trans.join(broadcast(tot), "from_type")
        .withColumn("p_bp", expr("n * 10000 div tot"))
        .select("from_type", "to_type", "n", "p_bp")
        .orderBy("from_type", "to_type")
    },
    // Day-of-week × hour activity heatmap. dow is computed as
    // days-since-a-known-Monday mod 7 (0 = Monday) — pure date
    // arithmetic, immune to the engines' conflicting dayofweek()
    // numbering conventions.
    "ev_dow_hour" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      ev.select(Tables.eventTime(ev).as("ts_utc"), col("value"))
        .withColumn("dow",
          expr("datediff(to_date(ts_utc), date'2024-01-01') % 7").cast("int"))
        .withColumn("hr", hour(col("ts_utc")).cast("int"))
        .groupBy("dow", "hr")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .orderBy("dow", "hr")
    },
    // ---- Correlated-subquery TPC-H shapes (q4/q16/q18/q21/q22) ----
    // Deliberately written as spark.sql TEXT over the registered views,
    // not hand-decorrelated DataFrame code: the point is evidence that
    // CATALYST's decorrelation (RewritePredicateSubquery &c.) turns
    // each correlated EXISTS / NOT EXISTS / NOT IN / IN-with-agg /
    // scalar subquery into hash-able semi/anti/aggregate joins — the
    // query shapes a 100×-scale engine gets wrong first (an accidental
    // BroadcastNestedLoopJoin from a failed decorrelation is the
    // classic scale-killer). PlanSpec pins every one of these plans
    // free of BroadcastNestedLoopJoin / CartesianProduct. Predicates
    // are adapted to the testdata schema (no l_commitdate/l_receiptdate
    // /partsupp/c_phone columns here): "late" is shipdate far past the
    // order date, q16's complaint filter is negative supplier balance,
    // q22's country codes are nation keys — same shapes, same
    // decorrelation work.

    // TPC-H Q4: correlated EXISTS — orders with at least one late
    // lineitem, counted by priority. Decorrelates to ONE left-semi
    // hash join on l_orderkey (the o_orderdate correlation rides the
    // join as an extra condition), then a 5-group aggregate.
    "q4_order_priority" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1996-07-01'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate > o_orderdate + INTERVAL 100 DAY)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    },
    // TPC-H Q16: NOT IN subquery — distinct-supplier counts per part
    // (brand, type, size) bucket, excluding flagged suppliers. The
    // NOT IN plans as a null-aware anti join (broadcast — the excluded
    // set is an aggregate of a dimension table, tiny at any sf);
    // lineitem plays the partsupp bridge.
    "q16_supplier_cnt" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT p_brand, p_type, p_size,
          |       count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#1'
          |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 36)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
          |                        WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
    },
    // TPC-H Q18: IN with a grouped-HAVING subquery — large-quantity
    // orders with their customer. The IN decorrelates to a left-semi
    // join against the per-order quantity aggregate; both the
    // aggregate and the semi join share the l_orderkey/o_orderkey
    // partitioning.
    "q18_big_orders" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      // SORT-PRESSURE confs, scoped (round 17 x100 adjudication,
      // SCALE_r17_rel + the event-log attribution): the per-order
      // HAVING aggregate partial-aggregates inside the column-pruned
      // SCAN stage, whose 128 MB splits hold ~17.6M two-column rows
      // each at the 100× rung (5.73 GB of sort-fallback spill, the
      // §21.5 shape with the fan coming from column pruning instead of
      // an explode) — maxPartitionBytes bounds rows-per-split; the
      // final join/sort stages were AQE-coalesced to ~35 partitions
      // (4.1 GB) — the finer advisory keeps their sorts in-memory.
      // Result is LIMIT 100, so the snapshot-under-confs is bounded.
      // Round 18: bind-floored on scanned lineitem bytes (the knobs
      // cost +31% at sf0.1 for a trade that binds at x100 — see
      // RelConfMinBytes); the snapshot itself stays unconditional so
      // the declared plan is a LocalRelation at every scale.
      withScaledConfs(s, dir, Seq(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
        "spark.sql.files.maxPartitionBytes" -> "32m")) {
        materialized(s, q18Sql(s, dir))
      }
    },
    // TPC-H Q21: the hardest decorrelation in the suite — EXISTS and
    // NOT EXISTS over the SAME table with a supplier INEQUALITY and an
    // outer-scope o_orderdate reference inside the anti branch.
    // Decorrelates to a semi join + an anti join, both hashed on
    // l_orderkey with the non-equi conditions riding along — never a
    // nested loop. numwait = orders where this supplier is the ONLY
    // late one among several.
    "q21_waiting_supplier" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      // SORT-PRESSURE conf, scoped (round 17 x100 adjudication): the
      // semi/anti SMJ stage was AQE-coalesced to 51 partitions —
      // ~3.6M rows per task across its sorts, 13.78 GB of spill in
      // that ONE stage. At the 16 MB advisory the same rung is
      // spill 0 AND faster (13.3 → 11.7 s warm) — the coalesce
      // advisory is a bytes-per-task knob, and sort-heavy stages want
      // it finer than scan-heavy ones. LIMIT 100 bounds the snapshot.
      // Round 18: bind-floored on scanned lineitem bytes (+54% at
      // sf0.1 otherwise — see RelConfMinBytes).
      withScaledConfs(s, dir, Seq(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")) {
        materialized(s, q21Sql(s, dir))
      }
    },
    // TPC-H Q22: scalar aggregate subquery in a predicate + anti join
    // — well-funded customers in selected nations with no recent
    // orders. The scalar avg becomes a 1-row broadcast; the NOT EXISTS
    // an anti join on o_custkey. The avg is rounded to cents on both
    // sides (FP summation order differs between engines; a raw avg in
    // a predicate is a portability bug).
    "q22_idle_balance" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT c_nationkey, count(*) AS numcust,
          |       round(sum(c_acctbal), 2) AS totacctbal
          |FROM customer
          |WHERE c_nationkey IN (3, 7, 11, 15, 19, 22, 24)
          |  AND c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer
          |                   WHERE c_acctbal > 0
          |                     AND c_nationkey IN (3, 7, 11, 15, 19, 22, 24))
          |  AND NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey
          |                    AND o_orderdate >= TIMESTAMP '2000-06-01')
          |GROUP BY c_nationkey
          |ORDER BY c_nationkey""".stripMargin)
    },
    // TPC-H Q7: volume shipping between two nations — the two-sided
    // nation-pair disjunction over a 5-table join, grouped by
    // (supplier nation, customer nation, year). Breadth row: plain
    // hash joins + aggregate; nation joined twice under aliases.
    "q7_volume" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT supp_nation, cust_nation, l_year,
          |       round(sum(volume), 2) AS revenue
          |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
          |             l_extendedprice * (1 - l_discount) AS volume
          |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
          |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
          |        AND c_custkey = o_custkey
          |        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
          |        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          |          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          |        AND l_shipdate >= TIMESTAMP '1996-01-01'
          |        AND l_shipdate < TIMESTAMP '1998-01-01') shipping
          |GROUP BY supp_nation, cust_nation, l_year
          |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
    },
    // TPC-H Q20: the hardest published decorrelation shape — a nested
    // correlated IN whose subquery contains a CORRELATED SCALAR
    // AGGREGATE over a second table (suppliers whose pre-1999 shipped
    // stock of matched parts exceeds twice their post-1999 demand; the
    // partsupp bridge is the per-(supplier, part) lineitem rollup
    // since the testdata has no partsupp — same nesting, same
    // decorrelation work). Historically this is the shape that
    // silently plans as a per-row nested loop when the decorrelator
    // gives up; Catalyst must produce semi joins + an aggregate-backed
    // outer join (RewriteCorrelatedScalarSubquery), and PlanSpec pins
    // the plan free of BroadcastNestedLoopJoin/CartesianProduct with
    // the expected LeftSemi. Quantities ride as exact cents; the
    // empty-group scalar stays NULL (TPC-H semantics — the comparison
    // excludes, identically in both engines: the classic COUNT-bug
    // surface).
    "q20_excess_stock" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(QUERY_Q20)
    },
    // TPC-H Q8: national market share — the 8-table join-reorder
    // stress (part, supplier, lineitem, orders, customer, nation ×2,
    // region). Output is the exact integer cents pair (nation volume,
    // total volume) per year; the ratio is presentation, the join
    // order is the query. PlanSpec pins: hash joins only.
    "q8_market_share" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(QUERY_Q8)
    },
    // TPC-H Q9: product-type profit by nation and year — 5-table join
    // with a LIKE-filtered part dimension and two-sided arithmetic in
    // the aggregate (supplycost surrogate: 60% of p_retailprice, in
    // exact cents).
    "q9_profit" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(QUERY_Q9)
    },
    // TPC-H Q12: shipmode/priority matrix — the late-shipment bucket
    // (no l_shipmode/l_receiptdate in the testdata: LATE = shipped
    // 60+ days after ordering) × order-priority class counts.
    "q12_late_lines" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(QUERY_Q12)
    },
    // TPC-H Q15: top supplier by quarterly revenue — the VIEW query: a
    // grouped derived table referenced twice (join back + scalar MAX
    // over it). Catalyst must not recompute the aggregate per outer
    // row; the scalar subquery is a 1-row broadcast. Exact cents, so
    // the max-equality join has no float tie ambiguity.
    "q15_top_supplier" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(QUERY_Q15)
    },
    // TPC-H Q10: returned-item top customers — revenue lost to
    // returns in one quarter, per customer with their nation.
    "q10_returns" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT c_custkey, c_name,
          |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
          |       c_acctbal, n_name
          |FROM customer, orders, lineitem, nation
          |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          |  AND o_orderdate >= TIMESTAMP '1996-10-01'
          |  AND o_orderdate < TIMESTAMP '1997-01-01'
          |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
          |GROUP BY c_custkey, c_name, c_acctbal, n_name
          |ORDER BY revenue DESC, c_custkey
          |LIMIT 20""".stripMargin)
    },
    // TPC-H Q14: promo revenue share — conditional aggregate ratio
    // over one month's part-joined lineitems.
    "q14_promo" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
          |                              THEN l_extendedprice * (1 - l_discount)
          |                              ELSE 0 END)
          |             / sum(l_extendedprice * (1 - l_discount)), 2) AS promo_revenue
          |FROM lineitem, part
          |WHERE l_partkey = p_partkey
          |  AND l_shipdate >= TIMESTAMP '1996-09-01'
          |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin)
    },
    // TPC-H Q2 shape: CORRELATED SCALAR aggregate subquery — rows
    // matching their group's min, correlation by equality on
    // l_partkey. RewriteCorrelatedScalarSubquery turns it into a
    // per-part min aggregate + equi-join; the double equality is exact
    // (both engines read identical parquet doubles, min is selection
    // not arithmetic).
    "q2_min_price" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT p_partkey, p_name, l_suppkey, l_extendedprice
          |FROM part, lineitem
          |WHERE p_partkey = l_partkey
          |  AND l_extendedprice = (SELECT min(l2.l_extendedprice)
          |                         FROM lineitem l2
          |                         WHERE l2.l_partkey = p_partkey)
          |ORDER BY p_partkey, l_suppkey
          |LIMIT 100""".stripMargin)
    },
    // TPC-H Q19: OR-of-ANDs across a join — the disjunction mixes
    // part-side and lineitem-side predicates, so a naive planner can
    // push NOTHING below the join and filters 6M rows post-join.
    // Catalyst extracts the per-side common disjunctions (l_quantity
    // range union, p_brand/p_size unions) below the join; PlanSpec
    // pins an Or() inside BOTH scans' pushed filters.
    "q19_disjunct" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
          |       AND l_quantity BETWEEN 10 AND 25)
          |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
          |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin)
    },
    // TPC-H Q11 shape: scalar aggregate subquery in HAVING — suppliers
    // holding more than 1.05% of total revenue. Exact INTEGER
    // arithmetic end to end (per-row cents quantization; threshold =
    // floor(total·105/10000), exactly equivalent to the cross-multiply
    // sum·10000 > total·105 for non-negative integer sums but with the
    // big multiply confined to the 1-row subquery — total·105 fits
    // BIGINT to ~sf800, where sum·10000 per supplier overflowed around
    // sf100 under ANSI), because a raw double sum comparison is
    // summation-order-dependent between engines. The scalar subquery
    // computes once and broadcasts as a literal; both aggregates
    // partial-aggregate.
    "q11_value_share" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """WITH r AS (
          |  SELECT l_suppkey,
          |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
          |           AS rev_c
          |  FROM lineitem)
          |SELECT l_suppkey, sum(rev_c) AS value_c
          |FROM r
          |GROUP BY l_suppkey
          |HAVING sum(rev_c) > (SELECT sum(rev_c) * 105 div 10000 FROM r)
          |ORDER BY value_c DESC, l_suppkey""".stripMargin)
    },
    // STREAMING windowed aggregation under the oracle gate: the events
    // table read as a stream, 1 h tumbling rollup, Complete-mode drain
    // (graft.streaming.StreamReplay.windowedReplay) — must equal the
    // batch ev_hourly rollup it shares an oracle with.
    "stream_hourly" -> { (s, dir) =>
      graft.streaming.StreamReplay.windowedReplay(s, dir)
        .orderBy("w_start", "event_type")
    },
    // The PRODUCTION ingest loop: the events stream drained through
    // foreachBatch, each micro-batch folding into the STANDING
    // parquet partial (StandingTable.updateAggPartial — read, monoid
    // merge, atomic swap), served from the on-disk table after the
    // stream stops. Batching-independent by the partial's monoid, so
    // the oracle is the one-shot daily rollup (== ev_ivm's).
    "stream_ivm" -> { (s, dir) =>
      graft.streaming.StreamReplay.ivmReplay(s, dir)
    },
    // SKETCH-IN-STATE: per-hour distinct users as HLL register arrays
    // held in mapGroupsWithState group state, folded by element-wise
    // max across micro-batches — fixed-size state per hour no matter
    // the event volume (StreamReplay.hllReplay). Oracle: the one-shot
    // per-hour sketch (max is batching-independent).
    "stream_hll" -> { (s, dir) =>
      graft.streaming.StreamReplay.hllReplay(s, dir)
    },
    // LATE / OUT-OF-ORDER data under the streaming gate: the same 1 h
    // rollup as stream_hourly, but Append-mode with a 1 h watermark
    // and the third time slice delivered LAST — after the fourth has
    // advanced the watermark past all of it, so every slice-2 row is
    // dropped by the watermark filter (StreamReplay.windowedLateReplay;
    // boundary semantics pinned by StreamingBoundarySpec). The oracle
    // models the drop + emit rule: rollup of on-time slices only,
    // restricted to windows strictly below the terminal watermark.
    "stream_hourly_late" -> { (s, dir) =>
      graft.streaming.StreamReplay.windowedLateReplay(s, dir)
        .orderBy("w_start", "event_type")
    },
    // LATE data through the stateful SESSIONIZATION family: same
    // out-of-order delivery as stream_hourly_late, driven through
    // flatMapGroupsWithState + event-time timeout — the late slice's
    // rows are dropped before they reach any group state, so sessions
    // form from the surviving events only (StreamReplay
    // .sessionLateReplay). Oracle: the stream_sessions rule over the
    // slice-filtered event set.
    "stream_sessions_late" -> { (s, dir) =>
      graft.streaming.StreamReplay.sessionLateReplay(s, dir)
        .orderBy("user_id", "start_ms")
    },
    // STREAM-STREAM interval join under the oracle gate: purchases
    // matched to the same user's clicks within the prior 30 min, both
    // sides watermarked streams over time-ordered micro-batches
    // (StreamReplay.intervalJoinReplay) — inner-join emission is
    // watermark-independent, so the drained result equals the plain
    // batch join the oracle runs.
    "stream_interval_join" -> { (s, dir) =>
      graft.streaming.StreamReplay.intervalJoinReplay(s, dir)
        .orderBy("purchase_id", "click_id")
    },
    // STREAMING sessionization under the oracle gate:
    // flatMapGroupsWithState + event-time timeout over time-ordered
    // micro-batches (StreamReplay.sessionReplay). The oracle is the
    // batch gap-split session table minus each user's final session
    // when the terminal watermark (max event time − 1 h) has not
    // strictly passed its end + gap — exactly the Append-mode
    // emission rule (close-by-successor OR close-by-timeout).
    "stream_sessions" -> { (s, dir) =>
      graft.streaming.StreamReplay.sessionReplay(s, dir)
        .orderBy("user_id", "start_ms")
    },
    // LATE data through the STREAM-STREAM join — the third event-time
    // stateful family under disorder: both sides watermarked, the
    // late slice dropped by BOTH input filters (per-kind lateness
    // theorem — the join watermark is the min across sides), emission
    // = the batch join over the surviving slices.
    "stream_interval_join_late" -> { (s, dir) =>
      graft.streaming.StreamReplay.intervalJoinLateReplay(s, dir)
        .orderBy("purchase_id", "click_id")
    },
    // LEFT OUTER stream-stream join: null-click rows emit on state
    // EVICTION (the engine can't prove "no match is coming" any
    // earlier), so the replay appends a per-side watermark-flush
    // sentinel bucket that evicts every real purchase before the
    // drain ends — drained = the batch LEFT JOIN. Spark's default
    // ORDER BY is nulls-first; the oracle says NULLS FIRST to match.
    "stream_interval_join_outer" -> { (s, dir) =>
      graft.streaming.StreamReplay.intervalJoinOuterReplay(s, dir)
        .orderBy("purchase_id", "click_id")
    },
    // FULL OUTER stream-stream join: both sides' unmatched verdicts
    // under the same eviction-is-emission rule; the sentinel bucket
    // flushes both directions. ORDER BY user_id first (never null on
    // either row shape) keeps the sort total with nulls on both keys.
    "stream_interval_join_full" -> { (s, dir) =>
      graft.streaming.StreamReplay.intervalJoinFullReplay(s, dir)
        .orderBy("user_id", "purchase_id", "click_id")
    },
    // STREAM-STATIC enrichment join under the oracle gate: the
    // purchase stream hash-joined per micro-batch against the static
    // customer dimension (broadcast — stateless, no watermark), then
    // rolled up by market segment in Complete mode (the stateful
    // cross-batch accumulation). Oracle: the plain batch join+rollup.
    "stream_static_join" -> { (s, dir) =>
      graft.streaming.StreamReplay.staticJoinReplay(s, dir)
        .orderBy("c_mktsegment")
    },
    // Bucketed CO-LOCATED join: lineitem ⋈ orders on orderkey with
    // both sides stored bucketBy(orderkey) + sortBy — the persisted
    // layout that removes both join-side shuffles AND sorts (build
    // once at ingest, serve every join at read cost). hint("merge")
    // keeps the gated plan the production SMJ plan; BucketingSpec pins
    // zero join-side exchanges. Oracle: the plain parquet join.
    "rel_bucket_join" -> { (s, dir) =>
      graft.operators.BucketedTables.colocatedJoin(s, dir)
    },
    // MERGE × BUCKETED base (the other MergeInto layout lever, twin of
    // rel_merge_pruned): the base side of the full-outer merge join
    // reads the bucketBy(orderkey) layout and is NEVER shuffled — only
    // the change batch repartitions to match (BucketingSpec pins the
    // one-sided exchange). Oracle: the same merge over the plain view.
    "rel_merge_bucketed" -> { (s, dir) =>
      graft.operators.BucketedTables.mergeBucketed(s, dir)
    },
    // RUNTIME bloom-filter join (InjectRuntimeFilter): a selective dim
    // filter (urgent orders) is turned into a bloom filter of the
    // surviving join keys and applied might_contain() on the FACT side
    // BEFORE its shuffle — the scan-reduction lever that drops most
    // fact rows at the map stage instead of shuffling them to die in
    // the join. Size gates are production-tuned (10 GB), so at gate
    // scale the confs are scoped to this query and the plan is
    // REQUIREd to carry BloomFilterMightContain before the (bounded,
    // ≤ #priorities rows) result is materialized under them — the
    // driver's hash gate then proves the lever is answer-preserving.
    // AqeSpec holds the plan-shape pin.
    "rel_bloom_join" -> { (s, dir) =>
      withScopedConfs(s, Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
        val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
        val urgent = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_orderpriority")
        val joined = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_quantity").cast("long")).as("qty"))
          .orderBy("o_orderpriority")
        require(joined.queryExecution.optimizedPlan.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]))),
          "runtime bloom filter did not inject — the gated lever is not firing")
        materialized(s, joined)
      }
    },
    // STATIC partition pruning over a date-partitioned fact layout:
    // events written partitionBy(event_date) once (build, with the
    // repartition(d) small-files fix), then a one-day rollup whose
    // literal day predicate prunes the scan to a single directory at
    // planning time (PlanSpec pins PartitionFilters + files read).
    "ev_day_prune" -> { (s, dir) =>
      graft.operators.PartitionedTables.dayRollup(s, dir)
    },
    // DYNAMIC partition pruning: the qualifying days exist only after
    // RUNNING the dim query (days with even total cents — a predicate
    // on a non-join column), so the fact scan carries a
    // DynamicPruningExpression that waits for the dim result before
    // listing directories (REQUIREd in-plan; PlanSpec pins it). The
    // third pruning flavor next to ev_day_prune's literal and
    // rel_merge_pruned's collected touched-set.
    "ev_dpp" -> { (s, dir) =>
      graft.operators.PartitionedTables.dppRollup(s, dir)
    },
    // MERGE × partition pruning (the lakehouse MERGE cost model): a
    // 2-day CDC batch applied to the date-partitioned layout, the base
    // scan pruned to the TOUCHED directories by the batch's own
    // partition values (2 of 30 dirs; PlanSpec pins it). Output = the
    // post-merge rollup of the touched slice — what a real MERGE
    // rewrites. Oracle: the same merge spelled out over the full view.
    "rel_merge_pruned" -> { (s, dir) =>
      graft.operators.PartitionedTables.mergePruned(s, dir)
    },
    // File-level MIN/MAX data skipping (zone map): events stored
    // range-sorted on user_id with a file manifest; a point-user
    // rollup prunes the manifest first and reads 1-2 of 16 files —
    // the no-partition-column scan lever for high-cardinality keys
    // (BucketingSpec pins the pruned file count). Key = min user + 42
    // so the oracle models it in SQL.
    "ev_skipping" -> { (s, dir) =>
      graft.operators.SkippingIndex.gatedUserRollup(s, dir)
    },
    // Z-ORDER (Morton) layout: events clustered by interleaved
    // (user_id, day) bits so per-file min/max stay tight on BOTH
    // columns; the gated 3-day window reads only the files whose DAY
    // zone overlaps — the probe a user-range sort cannot skip one
    // file for (BucketingSpec pins both-dimension pruning).
    "ev_zorder" -> { (s, dir) =>
      graft.operators.ZOrderIndex.gatedDayWindowRollup(s, dir)
    },
    // Semi-structured plane: the JSON props column parsed with an
    // EXPLICIT schema (from_json — one codegen'd parse per row,
    // vs get_json_object's per-field re-parse) and rolled up on the
    // extracted field. At 100 TB hot JSON fields get promoted to
    // real columns at ingest; until then this is the scan shape:
    // parse once, project the needed field, aggregate integer-exact.
    "ev_json" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("from_json(props, 'k BIGINT').k").as("k"))
        .groupBy("event_type")
        .agg(count("k").as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          expr("sum(k) div count(k)").as("avg_k"))
        .orderBy("event_type")
    },
    // CUBE rollup over (event_type, user bucket) — grouping sets.
    "ev_cube" -> { (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), (col("user_id") % 10).as("bucket"), col("value"))
        .cube(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("bucket").cast("string"), lit("ALL")).as("bucket"),
          col("n"), col("total"))
        .orderBy("event_type", "bucket")
    },
    // The QUANTILE partial of the maintenance trio: per-type cent
    // histograms built on two overlapping slices, vector-added, and
    // served as p50/p90/p99 bin lower edges — fixed 256 rows per
    // group however large history grows (operators.HistogramSketch).
    "ev_hist_quantiles" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val c = ev.select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"), col("event_id"))
      val (lo, hi) = graft.operators.HistogramSketch.centsRange(c)
      val a = graft.operators.HistogramSketch.partial(
        c.filter(col("event_id") % 10 < 8), "event_type", lo, hi)
      val b = graft.operators.HistogramSketch.partial(
        c.filter(col("event_id") % 10 >= 8), "event_type", lo, hi)
      graft.operators.HistogramSketch.quantiles(
          graft.operators.HistogramSketch.merge("event_type", Seq(a, b)),
          "event_type", lo, hi)
        .orderBy("event_type")
    },
    // The histogram's error audit: served quantile vs the exact CDF
    // pick, in cents — deterministically bounded by one bin width
    // (the served edge can only sit BELOW the exact quantile, inside
    // its bin; MergeIvmHllSpec pins the bound).
    "ev_hist_err" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val c = ev.select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      val (lo, hi) = graft.operators.HistogramSketch.centsRange(c)
      val approx = graft.operators.HistogramSketch.quantiles(
        graft.operators.HistogramSketch.partial(c, "event_type", lo, hi),
        "event_type", lo, hi)
      val wc = Window.partitionBy("event_type").orderBy("cents")
      val cdf = c
        .withColumn("cum", count(lit(1)).over(wc))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      val exs = Seq(50, 90, 99).map(q =>
        min(when(col("cum") * 100 >= col("n") * q, col("cents"))).as(s"e$q"))
      val exact = cdf.groupBy("event_type").agg(exs.head, exs.tail: _*)
      approx.join(exact, Seq("event_type"))
        .select(col("event_type"),
          (col("e50") - col("p50")).as("d50"),
          (col("e90") - col("p90")).as("d90"),
          (col("e99") - col("p99")).as("d99"))
        .orderBy("event_type")
    },
    // CDC MERGE (the lakehouse MERGE INTO): a synthetic change batch
    // (upserts with bumped totals where orderkey%3=0, deletes where
    // %9=0) applied to a base slice (orderkey%4<>0) of orders in one
    // full-outer join keyed on orderkey — inserts, updates and
    // deletes all land in a single shuffle (operators.MergeInto).
    "rel_merge" -> { (s, dir) =>
      val cents = floor(col("o_totalprice") * 100).cast("long")
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), cents.as("cents"))
      val base = ord.filter(col("o_orderkey") % 4 =!= 0)
      val changes = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (floor(col("o_totalprice") * 100).cast("long") + 100000L).as("cents"),
          when(col("o_orderkey") % 9 === 0, "D").otherwise("U").as("op"))
      graft.operators.MergeInto.merge(base, changes, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
    // Incremental view maintenance: the daily rollup served as
    // merge(partial(base), partial(delta)) with OVERLAPPING groups
    // (event_id%10 split, every (day,type) straddles the split) —
    // merged == full recompute is the whole point; avg derived at
    // finalize, never stored (operators.IncrementalAgg).
    "ev_ivm" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val base = graft.operators.IncrementalAgg.partial(ev.filter(col("event_id") % 10 < 8))
      val delta = graft.operators.IncrementalAgg.partial(ev.filter(col("event_id") % 10 >= 8))
      graft.operators.IncrementalAgg.finalizeView(
          graft.operators.IncrementalAgg.merge(Seq(base, delta)))
        .orderBy("day", "event_type")
    },
    // HyperLogLog distinct users per event type: 256 exact-integer
    // md5 registers per group (one partial-aggregating shuffle,
    // mergeable by element-wise max) + the bias-corrected estimate
    // (operators.HllSketch). The count-distinct that ships one fixed-
    // size sketch instead of every distinct key.
    "ev_hll" -> { (s, dir) =>
      graft.operators.HllSketch.estimate(
          graft.operators.HllSketch.registers(
            Tables.events(s, dir), "event_type", "user_id"),
          "event_type")
        .orderBy("event_type")
    },
    // The HLL error audit: estimate vs exact distinct in integer
    // basis points — the measurement that sizes p (same pattern as
    // dedup_minhash_err / sim_pq_err).
    "ev_hll_err" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val est = graft.operators.HllSketch.estimate(
        graft.operators.HllSketch.registers(ev, "event_type", "user_id"), "event_type")
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      est.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_est"), col("n_exact"),
          expr("abs(n_est - n_exact) * 10000 div n_exact").as("err_bp"))
        .orderBy("event_type")
    },
    // The IVM × HLL composition: per-day DISTINCT users maintained
    // incrementally — the non-distributive measure exact IVM can't
    // carry. Each slice sketches its own registers; the standing
    // partial folds them by element-wise max (the register monoid),
    // and the served estimate reads the merged 256-row-per-day table.
    // At 100 TB: daily distincts over a year never rescan history —
    // each day's delta ships 256 longs per group.
    "ev_ivm_distinct" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val keyed = ev.select(to_date(Tables.eventTime(ev)).as("day"),
        col("user_id"), col("event_id"))
      val a = graft.operators.HllSketch.registers(
        keyed.filter(col("event_id") % 10 < 8), "day", "user_id")
      val b = graft.operators.HllSketch.registers(
        keyed.filter(col("event_id") % 10 >= 8), "day", "user_id")
      val merged = a.unionByName(b).groupBy("day", "bucket").agg(max("reg").as("reg"))
      graft.operators.HllSketch.estimate(merged, "day").orderBy("day")
    },
  )

  /** Q20/Q8/Q9/Q12 as single SQL texts shared verbatim by the Spark
    * side (spark.sql over registered views) and the DuckDB oracle —
    * identical by construction, so the gate tests the ENGINES, not
    * two transcriptions. Portability: EXTRACT(YEAR), INTERVAL n DAY,
    * TIMESTAMP literals, round, CAST(... AS BIGINT/INTEGER) behave
    * identically; every aggregate is exact integer cents. */
  private val QUERY_Q20 =
    """SELECT s_suppkey, s_name
      |FROM supplier, nation
      |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_7'
      |  AND s_suppkey IN (
      |    SELECT ps_suppkey FROM (
      |      SELECT l_suppkey AS ps_suppkey, l_partkey AS ps_partkey,
      |             CAST(round(sum(l_quantity) * 100) AS BIGINT) AS avail_c
      |      FROM lineitem
      |      WHERE l_shipdate < TIMESTAMP '1999-01-01'
      |      GROUP BY l_suppkey, l_partkey) ps
      |    WHERE ps_partkey IN (SELECT p_partkey FROM part
      |                         WHERE p_name LIKE 'small%')
      |      AND avail_c > 2 * (SELECT CAST(round(sum(l2.l_quantity) * 100) AS BIGINT)
      |                         FROM lineitem l2
      |                         WHERE l2.l_partkey = ps_partkey
      |                           AND l2.l_suppkey = ps_suppkey
      |                           AND l2.l_shipdate >= TIMESTAMP '1999-01-01'))
      |ORDER BY s_suppkey""".stripMargin

  private val QUERY_Q8 =
    """SELECT o_year,
      |       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol_c ELSE 0 END)
      |            AS BIGINT) AS nation_c,
      |       CAST(sum(vol_c) AS BIGINT) AS total_c
      |FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
      |             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS vol_c,
      |             n2.n_name AS supp_nation
      |      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |        AND r_name = 'AMERICA'
      |        AND s_nationkey = n2.n_nationkey
      |        AND o_orderdate >= TIMESTAMP '1996-01-01'
      |        AND o_orderdate < TIMESTAMP '1998-01-01'
      |        AND p_type = 'ECONOMY') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  private val QUERY_Q9 =
    """SELECT nation, o_year, CAST(sum(rev_c - cost_c * qty) AS BIGINT) AS profit_c
      |FROM (SELECT n_name AS nation,
      |             CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
      |             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS rev_c,
      |             CAST(round(p_retailprice * 60) AS BIGINT) AS cost_c,
      |             CAST(round(l_quantity) AS BIGINT) AS qty
      |      FROM part, supplier, lineitem, orders, nation
      |      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |        AND p_name LIKE '%bolt%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  private val QUERY_Q12 =
    """SELECT l_bucket,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM (SELECT o_orderpriority,
      |             CASE WHEN l_shipdate >= o_orderdate + INTERVAL 60 DAY
      |                  THEN 'LATE' ELSE 'ONTIME' END AS l_bucket
      |      FROM orders, lineitem
      |      WHERE o_orderkey = l_orderkey
      |        AND l_shipdate >= TIMESTAMP '1996-01-01'
      |        AND l_shipdate < TIMESTAMP '1997-01-01') t
      |GROUP BY l_bucket
      |ORDER BY l_bucket""".stripMargin

  private val QUERY_Q15 =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |                       AS BIGINT)) AS BIGINT) AS total_revenue_c
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue_c
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue_c = (SELECT max(total_revenue_c) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** 48-bit value of the first 12 hex chars of `hexCol` — exact in
    * BIGINT, identical to Spark's conv(substring(hexCol,1,12),16,10)
    * (the PipelineQueries nibble-sum idiom; DuckDB has no conv). */
  private def hex48Sql(hexCol: String): String =
    (0 until 12)
      .map(i => s"(strpos('0123456789abcdef', substring($hexCol, ${i + 1}, 1)) - 1)"
        + s" * ${1L << (4 * (11 - i))}")
      .mkString("(", " + ", ")")

  /** DuckDB mirror of [[graft.operators.HllSketch]]: same 48-bit md5
    * hash, same top-8-bit bucket / 40-bit rank split, same dense
    * zero-filled 256-register grid, same exact-integer (v_zero,
    * s_scaled) aggregate. Ends in an `agg(<grpName>, v_zero,
    * s_scaled)` CTE; `grpExpr` is the group expression over events
    * (the registers are group-invariant, so the same CTE chain serves
    * any grouping). */
  private def hllCtes(grpExpr: String, grpName: String): String =
    s"""WITH hx AS (SELECT $grpExpr AS $grpName, md5(CAST(user_id AS VARCHAR)) AS hex FROM events),
       |h AS (SELECT $grpName, ${hex48Sql("hex")} AS h FROM hx),
       |b AS (SELECT $grpName, h // ${1L << 40} AS bucket,
       |             41 - length(ltrim(bin(CAST(h % ${1L << 40} AS BIGINT)), '0')) AS rank
       |      FROM h),
       |rk AS (SELECT $grpName, bucket, max(rank) AS reg FROM b GROUP BY $grpName, bucket),
       |grid AS (SELECT t.$grpName, g.range AS bucket
       |         FROM (SELECT DISTINCT $grpName FROM hx) t CROSS JOIN range(256) g),
       |regs AS (SELECT grid.$grpName, grid.bucket, coalesce(rk.reg, 0) AS reg
       |         FROM grid LEFT JOIN rk ON grid.$grpName = rk.$grpName AND grid.bucket = rk.bucket),
       |agg AS (SELECT $grpName,
       |               CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero,
       |               CAST(sum(CAST(1 AS BIGINT) << CAST(50 - reg AS INTEGER)) AS BIGINT) AS s_scaled
       |        FROM regs GROUP BY $grpName)""".stripMargin

  private val HLL_CTES = hllCtes("event_type", "event_type")

  /** DuckDB mirror of [[graft.operators.HistogramSketch]]: same
    * data-driven cent range, same integer bin rule, same cumulative
    * pick; ends in a `cum(event_type, bin, n, edge, cum, total)` CTE
    * (and exposes `c(event_type, cents)` for the exact-CDF audit). */
  private val HIST_CTES =
    s"""WITH c AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
       |r AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c),
       |b AS (SELECT event_type,
       |             greatest(0, least(${graft.operators.HistogramSketch.Bins - 1},
       |               (cents - r.lo) * ${graft.operators.HistogramSketch.Bins}
       |               // (r.hi - r.lo + 1))) AS bin
       |      FROM c, r),
       |h AS (SELECT event_type, bin, count(*) AS n FROM b GROUP BY event_type, bin),
       |e AS (SELECT h.event_type, h.bin, h.n,
       |             r.lo + (h.bin * (r.hi - r.lo + 1)) // ${graft.operators.HistogramSketch.Bins} AS edge
       |      FROM h, r),
       |cum AS (SELECT event_type, bin, n, edge,
       |               sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
       |               sum(n) OVER (PARTITION BY event_type) AS total
       |        FROM e)""".stripMargin

  /** The estimate over an `agg` row — the HllSketch double arithmetic
    * in the same association order, round(.,6) before the floor to
    * absorb libm ln() last-ulp differences. */
  private val HLL_EST_SQL =
    """CAST(floor(round(CASE WHEN 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 1125899906842624.0 / s_scaled <= 640.0
      |                       AND v_zero > 0
      |                  THEN 256.0 * ln(256.0 / v_zero)
      |                  ELSE 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 1125899906842624.0 / s_scaled END, 6)) AS BIGINT)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q20_excess_stock" -> QUERY_Q20,
    "q8_market_share" -> QUERY_Q8,
    "q9_profit" -> QUERY_Q9,
    "q12_late_lines" -> QUERY_Q12,
    "q15_top_supplier" -> QUERY_Q15,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |       round(avg(l_quantity), 2) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q6_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q3_join" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_join" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "part_revenue" ->
      """SELECT p_brand,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       count(*) AS n_items
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |      FROM customer c LEFT OUTER JOIN orders o
        |        ON c.c_custkey = o.o_custkey
        |       AND o.o_orderpriority NOT LIKE '%LOW%'
        |      GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q17_avg_qty" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#1'
        |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                      FROM lineitem l2
        |                      WHERE l2.l_partkey = p.p_partkey)""".stripMargin,
    // The correlated-subquery shapes run the SAME SQL text both sides
    // (the Spark side goes through spark.sql over the registered
    // views).
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 100 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 36)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q18_big_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey
        |                     HAVING sum(l_quantity) > 300)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 1200 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 1200 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,
    "q7_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        |       round(sum(volume), 2) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
        |             l_extendedprice * (1 - l_discount) AS volume
        |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey
        |        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        |        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |        AND l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1998-01-01') shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q10_returns" ->
      """SELECT c_custkey, c_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q14_promo" ->
      """SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
        |                              THEN l_extendedprice * (1 - l_discount)
        |                              ELSE 0 END)
        |             / sum(l_extendedprice * (1 - l_discount)), 2) AS promo_revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    "q2_min_price" ->
      """SELECT p_partkey, p_name, l_suppkey, l_extendedprice
        |FROM part, lineitem
        |WHERE p_partkey = l_partkey
        |  AND l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                         FROM lineitem l2
        |                         WHERE l2.l_partkey = p_partkey)
        |ORDER BY p_partkey, l_suppkey
        |LIMIT 100""".stripMargin,
    "q19_disjunct" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,
    "q11_value_share" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           AS rev_c
        |  FROM lineitem)
        |SELECT l_suppkey, CAST(sum(rev_c) AS BIGINT) AS value_c
        |FROM r
        |GROUP BY l_suppkey
        |HAVING sum(rev_c) > (SELECT sum(rev_c) * 105 // 10000 FROM r)
        |ORDER BY value_c DESC, l_suppkey""".stripMargin,
    "q22_idle_balance" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |       round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer
        |WHERE c_nationkey IN (3, 7, 11, 15, 19, 22, 24)
        |  AND c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer
        |                   WHERE c_acctbal > 0
        |                     AND c_nationkey IN (3, 7, 11, 15, 19, 22, 24))
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "ev_percentiles" ->
      """WITH h AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |                  count(*) AS cnt
        |           FROM events GROUP BY event_type, cents),
        |c AS (SELECT event_type, cents, cnt,
        |             sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
        |             sum(cnt) OVER (PARTITION BY event_type) AS n
        |      FROM h)
        |SELECT event_type,
        |       round(CAST(min(CASE WHEN cum * 100 >= n * 50 THEN cents END) AS DOUBLE) / 100, 2) AS p50,
        |       round(CAST(min(CASE WHEN cum * 100 >= n * 90 THEN cents END) AS DOUBLE) / 100, 2) AS p90,
        |       round(CAST(min(CASE WHEN cum * 100 >= n * 99 THEN cents END) AS DOUBLE) / 100, 2) AS p99
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ev_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |       count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,
    "ev_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn FROM events),
        |m AS (SELECT user_id, tsn,
        |             CASE WHEN lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn) IS NULL
        |                    OR tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn) > 1800000000000
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM e)
        |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the built-in operator shares the lag-split rule (non-strict gap
    // merge), so its oracle is the gap-split session table
    "ev_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
        |m AS (SELECT user_id, tsu,
        |             CASE WHEN lag(tsu) OVER w IS NULL
        |                    OR tsu - lag(tsu) OVER w > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu)),
        |s AS (SELECT user_id, tsu,
        |             sum(new_s) OVER (PARTITION BY user_id ORDER BY tsu) AS sid
        |      FROM m)
        |SELECT user_id, min(tsu) AS s_start, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,
    "ev_session_stats" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
        |m AS (SELECT user_id, tsu,
        |             CASE WHEN lag(tsu) OVER w IS NULL
        |                    OR tsu - lag(tsu) OVER w > 1800000000
        |                  THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu)),
        |s AS (SELECT user_id, tsu,
        |             sum(new_s) OVER (PARTITION BY user_id ORDER BY tsu
        |                              ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       count(*) AS n_events,
        |       CAST((max(tsu) - min(tsu)) // 1000000 AS BIGINT) AS dur_s
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "ev_bursts" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events)
        |SELECT a.user_id AS user_id, count(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(b.tsu - a.tsu) <= 300000000
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,
    "ev_top_spenders" ->
      """WITH spend AS (
        |  SELECT user_id, round(sum(value), 2) AS spend, count(*) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id, spend, n_purchases,
        |       CAST(row_number() OVER (ORDER BY spend DESC, user_id) AS INTEGER) AS rank
        |FROM spend
        |QUALIFY rank <= 20
        |ORDER BY rank""".stripMargin,
    "ev_semi_anti" ->
      """SELECT DISTINCT user_id FROM events e
        |WHERE event_type = 'purchase'
        |  AND NOT EXISTS (SELECT 1 FROM events x
        |                  WHERE x.user_id = e.user_id
        |                    AND x.event_type = 'error' AND x.value > 190)
        |  AND EXISTS (SELECT 1 FROM events p
        |              WHERE p.user_id = e.user_id AND p.event_type = 'purchase')
        |ORDER BY user_id""".stripMargin,
    "ev_attribution" ->
      """SELECT event_id, user_id, last_signup FROM (
        |  SELECT event_id, user_id, event_type,
        |         max(CASE WHEN event_type = 'signup' THEN event_id END)
        |           OVER (PARTITION BY user_id ORDER BY event_id
        |                 ROWS UNBOUNDED PRECEDING) AS last_signup
        |  FROM events)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    // DuckDB's native ASOF JOIN over the same deduped right side —
    // equality on sub-ms never matters because o_orderdate carries ms
    // precision, so Spark's micros truncation of ts can't cross it.
    "ev_asof" ->
      """WITH ord AS (
        |  SELECT o_custkey AS user_id, o_orderdate,
        |         max(o_orderkey) AS o_orderkey,
        |         arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id,
        |       o.o_orderkey AS asof_o_orderkey,
        |       o.o_totalprice AS asof_o_totalprice
        |FROM events e ASOF LEFT JOIN ord o
        |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "ev_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type,
        |       count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,
    // the streamed inner interval join equals the batch join exactly
    "stream_interval_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |       p.user_id AS user_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    // the flushed left-outer drain must equal the batch LEFT JOIN
    // (sides pre-filtered — type predicates in a LEFT JOIN's ON would
    // keep every non-purchase row); NULLS FIRST = Spark's asc default
    "stream_interval_join_outer" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |       p.user_id AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin,
    // the flushed full-outer drain must equal the batch FULL JOIN;
    // user_id coalesces across sides so it is never null
    "stream_interval_join_full" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |       coalesce(p.user_id, c.user_id) AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY user_id, purchase_id NULLS FIRST, click_id NULLS FIRST""".stripMargin,
    // the batch join restricted to the on-time slices on both sides
    // (slice arithmetic over the click+purchase-filtered event set —
    // the range the replay buckets over)
    "stream_interval_join_late" ->
      """WITH e0 AS (SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS tsu
        |            FROM events WHERE event_type IN ('click', 'purchase')),
        |b AS (SELECT min(tsu) AS lo, max(tsu) AS hi FROM e0),
        |e AS (SELECT e0.* FROM e0, b
        |      WHERE (e0.tsu - b.lo) // ((b.hi - b.lo) // 4 + 1) <> 2)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |       p.user_id AS user_id
        |FROM e p JOIN e c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    // batch gap-split sessions (ms plane, matching Timestamp.getTime
    // truncation) minus still-open trailing sessions under the
    // terminal watermark — the Append-mode emission rule; boundary is
    // strict < (no end+gap == wm ties exist at any test sf, verified)
    "stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
        |m AS (SELECT user_id, tms,
        |         CASE WHEN lag(tms) OVER w IS NULL
        |                OR tms - lag(tms) OVER w > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
        |s AS (SELECT user_id, tms,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY tms
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m),
        |g AS (SELECT user_id, sid, min(tms) AS start_ms, max(tms) AS end_ms,
        |             count(*) AS n_events
        |      FROM s GROUP BY user_id, sid),
        |mx AS (SELECT user_id, max(sid) AS last_sid FROM s GROUP BY user_id),
        |wm AS (SELECT max(tms) - 3600000 AS w FROM e)
        |SELECT g.user_id, CAST(g.start_ms AS BIGINT) AS start_ms,
        |       CAST(g.end_ms AS BIGINT) AS end_ms,
        |       CAST(g.n_events AS BIGINT) AS n_events
        |FROM g JOIN mx ON g.user_id = mx.user_id, wm
        |WHERE g.sid < mx.last_sid OR g.end_ms + 1800000 < wm.w
        |ORDER BY g.user_id, g.start_ms""".stripMargin,
    // the sessions emission rule over the ON-TIME event set (slice 2
    // dropped by the watermark before reaching group state — same
    // slice arithmetic as stream_hourly_late); the watermark itself
    // comes from ALL events (dropped rows still pass the watermark
    // collector). Session plane is ms (Timestamp.getTime), slice
    // plane is µs — both integer.
    "stream_sessions_late" ->
      """WITH e0 AS (SELECT user_id, epoch_ms(ts) AS tms, epoch_us(ts) AS tsu
        |            FROM events),
        |b AS (SELECT min(tsu) AS lo, max(tsu) AS hi FROM e0),
        |e AS (SELECT user_id, tms FROM e0, b
        |      WHERE (tsu - b.lo) // ((b.hi - b.lo) // 4 + 1) <> 2),
        |m AS (SELECT user_id, tms,
        |         CASE WHEN lag(tms) OVER w IS NULL
        |                OR tms - lag(tms) OVER w > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tms)),
        |s AS (SELECT user_id, tms,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY tms
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m),
        |g AS (SELECT user_id, sid, min(tms) AS start_ms, max(tms) AS end_ms,
        |             count(*) AS n_events
        |      FROM s GROUP BY user_id, sid),
        |mx AS (SELECT user_id, max(sid) AS last_sid FROM s GROUP BY user_id),
        |wm AS (SELECT max(tms) - 3600000 AS w FROM e0)
        |SELECT g.user_id, CAST(g.start_ms AS BIGINT) AS start_ms,
        |       CAST(g.end_ms AS BIGINT) AS end_ms,
        |       CAST(g.n_events AS BIGINT) AS n_events
        |FROM g JOIN mx ON g.user_id = mx.user_id, wm
        |WHERE g.sid < mx.last_sid OR g.end_ms + 1800000 < wm.w
        |ORDER BY g.user_id, g.start_ms""".stripMargin,
    // the watermark drop/emit rule modeled in SQL (keep in sync with
    // StreamReplay.windowedLateReplay): slice index = (tsu - lo) //
    // ((hi - lo) // 4 + 1) exactly as the Scala bucket column; slice 2
    // arrives after the watermark passed it -> dropped (strict
    // ts < wm, vacuous margin); emitted windows are those at or below
    // the terminal watermark hi_ms - 1 h (NON-strict end <= wm, the
    // boundary StreamingBoundarySpec pins empirically). Integer µs/ms
    // arithmetic throughout — no float boundary ambiguity.
    "stream_hourly_late" ->
      """WITH e AS (SELECT epoch_us(ts) AS tsu, ts, event_type, value FROM events),
        |b AS (SELECT min(tsu) AS lo, max(tsu) AS hi FROM e),
        |ontime AS (SELECT e.* FROM e, b
        |           WHERE (e.tsu - b.lo) // ((b.hi - b.lo) // 4 + 1) <> 2),
        |agg AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
        |               event_type, count(*) AS n, round(sum(value), 2) AS total
        |        FROM ontime GROUP BY w_start, event_type)
        |SELECT a.w_start, a.event_type, a.n, a.total
        |FROM agg a, b
        |WHERE epoch_ms(a.w_start) + 3600000 <= b.hi // 1000 - 3600000
        |ORDER BY a.w_start, a.event_type""".stripMargin,
    // stateless broadcast join + Complete-mode rollup == the batch
    // join+rollup, arrival-order independent; integer-cents exact.
    // Outer CAST: DuckDB's sum(BIGINT) returns HUGEINT, which the
    // driver's arrow/pandas read renders as decimal128/float64 — the
    // round-10 hash_match=false root cause (judge fetchall() saw ints
    // and passed). Every integer-sum oracle must cast its OUTPUT back
    // to BIGINT so both readers see int64.
    "stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'purchase'
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // the bucketed co-located join must equal the plain parquet join
    "rel_bucket_join" ->
      """SELECT o_orderpriority, l_linestatus, count(*) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority, l_linestatus
        |ORDER BY o_orderpriority, l_linestatus""".stripMargin,
    // the bucketed-base MERGE must equal the merge spelled out over
    // the plain view: U rows win, D rows vanish, priority rollup
    "rel_merge_bucketed" ->
      """WITH base AS (SELECT o_orderkey, o_orderpriority,
        |                     CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |              FROM orders),
        |changes AS (SELECT o_orderkey, o_orderpriority,
        |                   CAST(floor(o_totalprice * 100) AS BIGINT) + 100000 AS cents,
        |                   CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op
        |            FROM orders WHERE o_orderkey % 3 = 0),
        |merged AS (SELECT CASE WHEN c.op = 'U' THEN c.o_orderpriority
        |                       ELSE b.o_orderpriority END AS o_orderpriority,
        |                  CASE WHEN c.op = 'U' THEN c.cents ELSE b.cents END AS cents
        |           FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
        |           WHERE c.op IS NULL OR c.op = 'U')
        |SELECT o_orderpriority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM merged GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // the bloom-filtered join is a pure pruning aid — must equal the
    // plain selective join
    "rel_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // the zone-map-pruned rollup must equal the full-scan user filter
    "ev_skipping" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE user_id = (SELECT min(user_id) + 42 FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "ev_json" ->
      """SELECT event_type, count(k) AS n,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k, max(k) AS max_k,
        |       CAST(sum(k) AS BIGINT) // count(k) AS avg_k
        |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the z-pruned window rollup must equal the full-scan day-window
    // filter; day arithmetic in days-since-epoch integers both sides
    "ev_zorder" ->
      """WITH d AS (SELECT date_diff('day', DATE '1970-01-01',
        |                            CAST(date_trunc('day', min(ts)) AS DATE)) AS d0
        |           FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events, d
        |WHERE date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE))
        |      BETWEEN d.d0 + 10 AND d.d0 + 12
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the pruned one-day rollup must equal the full-scan day filter
    "ev_day_prune" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE CAST(ts AS DATE) = (SELECT CAST(min(ts) AS DATE) + 3 FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the runtime-pruned join must equal the plain dim join: days
    // whose integer cent total is even, joined back to the facts
    "ev_dpp" ->
      """WITH ev AS (SELECT event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS cents,
        |                   CAST(ts AS DATE) AS d
        |            FROM events),
        |sel AS (SELECT d FROM (SELECT d, CAST(sum(cents) AS BIGINT) AS tot
        |                       FROM ev GROUP BY d)
        |        WHERE tot % 2 = 0)
        |SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM ev JOIN sel USING (d)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the partition-pruned MERGE must equal the same merge spelled out
    // over the full view: U rows win, D rows vanish, rollup the
    // touched 2-day slice
    "rel_merge_pruned" ->
      """WITH d0 AS (SELECT CAST(min(ts) AS DATE) AS d FROM events),
        |ev AS (SELECT event_id, event_type,
        |              CAST(round(value * 100) AS BIGINT) AS cents,
        |              CAST(ts AS DATE) AS d
        |       FROM events),
        |changes AS (SELECT event_id, event_type, cents + 1000 AS cents, ev.d AS d,
        |                   CASE WHEN event_id % 20 = 0 THEN 'D' ELSE 'U' END AS op
        |            FROM ev, d0
        |            WHERE ev.d BETWEEN d0.d + 3 AND d0.d + 4 AND event_id % 10 = 0),
        |base AS (SELECT * FROM ev WHERE d IN (SELECT DISTINCT d FROM changes)),
        |merged AS (SELECT CASE WHEN c.op = 'U' THEN c.d ELSE b.d END AS d,
        |                  CASE WHEN c.op = 'U' THEN c.event_type ELSE b.event_type END AS event_type,
        |                  CASE WHEN c.op = 'U' THEN c.cents ELSE b.cents END AS cents
        |           FROM base b FULL OUTER JOIN changes c ON b.event_id = c.event_id
        |           WHERE c.op IS NULL OR c.op = 'U')
        |SELECT d, event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM merged GROUP BY d, event_type
        |ORDER BY d, event_type""".stripMargin,
    // the streaming rollup shares the batch rollup's oracle
    "stream_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start, event_type,
        |       count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,
    // min-forward funnel chain: each CTE carries the previous stage's
    // time so "strictly after" is a plain filter inside min(CASE...)
    "ev_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
        |u1 AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN tsu END) AS t1
        |       FROM e GROUP BY user_id),
        |u2 AS (SELECT u1.user_id, u1.t1,
        |              min(CASE WHEN e.event_type = 'view' AND e.tsu > u1.t1
        |                        AND e.tsu <= u1.t1 + 259200000000 THEN e.tsu END) AS t2
        |       FROM u1 JOIN e USING (user_id) GROUP BY u1.user_id, u1.t1),
        |u3 AS (SELECT u2.user_id, u2.t1, u2.t2,
        |              min(CASE WHEN e.event_type = 'click' AND e.tsu > u2.t2
        |                        AND e.tsu <= u2.t2 + 259200000000 THEN e.tsu END) AS t3
        |       FROM u2 JOIN e USING (user_id) GROUP BY u2.user_id, u2.t1, u2.t2),
        |u4 AS (SELECT u3.user_id, u3.t1, u3.t2, u3.t3,
        |              min(CASE WHEN e.event_type = 'purchase' AND e.tsu > u3.t3
        |                        AND e.tsu <= u3.t3 + 259200000000 THEN e.tsu END) AS t4
        |       FROM u3 JOIN e USING (user_id) GROUP BY u3.user_id, u3.t1, u3.t2, u3.t3),
        |f AS (
        |  SELECT 1 AS stage, 'signup' AS event_type, count(t1) AS n_users FROM u4
        |  UNION ALL SELECT 2, 'view', count(t2) FROM u4
        |  UNION ALL SELECT 3, 'click', count(t3) FROM u4
        |  UNION ALL SELECT 4, 'purchase', count(t4) FROM u4),
        |g AS (SELECT stage, event_type, n_users,
        |             coalesce(lag(n_users) OVER (ORDER BY stage), n_users) AS prev
        |      FROM f)
        |SELECT CAST(stage AS INTEGER) AS stage, event_type,
        |       CAST(n_users AS BIGINT) AS n_users,
        |       CAST(CASE WHEN prev = 0 THEN 0 ELSE n_users * 10000 // prev END AS BIGINT) AS conv_bp
        |FROM g ORDER BY stage""".stripMargin,
    "ev_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |           FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
        |SELECT c.cohort, CAST(date_diff('day', c.cohort, d.day) // 7 AS INTEGER) AS wk,
        |       CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
        |FROM d JOIN c USING (user_id)
        |GROUP BY c.cohort, wk
        |ORDER BY c.cohort, wk""".stripMargin,
    "ev_pivot" ->
      """SELECT user_id,
        |       count(CASE WHEN event_type = 'click' THEN 1 END) AS "click",
        |       count(CASE WHEN event_type = 'error' THEN 1 END) AS "error",
        |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS "purchase",
        |       count(CASE WHEN event_type = 'signup' THEN 1 END) AS "signup",
        |       count(CASE WHEN event_type = 'view' THEN 1 END) AS "view"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // every event belongs to the two 2h-wide windows starting at
    // floor_hour(ts) and floor_hour(ts) - 1h
    "ev_sliding" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type, value FROM events),
        |x AS (SELECT h AS w_start, event_type, value FROM e
        |      UNION ALL
        |      SELECT h - INTERVAL 1 HOUR, event_type, value FROM e)
        |SELECT CAST(w_start AS TIMESTAMP) AS w_start, event_type,
        |       count(*) AS n, round(sum(value), 2) AS total
        |FROM x GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,
    // z > 2 in integers: D·n − S1 > 0 AND (D·n − S1)² > 4·(D·S2 − S1²)
    "ev_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         count(*) AS n
        |  FROM events GROUP BY event_type, day),
        |stats AS (
        |  SELECT event_type, count(*) AS d, sum(n) AS s1, sum(n * n) AS s2
        |  FROM daily GROUP BY event_type)
        |SELECT daily.event_type, day, CAST(n AS BIGINT) AS n,
        |       CAST(CASE WHEN d*n - s1 > 0
        |                  AND (d*n - s1)*(d*n - s1) > 4*(d*s2 - s1*s1)
        |                 THEN 1 ELSE 0 END AS INTEGER) AS spike
        |FROM daily JOIN stats USING (event_type)
        |ORDER BY event_type, day""".stripMargin,
    "ev_full_outer" ->
      """WITH e AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |                  event_type, value FROM events),
        |su AS (SELECT user_id, day, count(*) AS n_signups
        |       FROM e WHERE event_type = 'signup' GROUP BY user_id, day),
        |bp AS (SELECT user_id, day, count(*) AS n_big_purchases
        |       FROM e WHERE event_type = 'purchase' AND value > 150
        |       GROUP BY user_id, day)
        |SELECT coalesce(su.user_id, bp.user_id) AS user_id,
        |       coalesce(su.day, bp.day) AS day,
        |       CAST(coalesce(n_signups, 0) AS BIGINT) AS n_signups,
        |       CAST(coalesce(n_big_purchases, 0) AS BIGINT) AS n_big_purchases
        |FROM su FULL OUTER JOIN bp
        |  ON su.user_id = bp.user_id AND su.day = bp.day
        |ORDER BY user_id, day""".stripMargin,
    "ev_dau" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |           FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM d GROUP BY user_id)
        |SELECT day, count(*) AS dau,
        |       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |         AS new_users,
        |       CAST(count(*) - sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |         AS returning
        |FROM d JOIN f USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin,
    "ev_trend" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         count(*) AS n
        |  FROM events GROUP BY event_type, day)
        |SELECT event_type, day, CAST(n AS BIGINT) AS n,
        |       round(avg(n) OVER (PARTITION BY event_type ORDER BY day
        |                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7,
        |       CAST(n - lag(n) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
        |         AS delta
        |FROM daily ORDER BY event_type, day""".stripMargin,
    "ev_markov" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
        |t AS (SELECT event_type AS from_type,
        |             lead(event_type) OVER (PARTITION BY user_id
        |                                    ORDER BY tsu, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM t
        |      WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |tot AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY from_type)
        |SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
        |       CAST(c.n * 10000 // tot.tot AS BIGINT) AS p_bp
        |FROM c JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "ev_dow_hour" ->
      """SELECT CAST(date_diff('day', DATE '2024-01-01',
        |                      CAST(date_trunc('day', ts) AS DATE)) % 7 AS INTEGER) AS dow,
        |       CAST(hour(ts) AS INTEGER) AS hr,
        |       count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY dow, hr ORDER BY dow, hr""".stripMargin,
    "ev_cube" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(CAST(bucket AS VARCHAR), 'ALL') AS bucket,
        |       count(*) AS n, round(sum(value), 2) AS total
        |FROM (SELECT event_type, user_id % 10 AS bucket, value FROM events)
        |GROUP BY CUBE (event_type, bucket)
        |ORDER BY coalesce(event_type, 'ALL'), coalesce(CAST(bucket AS VARCHAR), 'ALL')""".stripMargin,
    // histogram CTE chain shared by the quantile serve and its audit;
    // merge == one-shot by the bin-count monoid, so the oracle is the
    // one-shot per-type histogram
    "ev_hist_quantiles" ->
      s"""$HIST_CTES
         |SELECT event_type,
         |       min(CASE WHEN cum * 100 >= total * 50 THEN edge END) AS p50,
         |       min(CASE WHEN cum * 100 >= total * 90 THEN edge END) AS p90,
         |       min(CASE WHEN cum * 100 >= total * 99 THEN edge END) AS p99
         |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin,
    "ev_hist_err" ->
      s"""$HIST_CTES,
         |q AS (SELECT event_type,
         |             min(CASE WHEN cum * 100 >= total * 50 THEN edge END) AS p50,
         |             min(CASE WHEN cum * 100 >= total * 90 THEN edge END) AS p90,
         |             min(CASE WHEN cum * 100 >= total * 99 THEN edge END) AS p99
         |      FROM cum GROUP BY event_type),
         |x AS (SELECT event_type, cents,
         |             count(*) OVER (PARTITION BY event_type ORDER BY cents) AS xcum,
         |             count(*) OVER (PARTITION BY event_type) AS xn
         |      FROM c),
         |ex AS (SELECT event_type,
         |              min(CASE WHEN xcum * 100 >= xn * 50 THEN cents END) AS e50,
         |              min(CASE WHEN xcum * 100 >= xn * 90 THEN cents END) AS e90,
         |              min(CASE WHEN xcum * 100 >= xn * 99 THEN cents END) AS e99
         |       FROM x GROUP BY event_type)
         |SELECT event_type, e50 - p50 AS d50, e90 - p90 AS d90, e99 - p99 AS d99
         |FROM q JOIN ex USING (event_type)
         |ORDER BY event_type""".stripMargin,
    // MERGE semantics spelled out: full outer on the key, change row
    // wins on 'U', 'D' rows vanish — the MergeInto operator verbatim
    "rel_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 4 <> 0),
        |changes AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) + 100000 AS cents,
        |         CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
        |       CASE WHEN c.op = 'U' THEN c.o_custkey ELSE b.o_custkey END AS o_custkey,
        |       CASE WHEN c.op = 'U' THEN c.cents ELSE b.cents END AS cents
        |FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
        |WHERE c.op IS NULL OR c.op = 'U'
        |ORDER BY o_orderkey""".stripMargin,
    // IVM's whole claim is merged-partials == recompute, so the oracle
    // IS the one-shot recompute
    "ev_ivm" ->
      """WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |                  CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events)
        |SELECT day, event_type, count(*) AS n,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       min(cents) AS min_cents, max(cents) AS max_cents,
        |       CAST(sum(cents) AS BIGINT) // count(*) AS avg_cents
        |FROM e GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    // the streaming ingest loop serves the SAME standing view — the
    // monoid makes it batching-independent, so the one-shot rollup is
    // its oracle too
    "stream_ivm" ->
      """WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |                  CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events)
        |SELECT day, event_type, count(*) AS n,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       min(cents) AS min_cents, max(cents) AS max_cents,
        |       CAST(sum(cents) AS BIGINT) // count(*) AS avg_cents
        |FROM e GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,
    "ev_hll" ->
      s"""$HLL_CTES
         |SELECT event_type, v_zero, s_scaled, $HLL_EST_SQL AS n_est
         |FROM agg ORDER BY event_type""".stripMargin,
    // the streaming register state folds by the same max monoid, so
    // the one-shot per-hour sketch is its oracle
    "stream_hll" ->
      s"""${hllCtes("epoch_us(ts) // 3600000000", "hour")}
         |SELECT hour, v_zero, s_scaled, $HLL_EST_SQL AS n_est
         |FROM agg ORDER BY hour""".stripMargin,
    "ev_hll_err" ->
      s"""$HLL_CTES,
         |est AS (SELECT event_type, $HLL_EST_SQL AS n_est FROM agg),
         |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |       FROM events GROUP BY event_type)
         |SELECT event_type, n_est, n_exact,
         |       abs(n_est - n_exact) * 10000 // n_exact AS err_bp
         |FROM est JOIN ex USING (event_type)
         |ORDER BY event_type""".stripMargin,
    // register max-merge over any split == registers of the whole
    // (max is the monoid), so the incremental side's oracle is simply
    // the one-shot per-day sketch
    "ev_ivm_distinct" ->
      s"""${hllCtes("CAST(date_trunc('day', ts) AS DATE)", "day")}
         |SELECT day, v_zero, s_scaled, $HLL_EST_SQL AS n_est
         |FROM agg ORDER BY day""".stripMargin,
  )
}

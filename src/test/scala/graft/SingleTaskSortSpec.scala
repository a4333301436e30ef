package graft

import graft.tools.TaskMetricsListener
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Range, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, LogicalQueryStage}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** [[SingleTaskSort]]: a global sort over a small, already computed
  * input sorts in one task — no range exchange, no sampling job — and
  * returns the same rows in the same order; every other sort keeps its
  * range exchange. */
class SingleTaskSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val listener = TaskMetricsListener.install(spark.sparkContext)

  /** One op as the benchmark times it: the query function's eager work
    * plus full materialization of its plan. Returns the jobs it started
    * and the final adaptive plan. */
  private def op(query: String): (Long, SparkPlan) = {
    val m0 = listener.snapshot(spark.sparkContext)
    val df = SparkEntry.queries(query)(spark, sf0001)
    TaskMetricsListener.materialize(df)
    ((listener.snapshot(spark.sparkContext) - m0).jobs, df.queryExecution.executedPlan)
  }

  private def rangeExchanges(p: SparkPlan): Seq[SparkPlan] = collect(p) {
    case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  private def coalesces(p: SparkPlan): Seq[SparkPlan] = collect(p) { case c: CoalesceExec => c }

  /** Rows of a query with coalescing off, where the rule stands down. */
  private def rowsWithoutRule(query: String) = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try SparkEntry.queries(query)(spark, sf0001).collect().toSeq
    finally spark.conf.unset(key)
  }

  test("small final sorts of the olap queries plan no range exchange and keep their rows") {
    val expectedJobs = Map("q1_agg" -> 2L, "kv_get" -> 4L)
    for (q <- Seq("q1_agg", "wc_wordcount", "ev_sessions", "shard_routed", "kv_get")) {
      op(q) // warm: table schemas and derived values are memoized per file
      val (jobs, plan) = op(q)
      assert(rangeExchanges(plan).isEmpty, s"$q still range-partitions:\n$plan")
      assert(coalesces(plan).size == 1, s"$q does not sort in one task:\n$plan")
      expectedJobs.get(q).foreach(n => assert(jobs == n, s"$q ran $jobs jobs, not $n:\n$plan"))
      assert(SparkEntry.queries(q)(spark, sf0001).collect().toSeq == rowsWithoutRule(q),
        s"$q rows or their order changed")
    }
  }

  test("a sort under a limit stays a top-k with no Coalesce under it") {
    val (_, plan) = op("q3_join")
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.nonEmpty, plan.toString)
    assert(rangeExchanges(plan).isEmpty && coalesces(plan).isEmpty, plan.toString)
  }

  test("a sort over more than one partition's worth of input keeps its range exchange") {
    val n = 2000000L
    val df = spark.range(0, n).repartition(8).orderBy(desc("id"))
    val ids = df.collect().map(_.longValue)
    val plan = df.queryExecution.executedPlan
    assert(rangeExchanges(plan).nonEmpty, s"16 MB of input sorted without a range exchange:\n$plan")
    assert(coalesces(plan).isEmpty, plan.toString)
    assert(ids.length == n && ids.indices.forall(i => ids(i) == n - 1 - i))
  }

  test("a sort directly over a scan is left unchanged") {
    // no materialized stage under the sort: its range exchange is the
    // first stage, its sampling is paid before any re-optimization, and
    // a Coalesce 1 over the materialized range stage would add nothing
    val df = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")
    val keys = df.collect().map(r => (r.getLong(0), r.getInt(1)))
    val plan = df.queryExecution.executedPlan
    assert(rangeExchanges(plan).nonEmpty, plan.toString)
    assert(coalesces(plan).isEmpty, s"a materialized range stage was coalesced:\n$plan")
    assert(keys.toSeq == keys.sorted.toSeq && keys.nonEmpty)
  }

  test("a stage that is not materialized gives no row bound, whatever its estimate") {
    // a 10-row Range has an exact logical row count; as the logical
    // side of a stage that has not run, it must not count as a bound
    val range = Range(0, 10, 1, Some(1))
    def sortOver(p: LogicalPlan) = Sort(Seq(SortOrder(range.output.head, Ascending)), true, p)
    val rule = SingleTaskSort(spark)
    val unmaterialized = sortOver(LogicalQueryStage(range, RangeExec(range)))
    assert(rule(unmaterialized) == unmaterialized)
    // the same input as a local relation is known exactly and is sorted in one task
    val local = LocalRelation(range.output, (0 until 10).map(i => InternalRow(i.toLong)))
    val sorted = rule(sortOver(local))
    assert(sorted == sortOver(Repartition(1, shuffle = false, local)))
    assert(rule(sorted) == sorted, "the rule is not idempotent")
  }
}

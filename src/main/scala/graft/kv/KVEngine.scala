package graft.kv

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Batch replay of the reference's linearizable KV store
  * (reference: src/kvraft/server.go — apply loop :166-214, dedup
  * :72-80, Put/Append :113-121; invariants from test_test.go:57-99).
  *
  * The log is already totally ordered by `seq` (Raft's applyCh order,
  * reference raft.go:711-727), so replay is deterministic:
  *
  *   dedup (exactly-once) -> per-key ordered fold -> state table
  *
  * All stages are distributed: dedup is an aggregate over (clientId,reqId)
  * groups, the fold shuffles once on key and streams key-sorted
  * runs — no per-key materialization, no driver involvement. At 100 TB
  * the single fold shuffle on `key` is the only wide dependency.
  */
/** One (key, seq-bucket) sub-group for the salted fold. */
case class SaltedOp(key: String, bucket: Long, seq: Long, kind: String, value: String)

/** Folded partial of one (key, bucket) segment — combines as a monoid
  * (see [[KVEngine.replaySalted]]). */
case class Segment(key: String, bucket: Long, sawPut: Boolean, value: String)

object KVEngine {

  /** Exactly-once dedup (K4): a retried (clientId, reqId) pair applies
    * only once — the reference skips ops whose reqId was already acked
    * (src/kvraft/server.go:72-80, 187-189); in batch replay "first
    * occurrence in log order wins" is the same observable semantics.
    *
    * A min_by aggregate, not a row_number window: the aggregate gets
    * map-side partial combining (retries collapse before the shuffle),
    * so a retry-heavy log shuffles one row per request. It plans as a
    * SortAggregate, not a hash aggregate: the min_by buffer is a struct
    * with string fields, which has no mutable hash-map form, so both the
    * partial and the final side sort on (clientId, reqId), around the
    * one shuffle on that key.
    */
  def dedup(ops: Dataset[Op]): Dataset[Op] = {
    val spark = ops.sparkSession
    import spark.implicits._
    ops
      .groupBy(col("clientId"), col("reqId"))
      .agg(min_by(
        struct(col("seq"), col("clientId"), col("reqId"), col("kind"), col("key"), col("value")),
        col("seq")).as("op"))
      .select(col("op.*"))
      .as[Op]
  }

  /** Ack table (A7): highest applied reqId per client — what the
    * reference keeps in `ack map[int64]int` (src/kvraft/server.go:44).
    */
  def ackTable(ops: Dataset[Op]): DataFrame =
    dedup(ops)
      .groupBy(col("clientId"))
      .agg(max("reqId").as("maxReqId"))

  /** Order-sensitive per-key fold (K2/K3): put overwrites, append
    * concatenates (src/kvraft/server.go:113-121). A commutative agg
    * cannot express this; instead shuffle once on key, sort each
    * partition by (key, seq), and stream contiguous key runs through
    * the fold — the same secondary-sort shape as MapReduceJob.
    */
  def replay(ops: Dataset[Op], numPartitions: Int = 0): DataFrame = {
    val spark = ops.sparkSession
    import spark.implicits._
    val writes = dedup(ops).filter(col("kind") =!= "get")
    val parted =
      if (numPartitions > 0) writes.repartition(numPartitions, col("key"))
      else writes.repartition(col("key"))
    parted
      .sortWithinPartitions("key", "seq")
      .mapPartitions(rows => graft.core.Runs.fold(rows)(_.key)((k, run) =>
        (k, foldRun(run.map(op => (op.kind, op.value)))._2)))
      .toDF("key", "value")
  }

  /** Fold one key's seq-ordered (kind, value) ops to (sawPut, value)
    * — the segment monoid shared by replay, replaySalted and
    * applyIncrement. */
  private def foldRun(run: Iterator[(String, String)]): (Boolean, String) = {
    var sawPut = false
    val sb = new StringBuilder
    run.foreach { case (kind, value) =>
      if (kind == "put") { sawPut = true; sb.clear(); sb ++= value }
      else sb ++= value
    }
    (sawPut, sb.result())
  }

  /** Skew-resistant variant of [[replay]]: two-phase salted fold for
    * hot keys. The append fold is ASSOCIATIVE — a contiguous seq
    * segment folds to (sawPut, value) and segments combine left-to-
    * right as
    *
    *   combine(l, r) = if (r.sawPut) r else (l.sawPut, l.value + r.value)
    *
    * so phase 1 folds (key, seq/bucket) sub-groups in parallel (hot
    * keys split across `salt` tasks) and phase 2 merges the per-bucket
    * partials in bucket order — a tiny shuffle of one row per (key,
    * bucket). Semantically identical to [[replay]] (property-tested);
    * at 100 TB this is the shape that survives a key taking 10% of
    * the log.
    */
  def replaySalted(ops: Dataset[Op], salt: Int = 16, seqRange: Long = -1L): DataFrame = {
    val spark = ops.sparkSession
    import spark.implicits._
    val range = if (seqRange > 0) seqRange
      else { // one cheap scan when unhinted; empty log -> any width works
        val row = ops.agg(max("seq")).head()
        if (row.isNullAt(0)) 1L else row.getLong(0) + 1
      }
    val bucketWidth = math.max(range / salt, 1L)
    val writes = dedup(ops)
      .filter(col("kind") =!= "get")
      .withColumn("bucket", (col("seq") / bucketWidth).cast("long"))
    val partials = writes
      .select(col("key"), col("bucket"), col("seq"), col("kind"), col("value"))
      .as[SaltedOp]
      .repartition(col("key"), col("bucket"))
      .sortWithinPartitions("key", "bucket", "seq")
      .mapPartitions { rows =>
        graft.core.Runs.fold(rows)(op => (op.key, op.bucket)) { case ((key, bucket), run) =>
          val (sawPut, v) = foldRun(run.map(s => (s.kind, s.value)))
          Segment(key, bucket, sawPut, v)
        }
      }
    partials
      .repartition(col("key"))
      .sortWithinPartitions("key", "bucket")
      .mapPartitions { rows =>
        graft.core.Runs.fold(rows)(_.key) { (key, run) =>
          val acc = run.foldLeft("") { (a, seg) => if (seg.sawPut) seg.value else a + seg.value }
          (key, acc)
        }
      }
      .toDF("key", "value")
  }

  /** Point lookup (K1): Get over the folded state as-of max seq.
    * Missing key -> empty string (reference: Get on absent key returns
    * "" via ErrNoKey handling, src/kvraft/client.go:37).
    */
  /** Incremental state maintenance: fold only the NEW suffix of the
    * log and merge onto an existing state table — the batch half of a
    * lambda architecture (streaming LiveKV is the live half; both use
    * the same segment monoid). `newOps` must all have seq greater than
    * anything already folded into `state`, and the dedup set must be
    * key-consistent (retries carry the same key — K4), so increment ∘
    * increment == full replay (property-tested).
    */
  def applyIncrement(state: DataFrame, newOps: Dataset[Op],
      priorOps: Option[Dataset[Op]] = None): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    // cross-batch exactly-once: drop retries of ops already applied in
    // prior batches (the reference's ack-table check, K4) before the
    // in-batch dedup
    val fresh = priorOps match {
      case Some(prior) =>
        newOps.join(prior.select("clientId", "reqId"), Seq("clientId", "reqId"), "left_anti").as[Op]
      case None => newOps
    }
    val delta = dedup(fresh)
      .filter(col("kind") =!= "get")
      .repartition(col("key"))
      .sortWithinPartitions("key", "seq")
      .mapPartitions { rows =>
        graft.core.Runs.fold(rows)(_.key) { (k, run) =>
          val (sawPut, v) = foldRun(run.map(op => (op.kind, op.value)))
          (k, sawPut, v)
        }
      }
      .toDF("key", "saw_put", "delta_value")
    state
      .join(delta, Seq("key"), "full_outer")
      .select(
        col("key"),
        when(col("delta_value").isNull, col("value"))
          .when(col("saw_put") === true, col("delta_value"))
          .otherwise(concat(coalesce(col("value"), lit("")), col("delta_value")))
          .as("value"))
  }

  /** SCD Type-2 history of the KV store: one row per WRITE with its
    * validity interval — the data-plane form of the reference
    * shardmaster's time-travel Query (src/shardmaster/server.go keeps
    * every config version; Query(num) reads any of them). A put opens
    * a fresh value; an append extends the current one; `valid_to` is
    * the next write's seq (NULL = still current), so state-as-of-T is
    * a pure interval filter — no replay.
    *
    * Distributed shape: everything runs on ONE HashPartitioning(key) —
    * the segment counter, the running concat and the lead() all share
    * the per-key sort, so Catalyst plans a single shuffle + sort. The
    * running concat is a rows-frame collect_list/array_join (bounded
    * by a key's writes-per-segment, the same bound the fold itself
    * carries). At 100 TB this is the standing dimension-history table
    * a MERGE-maintained lake keeps next to the live snapshot.
    */
  def scd2(ops: Dataset[Op]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy("key").orderBy("seq")
    val run = Window.partitionBy("key", "seg").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dedup(ops).filter(col("kind") =!= "get")
      // seg bumps at each put: a segment is one put + its appends
      // (seg 0 = appends before any put, matching the fold's
      // null-anchor branch)
      .withColumn("seg", sum(when(col("kind") === "put", 1).otherwise(0)).over(byKey))
      .withColumn("value", array_join(collect_list("value").over(run), ""))
      .withColumn("valid_to", lead("seq", 1).over(byKey))
      .select(col("key"), col("seq").as("valid_from"), col("valid_to"), col("value"))
  }

  /** Apply an LWW change batch to an SCD2 history — the dimension-
    * maintenance MERGE (how a lakehouse keeps an SCD2 table current
    * without rebuilding it): each change (key, seq, value) CLOSES the
    * key's open interval at the change's seq and APPENDS a new open
    * row. `changes` must be one row per key (LWW-compacted upstream)
    * with seq beyond everything in `history` — the caller's batch
    * boundary guarantees it, and the tiling invariant is spec-pinned.
    *
    * Shape: one key join (changes are dimension-sized and typically
    * broadcast) + a union — the history is never rewritten, only its
    * open edge. At 100 TB this, [[scd2]] (the from-scratch build) and
    * [[snapshotAt]] (the read) are the three verbs of the dimension
    * lifecycle.
    */
  def scd2Apply(history: DataFrame, changes: DataFrame): DataFrame = {
    val c = changes.select(col("key"), col("seq").as("c_seq"), col("value").as("c_value"))
    val closed = history.join(c, Seq("key"), "left")
      .select(col("key"), col("valid_from"),
        when(col("valid_to").isNull && col("c_seq").isNotNull, col("c_seq"))
          .otherwise(col("valid_to")).as("valid_to"),
        col("value"))
    val fresh = c.select(col("key"), col("c_seq").as("valid_from"),
      lit(null).cast("long").as("valid_to"), col("c_value").as("value"))
    closed.unionByName(fresh)
  }

  /** Time-travel point-in-time snapshot from the SCD2 history: state
    * as-of seq T is the rows whose interval covers T. The open row
    * (valid_to NULL) is the live state — [[replay]] restricted to
    * seq <= T, property-tested equal. The broadcast probe keeps the
    * filter a map-side scan of the history table.
    */
  def snapshotAt(history: DataFrame, t: Long): DataFrame =
    history
      .filter(col("valid_from") <= t && (col("valid_to").isNull || col("valid_to") > t))
      .select(col("key"), col("value"))

  /** Point lookups pushed BELOW the fold: the fold is per-key and
    * duplicate (clientId, reqId) pairs always carry the same key, so
    * replaying only the probed keys' ops is equivalent to folding
    * everything and filtering — but scans/folds a fraction of the log.
    * (The key filter also reaches the parquet scan.) */
  def getDirect(ops: Dataset[Op], keys: Seq[String]): DataFrame =
    get(replay(ops.filter(col("key").isin(keys: _*))), keys)

  def get(state: DataFrame, keys: Seq[String]): DataFrame = {
    val spark = state.sparkSession
    import spark.implicits._
    val probe = keys.toDF("key")
    probe.join(state, Seq("key"), "left")
      .select(col("key"), coalesce(col("value"), lit("")).as("value"))
  }
}

package graft.kv

import graft.{QueryPack, Tables}
import graft.shard.Key2Shard
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable queries for the KV serving plane (SURVEY §2.5):
  * op-log synthesis, exactly-once dedup, ack table, ordered fold to
  * final state, point gets, and shard routing.
  *
  * Query outputs use snake_case column names (DuckDB lowercases are
  * case-insensitive; snake_case sidesteps the issue entirely).
  */
object KVQueries extends QueryPack {

  private def ops(s: SparkSession, dir: String) = OpLog.fromEvents(Tables.events(s, dir))

  private def opsCols = Seq(
    col("seq"), col("clientId").as("client_id"), col("reqId").as("req_id"),
    col("kind"), col("key"), col("value"))

  private val probeKeys = Seq("7", "23", "nokey")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kv_oplog" -> ((s, dir) => ops(s, dir).select(opsCols: _*).orderBy("seq")),
    "kv_dedup" -> ((s, dir) => KVEngine.dedup(ops(s, dir)).select(opsCols: _*).orderBy("seq")),
    "kv_ack" -> ((s, dir) =>
      KVEngine.ackTable(ops(s, dir))
        .select(col("clientId").as("client_id"), col("maxReqId").as("max_req_id"))
        .orderBy("client_id")),
    "kv_state" -> ((s, dir) => KVEngine.replay(ops(s, dir)).orderBy("key")),
    "kv_get" -> ((s, dir) => KVEngine.getDirect(ops(s, dir), probeKeys).orderBy("key")),
    "kv_shard_counts" -> ((s, dir) =>
      ops(s, dir)
        .select(col("key")).distinct()
        .select(Key2Shard.shardOfFast(s, col("key")).as("shard"))
        .groupBy("shard").agg(count(lit(1)).as("n_keys"))
        .orderBy("shard")),
    // the STREAMING plane under the driver's hash gate: the op log
    // streamed through mapGroupsWithState (file source, 4 micro-
    // batches under Trigger.AvailableNow, incremental per-key state)
    // — final state must hash-match the batch replay oracle the fold
    // shares its monoid with (graft.streaming.StreamReplay)
    "stream_state_replay" -> ((s, dir) =>
      graft.streaming.StreamReplay.stateReplay(ops(s, dir),
        cached = true).orderBy("key")),
    // the PRODUCTION streaming sink under the gate: same replay, but
    // written through LiveKV.stateTableSink (shard-partitioned
    // incremental parquet state table, commit markers, per-shard GC)
    // and read back from the on-disk table — the read path under the
    // hash gate IS the state table, not a memory sink
    "stream_state_table" -> ((s, dir) =>
      graft.streaming.StreamReplay.stateTableReplay(ops(s, dir),
        cached = true).orderBy("key")),
    // the IN-STREAM exactly-once gate (K4's streaming form) under the
    // hash gate: raw ops (dupes included) through streaming
    // dropDuplicates(clientId, reqId) across 4 seq-ordered micro-
    // batches, rolled up per client on survivor-INSENSITIVE outputs
    // (distinct-request count + max req id — identical whichever
    // duplicate the state store admitted first). The fold-output
    // replays keep dedup batch-side for exactly this reason; this
    // query gates the dedup state store itself.
    "stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamReplay.dedupReplay(ops(s, dir),
        cached = true).orderBy("client_id")),
    // SKEW under the gate: the op log with a planted hot key (~70% of
    // writes on "hot") folded by the two-phase SALTED replay — hot
    // keys split across seq-bucket sub-folds, then merged in bucket
    // order (the shape that survives a key taking most of the log at
    // 100 TB). Oracle: the same fold semantics over the skewed key
    // mapping — salted and plain folds agree by associativity.
    "kv_state_skewed" -> ((s, dir) =>
      KVEngine.replaySalted(OpLog.fromEventsSkewed(Tables.events(s, dir)))
        .orderBy("key")),
    // AQE SKEW-JOIN under the gate (the RUNTIME twin of the manual
    // salted fold above): the skewed op log (~70% of rows on key
    // "hot") joined to its per-key dim — AQE splits the hot hash
    // partition at runtime and mirrors the dim side into each split.
    // The 256 MB production trigger can't fire at gate scale, so the
    // thresholds are scoped to this query (AqeSpec documents the two
    // test-scale preconditions) and the plan is REQUIREd to carry
    // skew=true before the (≤ 3 kinds rows) result materializes —
    // the gate then proves the split answer-preserving every round.
    // Factor 1.2, not the 2.0 the row counts suggest: skew stats are
    // COMPRESSED shuffle bytes, and the planted hot partition (6× the
    // median's rows) lz4-compresses its constant key to under 2× the
    // median's bytes — a real-world lesson (near-duplicate hot rows
    // hide from byte-based skew detection; measured across
    // sf0.001-0.1 × 4-32 cores, 1.2 trips everywhere).
    "kv_skew_join" -> ((s, dir) => {
      val confs = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1024",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val old = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        // repartition(16): AQE splits at map-output granularity; the
        // single-file scan would otherwise produce one mapper (at
        // 100 TB the mapper count is in the thousands for free)
        val skewed = OpLog.fromEventsSkewed(Tables.events(s, dir)).toDF
          .repartition(16)
        // materialized dim: OptimizeSkewedJoin pattern-matches
        // SMJ(Sort(Stage), Sort(Stage)) — an inline distinct between
        // sort and stage defeats the rule
        val dim = skewed.select("key").distinct()
          .withColumn("key_chars", length(col("key")).cast("long"))
          .localCheckpoint(true)
        val joined = skewed.join(dim, "key")
          .groupBy("kind")
          .agg(count(lit(1)).as("n"), sum("key_chars").as("key_chars"))
          .orderBy("kind")
        try {
          val rows = joined.collect()
          require(joined.queryExecution.executedPlan.toString.contains("skew=true"),
            "AQE skew-join did not fire — the gated lever is not splitting")
          import scala.jdk.CollectionConverters._
          s.createDataFrame(rows.toSeq.asJava, joined.schema)
        } finally
          // free the dim's checkpoint blocks on EVERY path — a thrown
          // require must not leak them (the freeCheckpoint discipline)
          graft.pipeline.Dedup.freeCheckpoint(dim)
      } finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }),
    // Dedup-state EVICTION under the gate: dropDuplicatesWithinWatermark
    // — bounded dedup state. Planted duplicates prove BOTH sides of
    // the trade: a re-arrival after eviction is re-admitted (emitted
    // twice), a within-delay duplicate stays suppressed. Margins make
    // the outcomes watermark-lag-proof (see StreamReplay scaladoc).
    "stream_dedup_evict" -> ((s, dir) =>
      graft.streaming.StreamReplay.dedupEvictReplay(ops(s, dir),
        cached = true).orderBy("client_id")),
    // SCD TYPE-2 history (the shardmaster time-travel idea at the KV
    // data plane): every write's validity interval on one key-
    // partitioned window pass; the open rows ARE kv_state (spec-pinned)
    "kv_scd2" -> ((s, dir) =>
      KVEngine.scd2(ops(s, dir)).orderBy("key", "valid_from")),
    // time-travel snapshot: state as-of T = mid-log seq, served as a
    // pure interval filter over the SCD2 history — no replay. T comes
    // from a 1-row max(seq) aggregate (bounded driver traffic, the
    // replaySalted precedent).
    "kv_snapshot" -> ((s, dir) => {
      val o = ops(s, dir)
      val row = o.agg(max("seq")).head()
      val t = if (row.isNullAt(0)) 0L else row.getLong(0) / 2
      KVEngine.snapshotAt(KVEngine.scd2(o), t).orderBy("key")
    }),
    // dimension-maintenance MERGE: the first-half history + the
    // second half's LWW put batch applied via scd2Apply — open rows
    // close at the change seq, new generations append; the history is
    // never rebuilt (spec pins tiling + the LWW overlay identity).
    "kv_scd2_merge" -> ((s, dir) => {
      val o = ops(s, dir)
      val deduped = KVEngine.dedup(o)
      val row = deduped.agg(max("seq")).head()
      val t0 = if (row.isNullAt(0)) 0L else row.getLong(0) / 2
      val hist = KVEngine.scd2(o.filter(col("seq") <= t0))
      val changes = deduped.toDF
        .filter(col("seq") > t0 && col("kind") === "put")
        .groupBy("key")
        .agg(max("seq").as("seq"), max_by(col("value"), col("seq")).as("value"))
      KVEngine.scd2Apply(hist, changes).orderBy("key", "valid_from")
    }),
  )

  /** DuckDB mirror of [[OpLog.fromEvents]] + [[KVEngine.dedup]] —
    * keep in sync with those definitions. */
  private val OPS_SQL =
    """WITH ops AS (
      |  SELECT event_id AS seq, user_id AS client_id, event_id % 200 AS req_id,
      |         CASE WHEN event_type = 'signup' THEN 'put'
      |              WHEN event_type = 'view' THEN 'get'
      |              ELSE 'append' END AS kind,
      |         CAST(user_id % 50 AS VARCHAR) AS key,
      |         CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) AS value
      |  FROM events),
      |dedup AS (
      |  SELECT seq, client_id, req_id, kind, key, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY client_id, req_id ORDER BY seq) AS rn
      |    FROM ops)
      |  WHERE rn = 1)""".stripMargin

  /** [[OPS_SQL]] with the planted hot key — keep in sync with
    * [[OpLog.fromEventsSkewed]]. */
  private val SKEWED_OPS_SQL =
    """WITH ops AS (
      |  SELECT event_id AS seq, user_id AS client_id, event_id % 200 AS req_id,
      |         CASE WHEN event_type = 'signup' THEN 'put'
      |              WHEN event_type = 'view' THEN 'get'
      |              ELSE 'append' END AS kind,
      |         CASE WHEN user_id % 10 < 7 THEN 'hot'
      |              ELSE CAST(user_id % 50 AS VARCHAR) END AS key,
      |         CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) AS value
      |  FROM events),
      |dedup AS (
      |  SELECT seq, client_id, req_id, kind, key, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY client_id, req_id ORDER BY seq) AS rn
      |    FROM ops)
      |  WHERE rn = 1)""".stripMargin

  /** The seq-ordered per-key fold (put anchors, appends after the last
    * put concatenate in seq order) as a SQL tail over a `dedup` CTE —
    * the DuckDB mirror of the segment monoid every replay shares. */
  private val FOLD_TAIL =
    """writes AS (SELECT * FROM dedup WHERE kind <> 'get'),
      |anchor AS (SELECT key, max(CASE WHEN kind = 'put' THEN seq END) AS put_seq
      |           FROM writes GROUP BY key)
      |SELECT w.key AS key,
      |       coalesce(string_agg(
      |         CASE WHEN (w.kind = 'put' AND w.seq = a.put_seq)
      |                OR (w.kind = 'append' AND (a.put_seq IS NULL OR w.seq > a.put_seq))
      |              THEN w.value END, '' ORDER BY w.seq), '') AS value
      |FROM writes w JOIN anchor a ON w.key = a.key
      |GROUP BY w.key ORDER BY w.key""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // the state-table sink folds each micro-batch with applyIncrement
    // (same segment monoid) — the oracle IS the batch fold
    "stream_state_table" -> s"$OPS_SQL,\n$FOLD_TAIL",
    // salted == plain fold by associativity; the oracle folds the
    // skewed key mapping directly
    "kv_state_skewed" -> s"$SKEWED_OPS_SQL,\n$FOLD_TAIL",
    // the AQE skew split is a pure partitioning aid — must equal the
    // plain join+rollup over the skewed mapping (dim = distinct keys,
    // so the join is key-preserving and key_chars sums key lengths)
    "kv_skew_join" ->
      s"""$SKEWED_OPS_SQL,
         |dim AS (SELECT DISTINCT key FROM ops)
         |SELECT o.kind AS kind, count(*) AS n,
         |       CAST(sum(length(o.key)) AS BIGINT) AS key_chars
         |FROM ops o JOIN dim d ON o.key = d.key
         |GROUP BY o.kind
         |ORDER BY o.kind""".stripMargin,
    "kv_oplog" ->
      s"""$OPS_SQL
         |SELECT seq, client_id, req_id, kind, key, value FROM ops ORDER BY seq""".stripMargin,
    "kv_dedup" ->
      s"""$OPS_SQL
         |SELECT seq, client_id, req_id, kind, key, value FROM dedup ORDER BY seq""".stripMargin,
    "kv_ack" ->
      s"""$OPS_SQL
         |SELECT client_id, max(req_id) AS max_req_id FROM dedup
         |GROUP BY client_id ORDER BY client_id""".stripMargin,
    // streaming dropDuplicates admits exactly one row per
    // (client_id, req_id) — the dedup CTE's pair set; the rollup is
    // survivor-insensitive so either engine's pick hashes identically
    "stream_dedup" ->
      s"""$OPS_SQL
         |SELECT client_id, count(*) AS n_reqs, max(req_id) AS max_req_id
         |FROM dedup
         |GROUP BY client_id ORDER BY client_id""".stripMargin,
    "kv_state" ->
      s"""$OPS_SQL,
         |writes AS (SELECT * FROM dedup WHERE kind <> 'get'),
         |anchor AS (SELECT key, max(CASE WHEN kind = 'put' THEN seq END) AS put_seq
         |           FROM writes GROUP BY key)
         |SELECT w.key AS key,
         |       coalesce(string_agg(
         |         CASE WHEN (w.kind = 'put' AND w.seq = a.put_seq)
         |                OR (w.kind = 'append' AND (a.put_seq IS NULL OR w.seq > a.put_seq))
         |              THEN w.value END, '' ORDER BY w.seq), '') AS value
         |FROM writes w JOIN anchor a ON w.key = a.key
         |GROUP BY w.key ORDER BY w.key""".stripMargin,
    "kv_get" ->
      s"""$OPS_SQL,
         |writes AS (SELECT * FROM dedup WHERE kind <> 'get'),
         |anchor AS (SELECT key, max(CASE WHEN kind = 'put' THEN seq END) AS put_seq
         |           FROM writes GROUP BY key),
         |state AS (
         |  SELECT w.key AS key,
         |         coalesce(string_agg(
         |           CASE WHEN (w.kind = 'put' AND w.seq = a.put_seq)
         |                  OR (w.kind = 'append' AND (a.put_seq IS NULL OR w.seq > a.put_seq))
         |                THEN w.value END, '' ORDER BY w.seq), '') AS value
         |  FROM writes w JOIN anchor a ON w.key = a.key
         |  GROUP BY w.key)
         |SELECT p.key AS key, coalesce(s.value, '') AS value
         |FROM (VALUES ('7'), ('23'), ('nokey')) p(key)
         |LEFT JOIN state s ON p.key = s.key
         |ORDER BY p.key""".stripMargin,
    // the eviction gate's oracle never simulates the watermark: the
    // fixture margins (require'd Spark-side) make each plant's fate a
    // theorem, so the model is pure counting — every deduped pair
    // emits once, plus one re-emission per re-admit plant (clients
    // ≡ 0 mod 5 whose first request precedes w/2)
    "stream_dedup_evict" ->
      s"""$OPS_SQL,
         |base AS (SELECT client_id, req_id, seq FROM dedup),
         |p AS (SELECT max(seq) // 4 + 1 AS w FROM base),
         |firsts AS (SELECT client_id, min(seq) AS s0 FROM base GROUP BY client_id),
         |readmit AS (SELECT f.client_id FROM firsts f, p
         |            WHERE f.client_id % 5 = 0 AND f.s0 < p.w // 2),
         |counts AS (SELECT client_id, count(*) AS n_reqs FROM base GROUP BY client_id)
         |SELECT c.client_id,
         |       c.n_reqs + CASE WHEN r.client_id IS NULL THEN 0 ELSE 1 END AS n_emitted,
         |       c.n_reqs
         |FROM counts c LEFT JOIN readmit r ON c.client_id = r.client_id
         |ORDER BY c.client_id""".stripMargin,
    // DuckDB mirror of the SCD2 window pass: same segment counter,
    // same rows-frame running concat, same lead() close
    "kv_scd2" ->
      s"""$OPS_SQL,
         |writes AS (SELECT * FROM dedup WHERE kind <> 'get'),
         |segs AS (SELECT *, sum(CASE WHEN kind = 'put' THEN 1 ELSE 0 END)
         |                     OVER (PARTITION BY key ORDER BY seq) AS seg
         |         FROM writes)
         |SELECT key, seq AS valid_from,
         |       lead(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to,
         |       string_agg(value, '') OVER (PARTITION BY key, seg ORDER BY seq
         |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
         |FROM segs ORDER BY key, valid_from""".stripMargin,
    // snapshot-as-of: the interval filter over the same history at
    // T = max(seq) // 2 — integer division truncates identically
    "kv_snapshot" ->
      s"""$OPS_SQL,
         |writes AS (SELECT * FROM dedup WHERE kind <> 'get'),
         |segs AS (SELECT *, sum(CASE WHEN kind = 'put' THEN 1 ELSE 0 END)
         |                     OVER (PARTITION BY key ORDER BY seq) AS seg
         |         FROM writes),
         |hist AS (
         |  SELECT key, seq AS valid_from,
         |         lead(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to,
         |         string_agg(value, '') OVER (PARTITION BY key, seg ORDER BY seq
         |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
         |  FROM segs),
         |t AS (SELECT max(seq) // 2 AS t FROM ops)
         |SELECT key, value FROM hist, t
         |WHERE valid_from <= t.t AND (valid_to IS NULL OR valid_to > t.t)
         |ORDER BY key""".stripMargin,
    // scd2Apply mirrored: first-half history (same window chain as
    // kv_scd2, filtered to seq <= t0), second-half LWW put batch
    // (arg_max), open rows closed at the change seq, fresh open rows
    // appended
    "kv_scd2_merge" ->
      s"""$OPS_SQL,
         |t AS (SELECT max(seq) // 2 AS t0 FROM dedup),
         |hw AS (SELECT d.* FROM dedup d, t WHERE d.seq <= t.t0 AND d.kind <> 'get'),
         |segs AS (SELECT *, sum(CASE WHEN kind = 'put' THEN 1 ELSE 0 END)
         |                     OVER (PARTITION BY key ORDER BY seq) AS seg
         |         FROM hw),
         |hist AS (
         |  SELECT key, seq AS valid_from,
         |         lead(seq) OVER (PARTITION BY key ORDER BY seq) AS valid_to,
         |         string_agg(value, '') OVER (PARTITION BY key, seg ORDER BY seq
         |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
         |  FROM segs),
         |c AS (SELECT key, max(seq) AS c_seq, arg_max(value, seq) AS c_value
         |      FROM dedup d, t WHERE d.seq > t.t0 AND d.kind = 'put' GROUP BY key),
         |closed AS (
         |  SELECT h.key, h.valid_from,
         |         CASE WHEN h.valid_to IS NULL AND c.c_seq IS NOT NULL THEN c.c_seq
         |              ELSE h.valid_to END AS valid_to,
         |         h.value
         |  FROM hist h LEFT JOIN c ON h.key = c.key),
         |fresh AS (SELECT key, c_seq AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
         |                 c_value AS value
         |          FROM c)
         |SELECT key, valid_from, valid_to, value FROM closed
         |UNION ALL
         |SELECT key, valid_from, valid_to, value FROM fresh
         |ORDER BY key, valid_from""".stripMargin,
    "kv_shard_counts" ->
      s"""$OPS_SQL
         |SELECT ${Key2Shard.shardOfSql("key")} AS shard, count(*) AS n_keys
         |FROM (SELECT DISTINCT key FROM ops)
         |GROUP BY shard ORDER BY shard""".stripMargin,
    // the streaming fold shares the batch replay's monoid, so the
    // oracle IS kv_state's fold
    "stream_state_replay" ->
      s"""$OPS_SQL,
         |writes AS (SELECT * FROM dedup WHERE kind <> 'get'),
         |anchor AS (SELECT key, max(CASE WHEN kind = 'put' THEN seq END) AS put_seq
         |           FROM writes GROUP BY key)
         |SELECT w.key AS key,
         |       coalesce(string_agg(
         |         CASE WHEN (w.kind = 'put' AND w.seq = a.put_seq)
         |                OR (w.kind = 'append' AND (a.put_seq IS NULL OR w.seq > a.put_seq))
         |              THEN w.value END, '' ORDER BY w.seq), '') AS value
         |FROM writes w JOIN anchor a ON w.key = a.key
         |GROUP BY w.key ORDER BY w.key""".stripMargin,
  )
}

package graft.shard

import graft.{QueryPack, Tables}
import graft.kv.OpLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable queries for the sharding plane (SURVEY §2.6-2.7):
  * config-stepped op routing and inter-config shard migration plans.
  * The Spark side exercises the real broadcast range-join machinery in
  * [[Reshard]]; the oracle expresses the same epoch-stepped history in
  * closed form.
  */
object ShardQueries extends QueryPack {

  val EpochLen = 500L
  val RouteLag = 300L

  private def opsAndHistory(s: SparkSession, dir: String) = {
    val ops = OpLog.fromEvents(Tables.events(s, dir))
    // the last seq depends only on the events file: one job per content
    val maxSeq = graft.BuildCache("maxSeq", graft.BuildCache.files(s, dir, "events.parquet"))(
      ops.agg(max("seq")).head().getLong(0))
    (ops, Reshard.steppedHistory(maxSeq, EpochLen))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "shard_routed" -> { (s, dir) =>
      val (ops, history) = opsAndHistory(s, dir)
      Reshard.routedCounts(ops, history, EpochLen).orderBy("cfg_num", "gid")
    },
    "shard_migration" -> { (s, dir) =>
      val (_, history) = opsAndHistory(s, dir)
      Reshard.migrations(s, history).orderBy("from_cfg", "shard")
    },
    "shard_kv_state" -> { (s, dir) =>
      Reshard.replayRouted(OpLog.fromEvents(Tables.events(s, dir)), EpochLen, RouteLag)
        .orderBy("key")
    },
  )

  private val SHARD_SQL = Key2Shard.shardOfSql("key")

  def oracleSql: Map[String, String] = Map(
    "shard_routed" ->
      s"""WITH ops AS (
         |  SELECT event_id AS seq, CAST(user_id % 50 AS VARCHAR) AS key FROM events)
         |SELECT cfg_num, gid, count(*) AS n_ops FROM (
         |  SELECT CAST(floor(seq / $EpochLen.0) AS INTEGER) AS cfg_num,
         |         CAST($SHARD_SQL % (1 + CAST(floor(seq / $EpochLen.0) AS INTEGER) % 5) + 1
         |              AS INTEGER) AS gid
         |  FROM ops)
         |GROUP BY cfg_num, gid ORDER BY cfg_num, gid""".stripMargin,
    "shard_migration" ->
      s"""WITH epochs AS (
         |  SELECT DISTINCT CAST(floor(event_id / $EpochLen.0) AS INTEGER) AS epoch FROM events),
         |shards AS (SELECT CAST(range AS INTEGER) AS shard FROM range(0, 10)),
         |assign AS (
         |  SELECT epoch, shard,
         |         CAST(shard % (1 + epoch % 5) + 1 AS INTEGER) AS gid
         |  FROM epochs, shards)
         |SELECT a.epoch AS from_cfg, b.epoch AS to_cfg, a.shard AS shard,
         |       a.gid AS from_gid, b.gid AS to_gid
         |FROM assign a JOIN assign b ON b.epoch = a.epoch + 1 AND b.shard = a.shard
         |WHERE a.gid <> b.gid
         |ORDER BY from_cfg, shard""".stripMargin,
    "shard_kv_state" ->
      s"""WITH ops AS (
         |  SELECT event_id AS seq, user_id AS client_id, event_id % 200 AS req_id,
         |         CASE WHEN event_type = 'signup' THEN 'put'
         |              WHEN event_type = 'view' THEN 'get'
         |              ELSE 'append' END AS kind,
         |         CAST(user_id % 50 AS VARCHAR) AS key,
         |         CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) AS value
         |  FROM events),
         |v AS (
         |  SELECT seq, client_id, req_id, kind, key, value FROM (
         |    SELECT *,
         |      CAST($SHARD_SQL % (1 + CAST(floor(seq / $EpochLen.0) AS BIGINT) % 5) + 1
         |           AS INTEGER) AS owner_gid,
         |      CAST($SHARD_SQL % (1 + CAST(floor(greatest(seq - $RouteLag, 0) / $EpochLen.0) AS BIGINT) % 5) + 1
         |           AS INTEGER) AS target_gid
         |    FROM ops)
         |  WHERE owner_gid = target_gid),
         |dedup AS (
         |  SELECT seq, client_id, req_id, kind, key, value FROM (
         |    SELECT *, row_number() OVER (PARTITION BY client_id, req_id ORDER BY seq) AS rn
         |    FROM v)
         |  WHERE rn = 1),
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

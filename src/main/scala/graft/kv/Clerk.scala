package graft.kv

import org.apache.spark.sql.SparkSession

/** Shared committed log and applied state for a set of concurrent
  * Clerks — the service half of the reference's kvraft client/server
  * pair (reference: src/kvraft/client.go + the GenericTest harness
  * test_test.go:131-235, which runs 1-5 clerks against one service).
  * Appends interleave under a lock, modeling the total order Raft's
  * log gives concurrent RPCs, and each op is applied once, as it is
  * logged, to the same state the reference's apply loop keeps
  * (src/kvraft/server.go:43,72-80): a `key -> value` map and an ack
  * table of the highest applied reqId per client. Gets read that map.
  * The log stays for the batch path: [[KVEngine.replay]] of `log` is
  * the oracle the applied map is checked against.
  *
  * Thread-safe by construction: `record` is the only mutation, and it
  * appends and applies under one lock, so a reader sees the log and
  * the state at the same position.
  */
class ClerkGroup(spark: SparkSession) {
  private var seq = 0L
  private val buf = scala.collection.mutable.ArrayBuffer[Op]()
  private val db = scala.collection.mutable.HashMap[String, String]()
  private val ack = scala.collection.mutable.HashMap[Long, Long]()

  // The ack table keeps one number per client, where KVEngine.dedup
  // keeps "first occurrence in log order wins". They agree because a
  // client's reqIds reach the log in increasing order the first time:
  // Clerk.record assigns the next reqId and records it under the
  // clerk's own lock, and a resend repeats only a reqId already logged.
  // So every reqId not yet applied is above the client's maximum.
  private[kv] def record(clientId: Long, reqId: Long, kind: String, key: String,
      value: String, copies: Int): Unit = synchronized {
    (0 until copies).foreach { _ =>
      seq += 1
      buf += Op(seq, clientId, reqId, kind, key, value)
      if (ack.get(clientId).forall(reqId > _)) {
        ack(clientId) = reqId
        kind match {
          case "put" => db(key) = value
          case "append" => db(key) = db.getOrElse(key, "") + value
          case _ => ()
        }
      }
    }
  }

  /** The applied value of `key`; missing key -> "" (reference
    * client.go:37, server.go:93-97). */
  private[kv] def read(key: String): String = synchronized { db.getOrElse(key, "") }

  def clerk(clientId: Long): Clerk = new Clerk(spark, clientId, this)

  /** The committed log so far — what the batch path replays. */
  def log: Seq[Op] = synchronized { buf.toSeq }
}

/** Client-facade parity with the reference's Clerk (reference:
  * src/kvraft/client.go — monotonic reqId under a lock :47-56, retry
  * loop :57-68). The Clerk's job is the *client half* of the
  * contract: assign (clientId, reqId) to each op and commit it to the
  * (possibly shared) group, which applies it once. Gets read the
  * group's applied map, so they see everything committed so far
  * (linearizable read-your-writes) and run no Spark job.
  * `sendDuplicates` models back-to-back at-least-once retries;
  * [[resendRandom]] models a stale retry arriving arbitrarily later,
  * interleaved with other clients — the ack table must absorb both
  * (K4), and KVEngineSpec / KVLinearizabilitySpec check the reads
  * against a replay of the same log.
  */
class Clerk(spark: SparkSession, clientId: Long, group: ClerkGroup) {

  def this(spark: SparkSession, clientId: Long) = this(spark, clientId, new ClerkGroup(spark))

  private var nextReq = 0L
  // issued write requests, for late retries: (reqId, kind, key, value)
  private val issued = scala.collection.mutable.ArrayBuffer[(Long, String, String, String)]()

  private def record(kind: String, key: String, value: String, copies: Int): Unit =
    synchronized {
      val reqId = { nextReq += 1; nextReq }
      issued += ((reqId, kind, key, value))
      group.record(clientId, reqId, kind, key, value, copies)
    }

  def put(key: String, value: String, sendDuplicates: Int = 1): Unit =
    record("put", key, value, sendDuplicates)

  def append(key: String, value: String, sendDuplicates: Int = 1): Unit =
    record("append", key, value, sendDuplicates)

  /** Re-send one of this clerk's past requests verbatim (same
    * clientId/reqId, new log position) — an at-least-once network
    * retry that surfaces late. Exactly-once apply must ignore it. */
  def resendRandom(rnd: scala.util.Random): Unit = synchronized {
    if (issued.nonEmpty) {
      val (reqId, kind, key, value) = issued(rnd.nextInt(issued.size))
      group.record(clientId, reqId, kind, key, value, 1)
    }
  }

  /** Linearizable read over everything committed to the group so far:
    * a lookup in the applied map. Missing key -> "" (reference
    * client.go:37). */
  def get(key: String): String = group.read(key)

  /** The committed log so far — what the batch path replays. */
  def log: Seq[Op] = group.log
}

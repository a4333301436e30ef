package graft.core

/** Scoped SQL-conf overrides — the "deliberate per-query knob" stance
  * shared by streaming state layout (StreamReplay.drain's stateParts)
  * and driver-looped iterative builds (TextAnalysis.bpeLoop): the
  * session-wide shuffle-partition default is sized for the BIG
  * one-shot shuffles (256, over-provisioned, AQE-coalesced — see
  * Tables.session), while a loop that launches a small job per
  * iteration over bounded state pays that default's task-scheduling
  * overhead once per round and wants its own size.
  */
object Confs {

  /** Run `body` with `spark.sql.shuffle.partitions` = n, restoring the
    * session value after. */
  def withShufflePartitions[T](
      spark: org.apache.spark.sql.SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }
}

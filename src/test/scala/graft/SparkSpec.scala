package graft

import org.apache.spark.sql.SparkSession
import org.scalactic.source.Position
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per JVM (suites run in the same forked JVM). */
object SparkSpec {
  lazy val spark: SparkSession = Tables.session("graft-test", cores = 4)
  val SF0001 = "/root/testdata/sf0.001"
  val SF001 = "/root/testdata/sf0.01"
  /** State partitions of the specs' hand-fed (MemoryStream) queries. */
  val StreamStateParts = 4
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.SF0001

  /** A test whose streaming queries start and run under
    * [[SparkSpec.StreamStateParts]] shuffle partitions. A stateful
    * query keeps one state store per shuffle partition and commits
    * every one on every micro-batch, so at the session's 256 a few
    * hand-fed rows cost minutes. Replays over the test corpora size
    * their own (StreamReplay.drain). */
  def streamTest(name: String)(body: => Any)(implicit pos: Position): Unit =
    test(name)(graft.core.Confs.withShufflePartitions(spark, SparkSpec.StreamStateParts)(body))
}

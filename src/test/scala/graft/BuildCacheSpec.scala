package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.operators.SkippingIndex
import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** [[BuildCache]]: hits only while the files a build read are
  * unchanged, frees what a stale entry held, and nests. */
class BuildCacheSpec extends SparkSpec {

  /** One parquet file's bytes for `df`, written through a staging dir. */
  private def parquetBytes(df: DataFrame, staging: Path): Array[Byte] = {
    val dir = staging.resolve(s"w${System.nanoTime()}")
    df.coalesce(1).write.parquet(dir.toString)
    val part = Files.list(dir)
    try Files.readAllBytes(part.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get)
    finally part.close()
  }

  private def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)

  private def rddIds(dfs: DataFrame*): Seq[Int] =
    dfs.flatMap(_.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id })

  private def blocksOf(ids: Seq[Int]): Set[String] =
    org.apache.spark.graftbus.CachedBlocks.rddBlocks()
      .filter(b => ids.exists(id => b.startsWith(s"rdd_${id}_")))

  private val tmpRoot = Path.of(System.getProperty("java.io.tmpdir"))

  /** The windowed replay's cached fixture roots now on disk. */
  private def tevRoots(): Set[Path] = {
    val s = Files.list(tmpRoot)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_fixture_tev-4_")).toSet
    finally s.close()
  }

  test("a corpus rewritten in place rebuilds every cached artifact, " +
      "inside and after the mtime window") {
    val tmp = Files.createTempDirectory("graft-buildcache")
    val layouts = scala.collection.mutable.Set.empty[Path]
    try {
      val dir = tmp.toString
      val docs0 = Tables.documents(spark, sf0001)
      val events0 = Tables.events(spark, sf0001)
      // each version plants one more exact copy of a corpus doc and
      // drops another slice of events, so every artifact's content moves
      def write(version: Int): Unit = {
        val planted = (1 to version).map(i => docs0.filter(col("doc_id") === i)
          .withColumn("doc_id", lit(9000L + i)))
        val docs = planted.foldLeft(docs0)(_ unionByName _)
        val events = events0.filter(col("event_id") % 7 =!= version)
        val d = parquetBytes(docs, tmp)
        val e = parquetBytes(events, tmp)
        Files.write(tmp.resolve("documents.parquet"), d)
        Files.write(tmp.resolve("events.parquet"), e)
      }
      def check(version: Int, prev: Option[(Dedup.NearDupIndex, String, Path)])
          : (Dedup.NearDupIndex, String, Path) = {
        val docs = Tables.documents(spark, dir)
        val rootsBefore = tevRoots()
        val idx = Dedup.nearDupIndexCached(docs)
        assert(Dedup.nearDupIndexCached(Tables.documents(spark, dir)) eq idx,
          "an unchanged corpus must hit")
        // rows of the NEW content: the planted copies cluster with their originals
        val inline = Dedup.nearDupIndex(docs)
        assert(rows(idx.clusters) == rows(inline.clusters))
        assert(rows(idx.pairs) == rows(inline.pairs))
        val planted = idx.clusters.filter(col("doc_id") >= 9000L)
          .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
        assert(planted == (1 to version).map(9000L + _).toSet)
        val (layoutEvents, zones) = SkippingIndex.eventsByUserRange(spark, dir)
        layouts += Path.of(layoutEvents).getParent
        assert(zones.map(_.rows).sum == Tables.events(spark, dir).count())
        def counts(df: DataFrame) = df.select("w_start", "event_type", "n")
          .orderBy("w_start", "event_type").collect().toSeq
        assert(counts(graft.streaming.StreamReplay.windowedReplay(spark, dir)) ==
          counts(SparkEntry.queries("ev_hourly")(spark, dir)))
        val newRoots = tevRoots() -- rootsBefore
        assert(newRoots.size == 1, s"expected one fixture build, got $newRoots")
        prev.foreach { case (old, oldLayout, oldRoot) =>
          assert(!(idx eq old), "a rewritten corpus must rebuild the index")
          assert(layoutEvents != oldLayout, "the skipping index must re-resolve its layout")
          assert(!Files.exists(oldRoot), s"the stale fixture root $oldRoot was not deleted")
          val ids = rddIds(old.pairs, old.clusters)
          eventually(timeout(20.seconds), interval(200.millis)) {
            assert(blocksOf(ids).isEmpty, "the stale index's checkpoint blocks are still cached")
          }
        }
        assert(blocksOf(rddIds(idx.pairs, idx.clusters)).nonEmpty)
        (idx, layoutEvents, newRoots.head)
      }
      write(1)
      val v1 = check(1, None)
      // rewritten at once: inside the 2 s window in which LayoutStore
      // distrusts a fresh mtime and re-samples the file
      write(2)
      val v2 = check(2, Some(v1))
      // at rest past the window the content tags are memoized; a later
      // in-place rewrite must still be seen
      Thread.sleep(2500)
      assert(Dedup.nearDupIndexCached(Tables.documents(spark, dir)) eq v2._1)
      write(3)
      Thread.sleep(2500)
      check(3, Some(v2))
    } finally {
      BuildCache.clear()
      layouts.foreach(graft.core.Fs.rmTreeNoFollow)
      graft.core.Fs.rmTreeNoFollow(tmp)
    }
  }

  test("a stale, failed or cleared entry runs its free actions; a nested build completes") {
    val tmp = Files.createTempDirectory("graft-buildcache")
    try {
      val file = tmp.resolve("in.txt")
      Files.writeString(file, "one")
      val freed = scala.collection.mutable.ArrayBuffer.empty[String]
      def lookup(): String =
        BuildCache("spec-outer", BuildCache.files(spark, tmp.toString, "in.txt")) {
          // re-entrant: a build that looks up another entry on this thread
          val inner = BuildCache("spec-inner", BuildCache.files(spark, tmp.toString, "in.txt")) {
            val v = Files.readString(file)
            BuildCache.onFree(freed += s"inner:$v")
            v
          }
          BuildCache.onFree(freed += s"outer:$inner")
          inner.toUpperCase
        }
      val s0 = BuildCache.stats
      assert(lookup() == "ONE")
      assert(lookup() == "ONE")
      val s1 = BuildCache.stats - s0
      assert(s1.builds == 2 && s1.hits == 1, s1)
      Files.writeString(file, "two")
      assert(lookup() == "TWO")
      assert(freed.toSet == Set("outer:one", "inner:one"))
      // a build that throws frees what it registered and caches nothing
      val failed = intercept[IllegalStateException] {
        BuildCache("spec-failing", BuildCache.files(spark, tmp.toString, "in.txt")) {
          BuildCache.onFree(freed += "failing")
          throw new IllegalStateException("boom")
        }
      }
      assert(failed.getMessage == "boom" && freed.contains("failing"))
      assert(BuildCache("spec-failing", BuildCache.files(spark, tmp.toString, "in.txt"))(1) == 1)
      BuildCache.clear()
      assert(freed.toSet.contains("outer:two") && freed.toSet.contains("inner:two"))
    } finally graft.core.Fs.rmTreeNoFollow(tmp)
  }

  test("dedup_components serves the cluster map with no exchange and no sort") {
    val q = SparkEntry.queries("dedup_components")
    val expected = Dedup.components(Dedup.minhashCandidates(Tables.documents(spark, sf0001)))
      .orderBy("doc_id").collect().toSeq
    q(spark, sf0001).collect()
    val df = q(spark, sf0001)
    assert(df.collect().toSeq == expected)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Sort"), plan)
  }
}

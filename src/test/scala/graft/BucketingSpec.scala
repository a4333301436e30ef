package graft

import graft.kv.{Aggregators, KVEngine, OpLog}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Scale levers that need a persisted layout or a typed-UDAF surface:
  * bucketed co-located joins (no shuffle of either side) and the
  * Aggregator form of the order-sensitive fold.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with zero shuffle exchanges") {
    val wh = Files.createTempDirectory("graft_wh").toString
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")

    Tables.lineitem(spark, sf0001)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    Tables.orders(spark, sf0001)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(sum("l_quantity").as("q"))

    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Seq[ShuffleExchangeExec] = {
      val here = p.collect { case e: ShuffleExchangeExec => e }
      val inner = p.collect { case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan) }.flatten
      here ++ inner
    }
    // disable broadcast for this check so the join strategy is SMJ;
    // bucketing must remove BOTH join-side shuffles (only the final
    // 3-group agg exchange remains)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val n = shuffles(joined.queryExecution.executedPlan).size
      assert(n <= 1, s"expected co-located join, got $n shuffles")
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("rel_bucket_join serve plan: SMJ with zero join-side shuffles, exact qty cast") {
    // the GATED serve path (operators.BucketedTables.colocatedJoin),
    // not a spec-local rebuild: hint("merge") must hold the strategy
    // at SMJ and the bucketed layout must feed it shuffle-free — the
    // only allowed exchange is the final small-group agg's
    val joined = graft.operators.BucketedTables.colocatedJoin(spark, sf0001)
    assert(joined.count() > 0)
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.collect { case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan) }.flatten
    val executed = joined.queryExecution.executedPlan
    val smjs = unwrap(executed).flatMap(_.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    })
    assert(smjs.nonEmpty, s"merge hint did not hold:\n$executed")
    // the lever under test: NOTHING below the join repartitions — both
    // sides are bucketed scans (the agg and final ORDER BY exchanges
    // above the join are group-sized, not fact-sized)
    val joinSideShuffles = smjs.flatMap(_.collect { case e: ShuffleExchangeExec => e })
    assert(joinSideShuffles.isEmpty,
      s"expected co-located join, got ${joinSideShuffles.size} join-side shuffles:\n$executed")
    assert(executed.toString.contains("Bucketed: true"),
      s"join sides are not bucketed scans:\n$executed")
    // round 13: the layout's sortBy must reach the SMJ — Spark honors
    // bucket sortedness only when each bucket is ONE file, so a
    // multi-file layout silently re-sorts both fact sides at serve
    // time (4.6 GB of sort spill per join at the 100x rung). Zero
    // join-side SortExec = the pre-paid order is actually being served
    val joinSideSorts = smjs.flatMap(_.collect {
      case s: org.apache.spark.sql.execution.SortExec => s })
    assert(joinSideSorts.isEmpty,
      s"bucketed SMJ re-sorts at serve time (${joinSideSorts.size} sorts):\n$executed")
    // and the layout property that makes it possible: one file per bucket
    val (liName2, _) = graft.operators.BucketedTables.orderkeyBucketed(spark, sf0001)
    val layoutRoot = graft.operators.LayoutStore.layoutDir("bucketedv2", sf0001,
      Seq("lineitem.parquet", "orders.parquet"))
    Seq("lineitem", "orders").foreach { t =>
      val s = java.nio.file.Files.list(layoutRoot.resolve(t))
      val parts = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("part-")).toVector
      } finally s.close()
      assert(parts.size == graft.operators.BucketedTables.NumBuckets,
        s"$t layout has ${parts.size} files for ${graft.operators.BucketedTables.NumBuckets} buckets: $parts")
    }
    assert(liName2.nonEmpty)
    // the serve's sum(cast(l_quantity as long)) is exact only while
    // quantities are integral — enforce the schema contract the query
    // relies on
    val nonIntegral = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") =!= col("l_quantity").cast("long").cast("double"))
      .count()
    assert(nonIntegral == 0, s"$nonIntegral non-integral l_quantity rows")
  }

  test("bucketed point lookup prunes to one bucket (SelectedBucketsCount 1/8)") {
    // the layout's second dividend: an equality predicate on the
    // bucket column needs only hash(key)'s bucket — at 100 TB a point
    // probe reads 1/N of the table without any index structure
    val (li, _) = graft.operators.BucketedTables.orderkeyBucketed(spark, sf0001)
    // autoBucketedScan disables bucketed reading (and with it bucket
    // pruning) for plans with no exchange to eliminate — a point probe
    // is exactly that plan, so turn the heuristic off for the probe
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val oldV = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val probe = spark.table(li).filter(col("l_orderkey") === 42L)
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning lost:\n$plan")
    } finally spark.conf.set(key, oldV)
  }

  test("SkippingIndex: zone-map serve reads 1-2 of 16 files and equals the full scan") {
    val ev = Tables.events(spark, sf0001)
    // max user id: guaranteed present at ANY sf (min+42 may fall in an
    // inter-zone gap at sf0.001 — the gated query probes it at gate
    // scale, where it exists; the absent-key path is pinned below)
    val uid = ev.agg(max("user_id")).head().getLong(0)
    val (served, hitFiles) = graft.operators.SkippingIndex.userRollup(spark, sf0001, uid)
    // range-disjoint files: a point key lives in one file (two only if
    // it straddles a range boundary)
    assert(hitFiles >= 1 && hitFiles <= 2, s"zone map pruned to $hitFiles files")
    val full = ev.filter(col("user_id") === uid)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("event_type")
    assert(served.collect().toSeq == full.collect().toSeq && served.count() > 0)
    // absent key (above every zone): the manifest proves it without
    // touching a data file — 0 files read, empty result
    val (absent, absentFiles) =
      graft.operators.SkippingIndex.userRollup(spark, sf0001, uid + 1000)
    assert(absentFiles == 0 && absent.isEmpty)
  }

  test("ZOrderIndex: BOTH dimensions prune — the square-vs-stripe claim") {
    val ev = Tables.events(spark, sf0001)
    val (_, zones) = graft.operators.ZOrderIndex.eventsByZOrder(spark, sf0001)
    val nFiles = zones.size

    // dimension 1: a present point user reads a fraction of the files
    val uid = ev.agg(max("user_id")).head().getLong(0)
    val (served, uidFiles) = graft.operators.ZOrderIndex.userRollup(spark, sf0001, uid)
    assert(uidFiles < nFiles, s"uid probe read all $nFiles files")
    val fullU = ev.filter(col("user_id") === uid)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("event_type")
    assert(served.collect().toSeq == fullU.collect().toSeq && served.count() > 0)

    // dimension 2: a 3-day window also reads a fraction — the probe a
    // user-range stripe layout cannot skip one file for
    val d0 = zones.map(_.minDay).min
    val (dayServed, dayFiles) =
      graft.operators.ZOrderIndex.dayWindowRollup(spark, sf0001, d0 + 10, d0 + 12)
    assert(dayFiles < nFiles, s"day probe read all $nFiles files")
    val dayCol = datediff(to_date(Tables.eventTime(ev)), lit("1970-01-01").cast("date"))
    val fullD = ev.filter(dayCol >= d0 + 10 && dayCol <= d0 + 12)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .orderBy("event_type")
    assert(dayServed.collect().toSeq == fullD.collect().toSeq && dayServed.count() > 0)

    // negative control: the SAME day window against a single-column
    // user-range STRIPE layout admits EVERY file — day is independent
    // of user, so each uid stripe spans (nearly) all days. Model the
    // 16 stripes as uid ntiles (what repartitionByRange produces) and
    // check every stripe's day range covers the probe window.
    val stripes = ev
      .select(col("user_id"), dayCol.as("day"))
      .withColumn("stripe", ntile(16).over(
        org.apache.spark.sql.expressions.Window.orderBy("user_id")))
      .groupBy("stripe").agg(min("day").as("mn"), max("day").as("mx"))
      .collect()
    assert(stripes.length == 16 &&
      stripes.forall(r => r.getInt(1) <= d0 + 10 && d0 + 12 <= r.getInt(2)),
      "user-range stripes would have pruned the day window — control invalid")
  }

  test("rel_merge_bucketed: the MERGE's bucketed base side is never shuffled") {
    // the MergeInto layout claim, pinned: a full-outer merge join over
    // the bucketBy(orderkey) base takes the bucket distribution as-is;
    // only the change batch repartitions to match
    val df = graft.operators.BucketedTables.mergeBucketed(spark, sf0001)
    assert(df.count() > 0)
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.collect { case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan) }.flatten
    val smjs = unwrap(df.queryExecution.executedPlan).flatMap(_.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.FullOuter => j
    })
    assert(smjs.nonEmpty, s"no full-outer SMJ:\n${df.queryExecution.executedPlan}")
    val j = smjs.head
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles(j.left).isEmpty,
      s"bucketed MERGE base side was shuffled:\n${j.left}")
    assert(j.left.toString.contains("Bucketed: true"),
      s"MERGE base is not a bucketed scan:\n${j.left}")
    assert(shuffles(j.right).size == 1,
      s"expected exactly one changes-side shuffle:\n${j.right}")
  }

  test("persisted layouts: a restarted session serves all four scan levers with zero rebuild") {
    import graft.operators._
    // warm every layout (publishes under /tmp graft_layouts if absent)
    val firstSkip = SkippingIndex.gatedUserRollup(spark, sf0001).collect().toSeq
    val firstZ = ZOrderIndex.gatedDayWindowRollup(spark, sf0001).collect().toSeq
    val firstDay = PartitionedTables.dayRollup(spark, sf0001).collect().toSeq
    val firstBucket = BucketedTables.colocatedJoin(spark, sf0001).collect().toSeq
    val (liName, ordName) = BucketedTables.orderkeyBucketed(spark, sf0001)

    // snapshot the persisted bytes: (path, size, mtime) of every file
    def snap(kind: String, srcs: Seq[String]): Seq[(String, Long, Long)] = {
      val root = LayoutStore.layoutDir(kind, sf0001, srcs)
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => (p.toString, java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
          .toVector.sortBy(_._1)
      } finally s.close()
    }
    val kinds = Seq(
      ("skip_idx", Seq("events.parquet")),
      ("zorder", Seq("events.parquet")),
      ("events_byday_v2", Seq("events.parquet")),
      ("bucketedv2", Seq("lineitem.parquet", "orders.parquet")))
    val before = kinds.map { case (k, s) => snap(k, s) }

    // "restart": forget every in-session memo AND the catalog entries
    // (a new driver's in-memory catalog is empty)
    BuildCache.clear()
    spark.sql(s"DROP TABLE IF EXISTS $liName")
    spark.sql(s"DROP TABLE IF EXISTS $ordName")

    // second "session" serves identical rows...
    assert(SkippingIndex.gatedUserRollup(spark, sf0001).collect().toSeq == firstSkip)
    assert(ZOrderIndex.gatedDayWindowRollup(spark, sf0001).collect().toSeq == firstZ)
    assert(PartitionedTables.dayRollup(spark, sf0001).collect().toSeq == firstDay)
    assert(BucketedTables.colocatedJoin(spark, sf0001).collect().toSeq == firstBucket)
    // ...from byte-identical untouched layouts: no rebuild wrote a thing
    val after = kinds.map { case (k, s) => snap(k, s) }
    kinds.zip(before.zip(after)).foreach { case ((k, _), (b, a)) =>
      assert(b == a, s"layout $k was rewritten on the restart path")
    }
    // the re-registered bucketed tables still carry the bucket spec —
    // the serve plan evidence (zero join-side exchanges) is pinned by
    // the SMJ test above and runs against the same registration path
    val (li2, _) = BucketedTables.orderkeyBucketed(spark, sf0001)
    val bucketSpec = spark.sql(s"DESCRIBE TABLE EXTENDED $li2")
      .filter(col("col_name") === "Num Buckets").collect()
    assert(bucketSpec.nonEmpty && bucketSpec.head.getString(1).trim == "8",
      "re-registered table lost its bucket spec")
  }

  test("LayoutStore sweeps >24h-stale same-kind SAME-SOURCE siblings, spares fresh + other sources") {
    import graft.operators.LayoutStore
    val root = java.nio.file.Files.createTempDirectory("graft_sweep_spec_")
    def mk(name: String, old: Boolean): java.nio.file.Path = {
      val p = root.resolve(name)
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.writeString(p.resolve(LayoutStore.Marker), "ok")
      if (old) java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.from(
          java.time.Instant.now().minus(java.time.Duration.ofHours(48))))
      p
    }
    val stale = mk("testkind-srcaaaa11-00000000deadbeef", old = true)
    val staleStaging = mk("testkind-srcaaaa11-00000000deadbeef.staging-1-1", old = true)
    val fresh = mk("testkind-srcaaaa11-00000000cafebabe", old = false)
    val otherKind = mk("otherkind-srcaaaa11-00000000deadbeef", old = true)
    // the ADVICE r11 case: same kind, DIFFERENT source (another scale
    // factor), old — its source never changed, so it must survive
    val otherSource = mk("testkind-srcbbbb22-00000000deadbeef", old = true)
    // pre-r12 LEGACY format (kind-fp16, no source segment): an old one
    // must still be retired (else orphaned forever), a fresh one spared
    val legacyStale = mk("testkind-00000000deadbeef", old = true)
    val legacyFresh = mk("testkind-00000000cafebabe", old = false)
    val legacyOtherKind = mk("otherkind2-00000000deadbeef", old = true)
    // publish a NEW fingerprint of the same kind+source -> stale
    // same-source siblings go; fresh, other kinds, other sources stay
    val target = root.resolve("testkind-srcaaaa11-0000000012345678")
    LayoutStore.getOrBuild(target) { staging =>
      java.nio.file.Files.writeString(staging.resolve("data"), "x")
    }
    assert(LayoutStore.ready(target))
    assert(!java.nio.file.Files.exists(stale), "stale sibling survived the sweep")
    assert(!java.nio.file.Files.exists(staleStaging), "abandoned staging survived")
    assert(java.nio.file.Files.exists(fresh), "fresh sibling was swept")
    assert(java.nio.file.Files.exists(otherKind), "other kind was swept")
    assert(java.nio.file.Files.exists(otherSource),
      "another source's still-valid layout was swept (the r11 ADVICE bug)")
    assert(!java.nio.file.Files.exists(legacyStale),
      "pre-r12 legacy-format layout was orphaned instead of retired")
    assert(java.nio.file.Files.exists(legacyFresh), "fresh legacy layout was swept")
    assert(java.nio.file.Files.exists(legacyOtherKind), "legacy of another kind was swept")
    graft.core.Fs.rmTreeNoFollow(root)
  }

  test("LayoutStore fingerprint is content-addressed: mtime-only restore serves, byte edit rebuilds") {
    import graft.operators.LayoutStore
    val src = java.nio.file.Files.createTempDirectory("graft_fp_src_")
    val table = src.resolve("t.parquet")
    java.nio.file.Files.createDirectories(table)
    val part = table.resolve("part-0")
    java.nio.file.Files.write(part, Array.tabulate(20000)(i => (i % 251).toByte))
    val fp1 = LayoutStore.fingerprint(src.toString, Seq("t.parquet"))
    // a byte-identical restore with fresh mtimes (rsync without -t, a
    // re-clone) must NOT change identity — no spurious 100 TB rewrite
    java.nio.file.Files.setLastModifiedTime(part,
      java.nio.file.attribute.FileTime.from(java.time.Instant.now().plusSeconds(3600)))
    assert(LayoutStore.fingerprint(src.toString, Seq("t.parquet")) == fp1,
      "fresh mtime on identical bytes changed the fingerprint")
    assert(LayoutStore.layoutDir("k", src.toString, Seq("t.parquet")) ==
      LayoutStore.layoutDir("k", src.toString, Seq("t.parquet")))
    // a real rewrite (tail bytes change — where a parquet footer lives)
    // MUST change identity
    val bytes = java.nio.file.Files.readAllBytes(part)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x7f).toByte
    java.nio.file.Files.write(part, bytes)
    assert(LayoutStore.fingerprint(src.toString, Seq("t.parquet")) != fp1,
      "tail-byte rewrite kept the old fingerprint")
    // a head-block change is caught too
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x7f).toByte // restore tail
    bytes(0) = (bytes(0) ^ 0x7f).toByte
    java.nio.file.Files.write(part, bytes)
    assert(LayoutStore.fingerprint(src.toString, Seq("t.parquet")) != fp1,
      "head-byte rewrite kept the old fingerprint")
    // two different SOURCE dirs with identical content get
    // different layout DIRS (sourceId), so retention never crosses them
    val src2 = java.nio.file.Files.createTempDirectory("graft_fp_src2_")
    val t2 = src2.resolve("t.parquet"); java.nio.file.Files.createDirectories(t2)
    java.nio.file.Files.copy(part, t2.resolve("part-0"))
    assert(LayoutStore.layoutDir("k", src.toString, Seq("t.parquet")) !=
      LayoutStore.layoutDir("k", src2.toString, Seq("t.parquet")),
      "two sources with identical content collided in layout identity")
    graft.core.Fs.rmTreeNoFollow(src); graft.core.Fs.rmTreeNoFollow(src2)
  }

  test("LayoutStore serves the existing layout across an mtime-touching restore (no rebuild)") {
    import graft.operators.LayoutStore
    val src = java.nio.file.Files.createTempDirectory("graft_restore_src_")
    val table = src.resolve("t.parquet")
    java.nio.file.Files.createDirectories(table)
    val part = table.resolve("part-0")
    java.nio.file.Files.write(part, Array.tabulate(9000)(i => (i * 7 % 251).toByte))
    var builds = 0
    val d1 = LayoutStore.getOrBuild(
      LayoutStore.layoutDir("restoretest", src.toString, Seq("t.parquet"))) { st =>
      builds += 1
      java.nio.file.Files.writeString(st.resolve("layout"), "bytes")
    }
    // simulate the restore: same bytes, new mtimes on every source file
    java.nio.file.Files.setLastModifiedTime(part,
      java.nio.file.attribute.FileTime.from(java.time.Instant.now().plusSeconds(7200)))
    val d2 = LayoutStore.getOrBuild(
      LayoutStore.layoutDir("restoretest", src.toString, Seq("t.parquet"))) { st =>
      builds += 1
      java.nio.file.Files.writeString(st.resolve("layout"), "bytes")
    }
    assert(d1 == d2, "restore was routed to a different layout dir")
    assert(builds == 1, s"mtime-only restore triggered a rebuild (builds=$builds)")
    graft.core.Fs.rmTreeNoFollow(d1)
    graft.core.Fs.rmTreeNoFollow(src)
  }

  test("LayoutStore: same-size same-millisecond rewrite changes the fingerprint (memo race)") {
    import graft.operators.LayoutStore
    // the classic rsync race (advice r12): a same-size rewrite landing
    // within the filesystem timestamp granularity of the memoized stat
    // must not be served a stale tag — recently-touched files re-sample
    val src = java.nio.file.Files.createTempDirectory("graft_race_src_")
    val table = src.resolve("t.parquet")
    java.nio.file.Files.createDirectories(table)
    val part = table.resolve("part-0")
    val bytes = Array.tabulate(9000)(i => (i % 251).toByte)
    java.nio.file.Files.write(part, bytes)
    val fp1 = LayoutStore.fingerprint(src.toString, Seq("t.parquet")) // memo warms here
    // immediate same-size rewrite: same length, different tail byte —
    // on a coarse-granularity fs the stat is indistinguishable
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x7f).toByte
    java.nio.file.Files.write(part, bytes)
    assert(LayoutStore.fingerprint(src.toString, Seq("t.parquet")) != fp1,
      "same-millisecond same-size rewrite was served the stale memoized tag")
    graft.core.Fs.rmTreeNoFollow(src)
  }

  test("LayoutStore: a tag computed inside the distrust window is not memoized (residual memo race)") {
    import graft.operators.LayoutStore
    // r13 advice: the 2s window re-SAMPLED recently-touched files but
    // still memoized the result — a same-size in-place rewrite landing
    // in the same coarse mtime quantum after that put would validate
    // against the stale tag once the window passed. The fix: never put
    // under a distrusted mtime.
    val src = java.nio.file.Files.createTempDirectory("graft_race2_src_")
    val table = src.resolve("t.parquet")
    java.nio.file.Files.createDirectories(table)
    val part = table.resolve("part-0")
    val bytes = Array.tabulate(9000)(i => (i % 251).toByte)
    java.nio.file.Files.write(part, bytes)
    // mtime = NOW: the first lookup is safely inside the 2s distrust
    // window (and under the fix does NOT memoize)
    val quantum = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
    java.nio.file.Files.setLastModifiedTime(part, quantum)
    val fp1 = LayoutStore.fingerprint(src.toString, Seq("t.parquet"))
    // in-place same-size rewrite (same inode — fileKey cannot help),
    // mtime pinned to the SAME quantum, as a coarse filesystem would
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x7f).toByte
    java.nio.file.Files.write(part, bytes)
    java.nio.file.Files.setLastModifiedTime(part, quantum)
    // let the distrust window expire: the memo (if one was wrongly
    // stored) would now be TRUSTED — (size, mtime, fileKey) all match
    Thread.sleep(2100)
    assert(LayoutStore.fingerprint(src.toString, Seq("t.parquet")) != fp1,
      "stale tag memoized during the distrust window was served after it")
    graft.core.Fs.rmTreeNoFollow(src)
  }

  test("LayoutStore: publishing a successor kind sweeps retired-kind dirs off disk") {
    import graft.operators.LayoutStore
    // r13 advice: the bucketed->bucketedv2 rename orphaned every
    // pre-r13 'bucketed-*' layout permanently (sweepStale groups by
    // the published prefix, which a renamed kind never matches)
    val root = java.nio.file.Files.createTempDirectory("graft_retire_")
    def mk(name: String, age: java.time.Duration): java.nio.file.Path = {
      val d = root.resolve(name)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("data"), "x")
      java.nio.file.Files.setLastModifiedTime(d,
        java.nio.file.attribute.FileTime.from(java.time.Instant.now().minus(age)))
      d
    }
    // retired-kind sweeps use the 7-DAY upgrade-window grace (advice
    // r14: reads don't bump mtime, so a pre-upgrade process sharing
    // the root could be serving a dir that is merely >24h old)
    val d8 = java.time.Duration.ofDays(8)
    val legacyEra = mk("bucketed-0123456789abcdef", d8) // pre-source-scoping name
    val scopedOld = mk("bucketed-aaaaaaaa-fedcba9876543210", d8)
    val inWindow = mk("bucketed-eeeeeeee-4444444444444444",
      java.time.Duration.ofHours(25)) // stale by the 24h rule, inside the upgrade window
    val fresh = mk("bucketed-bbbbbbbb-1111111111111111", java.time.Duration.ZERO)
    val other = mk("zorder-cccccccc-2222222222222222", d8) // unrelated kind
    val v2 = LayoutStore.getOrBuild(
      root.resolve("bucketedv2-dddddddd-3333333333333333")) { staging =>
      java.nio.file.Files.writeString(staging.resolve("data"), "y")
    }
    assert(LayoutStore.ready(v2))
    assert(!java.nio.file.Files.exists(legacyEra),
      "legacy-era retired-kind dir survived the v2 publish")
    assert(!java.nio.file.Files.exists(scopedOld),
      "source-scoped retired-kind dir survived the v2 publish")
    assert(java.nio.file.Files.exists(inWindow),
      "a retired-kind dir inside the 7-day upgrade window was swept " +
        "(a pre-upgrade session may still be serving it)")
    assert(java.nio.file.Files.exists(fresh),
      "a fresh retired-kind dir was swept (a session may still be serving it)")
    assert(java.nio.file.Files.exists(other), "an unrelated kind was swept")
    graft.core.Fs.rmTreeNoFollow(root)
  }

  test("LayoutStore rejects a layout kind containing '-' (name grammar stays parseable)") {
    // sweepStale derives the legacy kind from the published name's
    // first dash — a dashed kind would silently orphan legacy dirs
    intercept[IllegalArgumentException] {
      graft.operators.LayoutStore.layoutDir("bad-kind", sf0001, Seq("documents.parquet"))
    }
  }

  test("AppendFold Aggregator == streaming-sort replay, under any input order") {
    val ops = OpLog.fromEvents(Tables.events(spark, sf0001))
    val viaReplay = KVEngine.replay(ops).as[(String, String)].collect().toMap
    val writes = KVEngine.dedup(ops).filter(col("kind") =!= "get").as[graft.kv.Op]
    val viaAgg = writes
      .orderBy(rand(42)) // adversarial input order
      .groupByKey(_.key)
      .agg(Aggregators.AppendFold.toColumn.name("value"))
      .collect().toMap
    assert(viaAgg == viaReplay)
  }

  test("SumEncoded Aggregator registers via functions.udaf (reference reduceF surface)") {
    val sumEnc = udaf(Aggregators.SumEncoded)
    val got = Seq(("a", "1"), ("a", "2"), ("b", "40")).toDF("key", "value")
      .groupBy("key").agg(sumEnc(col("value")).as("s"))
      .as[(String, String)].collect().toMap
    assert(got == Map("a" -> "3", "b" -> "40"))
  }
}

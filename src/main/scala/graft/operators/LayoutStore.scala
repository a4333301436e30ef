package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Cross-session persistence for the scan-lever LAYOUTS — the same
  * build-serve split the ANN/PCA/span artifacts got in round 9
  * ([[graft.pipeline.Similarity.writeIvfIndex]] stance), applied to
  * the table layouts themselves: a 100 TB lake rewrites a fact table
  * bucketed / date-partitioned / z-clustered ONCE at ingest, and every
  * later session serves from the persisted layout + its zone manifest
  * with zero rebuild jobs — exactly what a Delta/Iceberg snapshot is.
  *
  * Layout identity = `kind-srcId-fp`: a SOURCE id (hash of the source
  * directory path — which lake table this layout belongs to) plus a
  * CONTENT fingerprint of the source parquet (per file: relative path,
  * size, md5 of the first+last 4 KiB). The fingerprint is part of the
  * layout's directory name, so a regenerated source can never serve a
  * stale layout (it simply misses and rebuilds under a new name) and
  * no invalidation protocol is needed.
  *
  * Content-addressed, NOT mtime-keyed (round-12): a byte-identical
  * corpus restored with fresh mtimes (rsync without -t, a re-clone, a
  * lake migration keeping paths) serves the existing layout instead of
  * silently rebuilding every layout — at 100 TB a spurious full
  * rewrite is the expensive failure mode. The sampled-block trade: a
  * same-size edit touching ONLY bytes outside the first/last 4 KiB is
  * invisible to the tag — impossible for parquet, whose footer (row
  * group offsets, column stats, created_by) lives in the tail block
  * and changes on any legitimate rewrite. Cost: one bounded 8 KiB read
  * per source FILE per lookup, never a full scan.
  *
  * Publication protocol (single-writer per layout, like
  * [[StandingTable]]; concurrent BUILDERS of the same fingerprint are
  * tolerated): build into a process-private `.staging-<pid>` sibling,
  * write the `_GRAFT_LAYOUT_OK` marker LAST, then atomically rename
  * into place. A concurrent winner makes the rename fail — the loser
  * deletes its staging and serves the winner's (identical-content)
  * layout. Readers trust only the marker: a dir without it is an
  * abandoned partial and is rebuilt.
  */
object LayoutStore {

  /** Stable root for persisted layouts: `SPARK_GRAFT_LAYOUT_ROOT` when
    * set (the lake path a deployment would point at), else the system
    * temp dir. Namespaced, fingerprint in the leaf name. Survives
    * driver restarts within a host either way. */
  def layoutDir(kind: String, sfDir: String, sources: Seq[String]): Path = {
    // the layout-name grammar is `kind-srcId-fp` split on '-';
    // [[sweepStale]]'s legacy-era matcher re-derives `kind` from the
    // name, so a dash inside kind would silently orphan legacy dirs
    require(!kind.contains('-'), s"layout kind must not contain '-': $kind")
    val fp = fingerprint(sfDir, sources)
    val root = sys.env.getOrElse("SPARK_GRAFT_LAYOUT_ROOT",
      Paths.get(sys.props("java.io.tmpdir"), "graft_layouts").toString)
    Paths.get(root, s"$kind-${sourceId(sfDir)}-$fp")
  }

  /** Which SOURCE a layout belongs to — a hash of the normalized
    * source directory path. Part of the layout name so retention
    * ([[sweepStale]]) only ever groups siblings of the SAME source: a
    * fresh publish for one sfDir must never sweep another sfDir's
    * still-valid layout whose source never changed (two scale factors
    * share every `kind`). */
  def sourceId(sfDir: String): String =
    graft.Verify.md5(Paths.get(sfDir).toAbsolutePath.normalize.toString).take(8)

  /** Content fingerprint: md5 over each source file's (path relative
    * to sfDir, length, md5 of first+last 4 KiB). Directories
    * (multi-file parquet) fold in every regular file, sorted. No
    * mtimes — see the object scaladoc for the restore/trade analysis. */
  def fingerprint(sfDir: String, sources: Seq[String]): String =
    fingerprintFiles(Paths.get(sfDir), sources.map(Paths.get(sfDir, _)))

  /** [[fingerprint]] of `paths`, each named relative to `base`; a
    * directory folds in every regular file below it, sorted. */
  def fingerprintFiles(base: Path, paths: Seq[Path]): String = {
    val root = base.toAbsolutePath.normalize
    val parts = paths.flatMap { f =>
      val files =
        if (Files.isDirectory(f)) {
          val s = Files.walk(f)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
          } finally s.close()
        } else Vector(f)
      files.map { p =>
        val rel = root.relativize(p.toAbsolutePath.normalize)
        s"$rel:${Files.size(p)}:${contentTag(p)}"
      }
    }
    graft.Verify.md5(parts.mkString("\n")).take(16)
  }

  /** Session memo for content tags, ONE entry per path holding the
    * (size, mtime-nanos, fileKey) it was computed under — a cache
    * VALIDATOR, not identity: a touched mtime just recomputes the
    * 8 KiB sample (and gets the same tag for the same bytes), so
    * every serve-path layoutDir call after the first is stat-only
    * while the layout NAME stays purely content-derived. Keying by
    * path (validator in the VALUE, replaced on change) bounds the
    * memo by live file count — a (path,size,mtime) KEY would strand
    * one dead entry per touch for the JVM lifetime. */
  private val tagMemo =
    new scala.collection.concurrent.TrieMap[String, (Long, Long, String, String)]()

  /** How recent an mtime must be before a memo hit is distrusted.
    * Covers the rsync race the round-12 advice named: a same-size
    * rewrite landing inside the filesystem's timestamp granularity
    * after the memoized stat would validate against a stale tag. Any
    * file modified within this window of `now` is re-sampled (8 KiB,
    * bounded) instead of trusting the memo; files at rest — the 100 TB
    * serve-path case the memo exists for — still stat-only. 2 s covers
    * coarse (FAT/older-NFS second-granularity) filesystems. */
  private val MtimeTrustLagNanos = 2_000_000_000L

  /** md5 of a file's first and last 4 KiB — the bounded-IO content
    * sample (a parquet footer always lives in the tail block, so any
    * rewrite changes the tag; size is hashed separately by the
    * caller). */
  private def contentTag(p: Path): String = {
    val attrs = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
    val size = attrs.size()
    val mtime = attrs.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS)
    val key = Option(attrs.fileKey()).map(_.toString).getOrElse("")
    val recentlyTouched =
      System.currentTimeMillis() * 1_000_000L - mtime < MtimeTrustLagNanos
    tagMemo.get(p.toString) match {
      case Some((s, m, k, tag)) if s == size && m == mtime && k == key && !recentlyTouched =>
        tag
      case _ =>
        val tag = contentTagUncached(p)
        // NEVER memoize under a distrusted mtime (r13 advice): a tag
        // computed inside the trust window, once stored, would
        // validate a later same-size in-place rewrite landing in the
        // same coarse mtime quantum — the exact race the window
        // closes. Re-sampling until the file is at rest costs one
        // bounded 8 KiB read per lookup for 2 s; files at rest (the
        // serve-path case the memo exists for) still memoize on their
        // first post-window lookup.
        if (!recentlyTouched) tagMemo.put(p.toString, (size, mtime, key, tag))
        tag
    }
  }

  private def contentTagUncached(p: Path): String = {
    val Block = 4096
    val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.READ)
    try {
      val size = ch.size()
      val md = java.security.MessageDigest.getInstance("MD5")
      def feed(pos: Long, len: Int): Unit = {
        val buf = java.nio.ByteBuffer.allocate(len)
        var at = pos
        while (buf.hasRemaining) {
          val n = ch.read(buf, at)
          if (n < 0) return
          at += n
        }
        md.update(buf.array(), 0, buf.position())
      }
      feed(0L, math.min(Block.toLong, size).toInt)
      if (size > Block) feed(math.max(Block.toLong, size - Block), math.min(Block.toLong, size - Block).toInt)
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    } finally ch.close()
  }

  val Marker = "_GRAFT_LAYOUT_OK"

  /** A layout is servable iff its completeness marker exists. */
  def ready(dir: Path): Boolean = Files.exists(dir.resolve(Marker))

  private val stagingCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `build` into a staging dir, mark complete, publish atomically.
    * Returns the live dir (ours, or a concurrent winner's). No-op if
    * the layout is already published. The staging name is unique per
    * ATTEMPT (pid + counter), not per process — two sessions in one
    * JVM building the same fingerprint must not share (and delete)
    * each other's in-progress staging. An existing target WITHOUT the
    * marker is an abandoned partial from a dead non-atomic publish —
    * deleted here so the rebuild the scaladoc promises actually
    * happens (publications are atomic-first, so a marker-less target
    * can never be a concurrent winner mid-rename). */
  def getOrBuild(dir: Path)(build: Path => Unit): Path = {
    if (ready(dir)) return dir
    Files.createDirectories(dir.getParent)
    // abandoned partial from a dead non-atomic publish: re-check the
    // marker at the last instant — under the atomic-first discipline a
    // marker-less dir is (almost surely) dead, and even the razor-thin
    // race with a concurrent winner's rename is content-harmless: same
    // fingerprint => identical bytes get republished by us
    if (Files.exists(dir) && !ready(dir)) graft.core.Fs.rmTreeNoFollow(dir)
    val staging = dir.resolveSibling(
      s"${dir.getFileName}.staging-${ProcessHandle.current().pid()}-${stagingCounter.incrementAndGet()}")
    graft.core.Fs.rmTreeNoFollow(staging)
    Files.createDirectories(staging)
    build(staging)
    Files.writeString(staging.resolve(Marker), "ok")
    try Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        // a layout root on a filesystem without atomic rename (the
        // staging SIBLING is same-fs, so this is rare): fall back to a
        // plain rename — completeness is still marker-gated, and a
        // crash mid-move leaves a marker-less target the next caller
        // deletes and rebuilds
        try Files.move(staging, dir)
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException =>
            graft.core.Fs.rmTreeNoFollow(staging)
        }
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException |
           _: java.nio.file.FileSystemException =>
        // concurrent builder won the rename; same fingerprint => same
        // content — drop ours and serve theirs (if theirs is complete)
        graft.core.Fs.rmTreeNoFollow(staging)
    }
    if (!ready(dir))
      throw new IllegalStateException(
        s"layout $dir failed to publish and no concurrent winner exists — " +
          "check the layout root's filesystem permissions")
    // retention: a fresh publish means THIS source changed (new
    // fingerprint), so same-kind SAME-SOURCE siblings from old
    // versions are garbage that would otherwise accumulate forever
    // (every testdata refresh orphans a full layout). Swept only here
    // — on the rare build path, never on serves — and only siblings
    // untouched for > 24 h, so a long-running session serving an older
    // fingerprint is never pulled out from under (drivers here live
    // minutes, not days).
    sweepStale(dir)
    dir
  }

  /** Layout kinds RETIRED by a format bump: publishing the successor
    * kind sweeps the predecessor's dirs (any source, older than
    * [[RetiredGrace]]). A format rename alone would leak the old
    * kind's layouts forever — sweepStale groups by the PUBLISHED
    * name's prefix, which a renamed kind can never match (r13 advice:
    * every reused host kept a full pre-r13 multi-file-bucket
    * lineitem+orders copy on disk). Kinds are dash-free (REQUIREd in
    * layoutDir), so a `kind + "-"` prefix test is unambiguous —
    * "bucketed-" cannot match a "bucketedv2-" sibling.
    *
    * Mixed-version caveat (advice r14): reads do not bump mtime, so a
    * NOT-yet-upgraded process sharing the layout root could have a
    * layout it is actively serving swept by an upgraded sibling's
    * first publish. The sweep therefore uses its own grace period,
    * sized to an upgrade WINDOW rather than a staleness window:
    * retired-kind dirs survive [[RetiredGrace]] past their last
    * write, long beyond any rolling upgrade of a shared-cache fleet
    * (same-kind staleness keeps the 24 h rule — those dirs are only
    * ever read by code that also knows the current fingerprint). A
    * deployment that pins mixed versions indefinitely should not
    * share a layout root across versions — the store's documented
    * contract. */
  private val RetiredKinds: Map[String, Seq[String]] =
    Map("bucketedv2" -> Seq("bucketed"))

  /** Grace for RETIRED-kind sweeps: 7 days (vs 24 h for same-kind
    * staleness) — see the mixed-version caveat on [[RetiredKinds]]. */
  private val RetiredGrace = java.time.Duration.ofDays(7)

  /** Delete sibling layouts of the same kind AND SOURCE (and their
    * abandoned stagings) whose last modification is older than 24 h.
    * The grouping prefix is the published name minus its trailing
    * fingerprint segment (`kind-srcId-`), so a publish for one source
    * dir never touches another source's still-valid layouts — only
    * stale FINGERPRINTS of the very source that just changed. Dirs of
    * a kind RETIRED by this publish's kind ([[RetiredKinds]]) are
    * swept regardless of source — the format itself is dead, no
    * session can ever serve them again.
    * Best-effort: IO errors are swallowed — retention is hygiene, not
    * correctness. */
  private def sweepStale(published: Path): Unit = {
    val name = published.getFileName.toString
    val prefix = name.substring(0, name.lastIndexOf('-') + 1)
    if (prefix.isEmpty) return // un-fingerprinted name: nothing safe to group
    // pre-source-scoping era (≤ r11) named layouts `kind-<fp16>` with
    // no source segment; the three-segment prefix above can never
    // match them, so without this they'd be orphaned PERMANENTLY —
    // worse than the cross-source bug the scoping fixed. They carry
    // no source attribution, so the legacy-era rule (same kind, >24h)
    // is the best available and retires the format once.
    // safe split: layoutDir REQUIREs kind dash-free, so the first dash
    // always terminates the kind segment of a published name
    val kind = name.take(name.indexOf('-'))
    val legacy = s"^${java.util.regex.Pattern.quote(kind)}-[0-9a-f]{16}(\\..*)?$$".r
    val retired = RetiredKinds.getOrElse(kind, Nil).map(_ + "-")
    val now = java.time.Instant.now()
    val cutoff = now.minus(java.time.Duration.ofHours(24))
    val retiredCutoff = now.minus(RetiredGrace)
    try {
      val s = Files.list(published.getParent)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            val isRetired = retired.exists(n.startsWith)
            p != published &&
              (n.startsWith(prefix) || legacy.matches(n) || isRetired) &&
              Files.getLastModifiedTime(p).toInstant
                .isBefore(if (isRetired) retiredCutoff else cutoff)
          }
          .toVector // materialize before deleting under the stream
          .foreach(p => try graft.core.Fs.rmTreeNoFollow(p)
          catch { case _: java.io.IOException => () })
      } finally s.close()
    } catch { case _: java.io.IOException => () }
  }
}

package graft

import java.nio.file.{Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.operators.LayoutStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** The one build-once cache: every artifact graft builds from its input
  * and then serves reads from goes through here — the near-dup, span
  * and ANN indexes, PQ codes, tokenizer counts, memoized row counts,
  * table layouts and schemas, stream fixtures.
  *
  * An entry is keyed by its kind, its params, the session and the
  * identity of its [[Input]], and holds the content fingerprint of the
  * files that input reads ([[LayoutStore.fingerprintFiles]]: size plus
  * the md5 of each file's first and last 4 KiB).
  *
  * Invariant: a hit is served only while the files the build read
  * still carry the fingerprint taken before the build started. A
  * rewritten input makes the entry stale; it is freed and rebuilt. The
  * per-file tags are memoized by [[LayoutStore]] under (size, mtime,
  * file key), so a hit stats its files and reads none of them.
  *
  * Freeing: a build registers what must be released with its result
  * ([[onFree]]; [[graft.pipeline.Dedup.retain]] registers every
  * checkpoint it keeps). A stale entry, a failed build, and every
  * entry at [[clear]] run those actions.
  *
  * Lookups are re-entrant: a build may look up other entries (the
  * near-dup index builds through the signature table), so the map is
  * never locked across a build. Two threads missing the same key both
  * build; the first to publish wins and the other frees its copy.
  */
object BuildCache {

  /** What a build reads: an identity that goes into the key, and the
    * files whose fingerprint validates a hit. */
  final class Input private[BuildCache] (
      private[BuildCache] val session: SparkSession,
      private[BuildCache] val id: Any,
      private[BuildCache] val files: () => Seq[Path])

  /** A DataFrame input: its canonicalized analyzed plan, validated by
    * the (local) files its scans list. */
  def of(df: DataFrame): Input = {
    val plan = df.queryExecution.analyzed
    new Input(df.sparkSession, plan.canonicalized, () =>
      plan.collectWithSubqueries { case r: LogicalRelation => r.relation }
        .collect { case f: FileRelation => f.inputFiles.toSeq }.flatten.distinct
        .map(f => Paths.get(new java.net.URI(f))))
  }

  /** A build that reads the named files (or directories) under `dir`. */
  def files(spark: SparkSession, dir: String, names: String*): Input = {
    val paths = names.map(n => Paths.get(dir, n).toAbsolutePath.normalize)
    new Input(spark, paths, () => paths)
  }

  private final case class Key(session: SparkSession, kind: String, params: Seq[Any], id: Any)

  private final class Entry(val fingerprint: String, val value: Any, frees: Seq[() => Unit]) {
    def free(): Unit = frees.foreach(f => try f() catch { case NonFatal(_) => () })
  }

  private val entries = TrieMap.empty[Key, Entry]

  /** The release actions of the builds running on this thread, innermost first. */
  private val frames = ThreadLocal.withInitial[List[ArrayBuffer[() => Unit]]](() => Nil)

  private val builds = new AtomicLong
  private val hits = new AtomicLong
  private val buildNanos = new AtomicLong

  /** The `kind` artifact of `input` under `params`: served from the
    * cache while `input`'s files are unchanged, else built. */
  def apply[T](kind: String, input: Input, params: Any*)(build: => T): T = {
    val key = Key(input.session, kind, params, input.id)
    // fingerprint BEFORE building: a rewrite racing the build leaves a
    // newer value under the older fingerprint, which the next lookup
    // rebuilds — never an old value under a new fingerprint
    val fp = LayoutStore.fingerprintFiles(Paths.get("/"), input.files())
    entries.get(key) match {
      case Some(e) if e.fingerprint == fp =>
        hits.incrementAndGet()
        e.value.asInstanceOf[T]
      case stale =>
        stale.foreach(e => if (entries.remove(key, e)) e.free())
        val frame = ArrayBuffer.empty[() => Unit]
        val outer = frames.get
        frames.set(frame :: outer)
        val t0 = System.nanoTime()
        val value =
          try build
          catch { case t: Throwable => new Entry(fp, null, frame.toSeq).free(); throw t }
          finally frames.set(outer)
        builds.incrementAndGet()
        // nested builds run inside their caller's: time the outermost only
        if (outer.isEmpty) buildNanos.addAndGet(System.nanoTime() - t0)
        val e = new Entry(fp, value, frame.toSeq)
        entries.putIfAbsent(key, e) match {
          case Some(w) if w.fingerprint == fp =>
            e.free()
            w.value.asInstanceOf[T]
          case Some(w) =>
            entries.put(key, e)
            w.free()
            value
          case None => value
        }
    }
  }

  /** Run `action` when the entry being built on this thread is freed;
    * outside a build it does nothing. */
  def onFree(action: => Unit): Unit = frames.get match {
    case frame :: _ => frame += (() => action)
    case Nil => ()
  }

  /** Free and drop every entry. */
  def clear(): Unit = entries.keys.foreach(k => entries.remove(k).foreach(_.free()))

  /** Builds, hits and outermost build milliseconds since JVM start. */
  final case class Stats(builds: Long, hits: Long, buildMs: Long) {
    def -(o: Stats): Stats = Stats(builds - o.builds, hits - o.hits, buildMs - o.buildMs)
  }

  def stats: Stats = Stats(builds.get, hits.get, buildNanos.get / 1000000L)
}

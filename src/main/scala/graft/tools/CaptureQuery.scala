package graft.tools

/** Capture a declared query's RESULT ROWS at scale-ladder rungs —
  * the companion to [[ScaleBench]] for audits whose OUTPUT is the
  * evidence (ScaleBench records wall/byte curves; a recall audit's
  * decile table is the point of running it). Round 16: built to
  * measure [[graft.pipeline.Similarity.annRecall]]'s capture-vs-theory
  * deciles at the 100× rung (r15 verdict #4 — the adaptive ANN
  * default's candidate volume was ladder-measured, its observed recall
  * never was).
  *
  *   runMain graft.tools.CaptureQuery <out.json> <query> <dir> [dir...]
  *
  * Emits one JSON object: per-dir row arrays (each row a JSON array in
  * column order), column names, wall seconds, and the run's byte
  * delta. Only sane for queries with BOUNDED output (decile tables,
  * rollups) — the rows are collected. */
object CaptureQuery {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: CaptureQuery <out.json> <query> <dir> [dir...]")
    val (outFile, query, dirs) = (args(0), args(1), args.drop(2).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session("graft-capture", cpus.toInt)
    val fn = graft.SparkEntry.queries(query)
    val metrics = TaskMetricsListener.install(spark.sparkContext)

    // valid JSON for every cell (r16 advice): non-finite doubles have
    // no JSON literal (bare NaN/Infinity breaks the artifact's
    // parsers) → null; control characters inside strings must be
    // \u-escaped, not just backslash and quote.
    def jsonString(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '\\' => b.append("\\\\")
        case '"' => b.append("\\\"")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append("\"").toString
    }
    def jsonCell(v: Any): String = v match {
      case null => "null"
      case s: String => jsonString(s)
      case d: Double => if (java.lang.Double.isFinite(d)) d.toString else "null"
      case f: Float => if (java.lang.Float.isFinite(f)) f.toString else "null"
      case x => x.toString
    }
    val perDir = dirs.map { dir =>
      val m0 = metrics.snapshot(spark.sparkContext)
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val rows = df.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val delta = metrics.snapshot(spark.sparkContext) - m0
      val cols = df.columns.map("\"" + _ + "\"").mkString("[", ",", "]")
      val rowsJson = rows.map(r =>
        (0 until r.length).map(i => jsonCell(r.get(i))).mkString("[", ",", "]"))
        .mkString("[", ",", "]")
      System.err.println(f"[capture] $query @ $dir: ${rows.length} rows, $sec%.1f s")
      s""""$dir":{"sec":${f"$sec%.3f"},"columns":$cols,"rows":$rowsJson,"bytes":${delta.json}}"""
    }
    val line =
      s"""{"metric":"capture","query":"$query","cpus":"$cpus","dirs":{${perDir.mkString(",")}}}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    spark.stop()
  }
}

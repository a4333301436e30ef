package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Self-diagnosing gate (round-11): beside every output dir we write
  * `<name>.hash.json` — md5 over the canonically stringified rows, both
  * in result order and sorted — computed by THIS JVM from the exact
  * parquet the driver reads. `tools/check_oracle.py` computes the same
  * two hashes from its Python reading of the same file AND from the
  * DuckDB oracle, so any driver/repo disagreement pinpoints which rows
  * differ in whose READING (reader policy) vs whose VALUES (real bug).
  * Round-10 motivation: five queries whose DuckDB oracle returned
  * HUGEINT (bare integer sum) were value-equal but type-diverged —
  * pandas/arrow render HUGEINT as float64/decimal128 while fetchall()
  * yields int — and the driver's hash saw the rendering, not the value.
  */
object Verify {
  /** Canonical cell string — mirrored EXACTLY by canon_cell in
    * tools/check_oracle.py. Value-based: int64(5), decimal(5), and
    * double 5.0 all canonicalize to "5", so reader-policy renderings
    * hash alike and only genuine value differences diverge. */
  def canonCell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case s: String => s
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case d: java.math.BigDecimal => canonBig(d)
    case d: scala.math.BigDecimal => canonBig(d.underlying())
    case f: Float => canonDouble(f.toDouble)
    case d: Double => canonDouble(d)
    case n: java.lang.Number => n.toString // byte/short/int/long
    case d: java.sql.Date => d.toString // yyyy-MM-dd
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => canonInstant(t.toInstant)
    case i: java.time.Instant => canonInstant(i)
    case t: java.time.LocalDateTime => // already wall-clock (UTC session)
      canonInstant(t.toInstant(java.time.ZoneOffset.UTC))
    case seq: scala.collection.Seq[_] =>
      seq.map(canonCell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${canonCell(k)}=${canonCell(x)}" }
        .toSeq.sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => canonCell(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }
  private def canonBig(d: java.math.BigDecimal): String = {
    val s = d.stripTrailingZeros()
    if (s.signum() == 0) "0" else s.toPlainString
  }
  /** Doubles: quantize to 9 decimal places (half-even) then strip —
    * "5.0" and "5" and int 5 all become "5"; 1e15+ rounds to 15
    * SIGNIFICANT digits (half-even, NOT printf %e — Java's Formatter
    * rounds HALF_UP where Python's rounds half-even, which would split
    * the hash on values like 1234567890123445.0).
    *
    * Seeded from the EXACT binary value (`new BigDecimal(d)`), NOT
    * `Double.toString` — on JDK < 19 toString can emit a non-shortest
    * decimal (JDK-4511638) that differs from Python's shortest repr,
    * and quantizing two different decimal seeds can land on different
    * sides of a half-even tie. `BigDecimal(double)` and Python's
    * `Decimal(float)` both expand the identical IEEE-754 value, so the
    * two sides quantize the same exact number on any JDK. */
  def canonDouble(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d.isInfinite) { if (d > 0) "Infinity" else "-Infinity" }
    else if (d == 0.0) "0"
    else if (math.abs(d) >= 1e15) {
      val mc = new java.math.MathContext(15, java.math.RoundingMode.HALF_EVEN)
      canonBig(new java.math.BigDecimal(d).round(mc))
    } else {
      val q = new java.math.BigDecimal(d)
        .setScale(9, java.math.RoundingMode.HALF_EVEN)
      canonBig(q)
    }
  }
  private def canonInstant(i: java.time.Instant): String = {
    val ldt = java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC)
    val micros = ldt.getNano / 1000
    f"${ldt.toLocalDate}%s ${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d.$micros%06d"
  }
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). Extra args are a BUILDER-ONLY
    // name filter for iterating on a subset without the full sweep.
    val Array(sfDir, outDir, rest @ _*) = args: @unchecked
    val only: Set[String] = rest.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session("graft-verify", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // A query that throws must NEVER silently vanish from the driver's
    // correctness report: collect failures into a _failed.json manifest
    // (name -> exception) and shout the count. The declared set and the
    // reported set may only diverge loudly.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Canonical content hash of the parquet the driver will read:
        // re-read the (single-file, ORDER BY'd) output and hash rows
        // both in file order and sorted. coalesce(1) on read keeps a
        // hypothetically-split file in offset order. Cheap: outputs are
        // gate-sized; the query itself is NOT re-run.
        val back = spark.read.parquet(s"$outDir/$name").coalesce(1)
        val rowStrs = back.collect().map { r =>
          (0 until r.length).map(i => canonCell(r.get(i))).mkString("\u0001")
        }
        val hashJson =
          s"""{"n": ${rowStrs.length},
             | "cols": [${back.columns.map(q).mkString(",")}],
             | "in_order": ${q(md5(rowStrs.mkString("\n")))},
             | "sorted": ${q(md5(rowStrs.sorted.mkString("\n")))}}""".stripMargin
        Files.writeString(Paths.get(s"$outDir/$name.hash.json"), hashJson)
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        failed(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
      }
    }
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] *** ${failed.size}/${selected.size} queries FAILED: " +
          failed.keys.mkString(", ") + " (see _failed.json) ***")
    } else {
      System.err.println(s"[verify] all ${selected.size} queries dumped OK")
    }
    // A filtered (builder-only) run dumps only the selected oracles and
    // marks the dir as partial — a filtered outDir must never be
    // mistaken for a full sweep (every unselected query would read as
    // missing). Full runs write the full map and no marker.
    val oracleOut =
      if (only.isEmpty) SparkEntry.oracleSql
      else SparkEntry.oracleSql.view.filterKeys(only).toMap
    if (only.nonEmpty) {
      Files.writeString(Paths.get(s"$outDir/_partial.json"),
        only.toSeq.sorted.map(q).mkString("[", ",", "]"))
    }
    val json = oracleOut
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

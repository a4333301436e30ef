package graft.tools

/** ANN FAMILY-CAP probe (round 17, verdict #6): measures where
  * [[graft.pipeline.Similarity.adaptiveLshParams]]' family cap binds
  * and what happens to candidate volume past it — turning §21.3's
  * designed-but-unmeasured claim ("the records alpha 1.302 is the
  * O(log n) fams growth and flattens to ~1.0 once fams pins at 8")
  * into a measured one.
  *
  * The full replica ladder can't reach the cap region on this disk
  * budget (the cap binds at n ≳ 1.6M vectors = x800; an x800 dir of
  * ALL tables is ~13 GB and the probe only needs embeddings), so the
  * probe builds EMBEDDINGS-ONLY rungs with the ladder's own gen=v3
  * isomorphic-domain transform ([[ScaleBench.embReplica]]): same
  * decorrelation guarantees, same workload shape, a fraction of the
  * bytes. Replicas are written in chunks of 100 (appended) so the
  * x1500 rung doesn't ask Catalyst to analyze a 1500-branch union.
  *
  * Per rung: the chosen (planes, families) pair, the banded join's
  * full execution (annPairsAdaptive → count), wall + shuffle
  * records/bytes via [[TaskMetricsListener]], and the output pair
  * count. Two passes (cold includes JIT + parquet footers; the probe
  * has no build-once artifacts, so warm ≈ steady state). The claim
  * checks out iff the per-rung records slope drops to ~1.0 between
  * the capped rungs (x800 → x1500: fams pinned at 8, rows/vector
  * constant) after running above 1.0 into the cap (x300 → x800:
  * fams 8 but planes still growing the bucket-row width).
  */
object AnnCapProbe {

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scratch = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_ANNCAP_DIR", "/tmp/graft_anncap"))
    val outFile = sys.env.getOrElse("SPARK_GRAFT_ANNCAP_OUT", "SCALE_r17_anncap.json")
    val scales = sys.env.getOrElse("SPARK_GRAFT_ANNCAP_SCALES", "300,800,1500")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Tables.session("graft-anncap", cpus.toInt)

    def genEmb(out: java.nio.file.Path, k: Int): String = {
      val dir = out.resolve(s"x$k")
      val marker = dir.resolve("_ANNCAP_OK")
      val stamp = s"base=$base k=$k gen=v3-embonly"
      val dataDir = dir.resolve("embeddings.parquet").toString
      if (java.nio.file.Files.exists(marker) &&
          java.nio.file.Files.readString(marker).trim == stamp) return dataDir
      graft.core.Fs.rmTreeNoFollow(dir)
      java.nio.file.Files.createDirectories(dir)
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      // chunked append: bounded plan size per job, identical rows to a
      // single k-way union (replica id spaces are disjoint by r)
      (0 until k).grouped(100).zipWithIndex.foreach { case (chunk, i) =>
        chunk.map(r => if (r == 0) emb else ScaleBench.embReplica(emb, r))
          .reduce(_ unionByName _)
          .repartition(math.max(2, chunk.size / 4))
          .write.mode(if (i == 0) "overwrite" else "append").parquet(dataDir)
      }
      java.nio.file.Files.writeString(marker, stamp)
      dataDir
    }

    val metrics = TaskMetricsListener.install(spark.sparkContext)
    val rows = scales.map { k =>
      val dataDir = genEmb(scratch, k)
      val emb = spark.read.parquet(dataDir)
      val n = emb.count()
      val (planes, fams) = graft.pipeline.Similarity.adaptiveLshParams(n)
      val passes = (1 to 2).map { pass =>
        val m0 = metrics.snapshot(spark.sparkContext)
        val t0 = System.nanoTime()
        val nPairs = graft.pipeline.Similarity.annPairsAdaptive(
          spark.read.parquet(dataDir)).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val delta = metrics.snapshot(spark.sparkContext) - m0
        System.err.println(f"[anncap] x$k n=$n planes=$planes fams=$fams " +
          f"pass $pass: $sec%.1f s, pairs=$nPairs, records=${delta.records}")
        (sec, nPairs, delta)
      }
      val (coldSec, _, _) = passes.head
      val (warmSec, nPairs, d) = passes.last
      // per-rung caches die with the rung (the corpus count is keyed
      // on the rung's plan)
      graft.pipeline.Dedup.freeRetained()
      (k, f"""{"scale":$k,"n":$n,"planes":$planes,"families":$fams,""" +
        f""""cold_sec":$coldSec%.2f,"warm_sec":$warmSec%.2f,"n_pairs":$nPairs,""" +
        f""""records":${d.records},"bytes":${d.json}}""", n, d.records)
    }
    // pairwise log-log records slopes between consecutive rungs — the
    // flattening-past-the-cap claim reads directly off these
    val slopes = rows.sliding(2).collect { case Seq(a, b) =>
      val s = math.log(b._4.toDouble / a._4) / math.log(b._3.toDouble / a._3)
      f""""x${a._1}_to_x${b._1}":$s%.3f"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"ann_cap_probe","cpus":"$cpus","rungs":[${
      rows.map(_._2).mkString(",")}],"records_slopes":$slopes}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    spark.stop()
  }
}

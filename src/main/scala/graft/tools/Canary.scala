package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Round-over-round performance canary (r15 verdict task 3). In-sweep
 * arbiter totals on this box have proven ±35% session-dependent with
 * zero code changes (r14→r15: the iterative many-small-job class
 * inflated +84% under session JVM/page-cache state while scan-shaped
 * families stayed flat), so absolute full-registry walls cannot
 * compare across rounds. This tool measures a FIXED ~20-query subset
 * spanning the families — scan-shaped, iterative/many-small-job
 * (exactly the class that inflates), streaming, GP, tokenizer — in
 * warm-standalone conditions: each query runs `reps` times in ONE
 * JVM and the artifact records the LAST rep (JIT + page cache + JVM
 * warm — the regime the r15 judge's standalone re-runs showed
 * converges across sessions). The canary set is frozen here; adding
 * a query to the registry does NOT change it, so `BENCH_canary.json`
 * is the one cross-round-comparable statistic.
 *
 * Usage: Canary [sfDir]  (default /root/testdata/sf0.1; writes
 * BENCH_canary.json unless SPARK_GRAFT_CANARY_OUT overrides).
 */
object Canary {
  /** Frozen canary set — do not grow with the registry. One line per
    * family class, chosen r16 from the queries the r15 judge used for
    * its own warm-standalone adjudication plus one scan-shaped anchor
    * per family. */
  val set: Seq[String] = Seq(
    // scan-shaped (flat across sessions — the control group)
    "q01_pricing_summary", "q05_local_supplier", "w12_theilsen_trend",
    "l01_layout_prune", "g02_cube", "mm05_image_decode",
    // iterative / many-small-job (the session-state-sensitive class)
    "x08_weighted_paths", "x13_random_walks", "x17_harmonic_closeness",
    "a19_text_semantic_dedup", "d07b_clusters_altstar", "t20_bpe_tokens",
    "dc02_incremental_dedup", "k02_salted_join",
    // tokenizer / text heavies
    "t14_tfidf_terms", "t34_kn3_perplexity",
    // streaming
    "st26_stream_dsir", "st33_stream_outer_join",
    // GP + survival fit
    "gp11_hyperfit_gd", "e24_cox")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = sys.env.getOrElse("SPARK_GRAFT_CANARY_REPS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    graft.TmpWork.install("graft_canary_")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", graft.TmpWork.diskTmp)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = loadAvg()

    val qs = graft.SparkEntry.queries
    val missing = set.filterNot(qs.contains)
    require(missing.isEmpty, s"canary set names unknown queries: $missing")
    // The artifact must stamp the rep count actually run, and a query
    // that THROWS must surface in an errs map and stay OUT of the
    // headline total (Bench's own discipline) — a -1.0 summed into
    // canary_warm would make a regression that breaks a query read as
    // a speedup in the one statistic built to compare rounds.
    val actualReps = math.max(2, reps)
    val results = set.map { name =>
      var err: Option[String] = None
      val times = (1 to actualReps).map { _ =>
        val t0 = System.nanoTime()
        try { qs(name)(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          err = Some(e.getClass.getSimpleName); -1.0 }
      }
      (name, times.head, times.last, err)
    }
    def f3(v: Double) = f"$v%.3f"
    val ok = results.filter(_._4.isEmpty)
    val warm = ok.map { case (n, _, w, _) => "\"" + n + "\":" + f3(w) }
      .mkString("{", ",", "}")
    val cold = ok.map { case (n, c, _, _) => "\"" + n + "\":" + f3(c) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (n, _, _, Some(e)) =>
      "\"" + n + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    val total = ok.map(_._3).sum
    val json =
      s"""{"metric":"canary_warm","value":${f3(total)},"unit":"sec","queries":$warm,"first_rep":$cold,"errs":$errs,"canary_green":${errs == "{}"},"reps":$actualReps,"load":[${f3(loadStart)},${f3(loadAvg())}],"registry_size":${qs.size},"sf":"${new java.io.File(sfDir).getName}"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_CANARY_OUT", "BENCH_canary.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(json)
  }
}

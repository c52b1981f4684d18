package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/**
 * graft's benchmark program. One JVM, one Spark session at local[cores],
 * one closed-loop client: each step is one call into a public graft
 * entry point, its output forced through a `noop` sink, and the next
 * step starts only after it returns.
 *
 * A run: session start and one untimed warm pass that also checks the
 * registry steps' outputs (`setup_s`), then timed passes until
 * `--seconds` have elapsed, then the gp quality check. Untraced runs
 * report the end-to-end metrics; a `--trace 1` run records spans and
 * reports the per-layer metrics. See perfbench/DESIGN.md.
 *
 * `--mode ref` instead writes every registry step's output as parquet
 * beside its oracle SQL, and the digests, for `perfbench/mkref.py`.
 */
object Main {

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

  private def need(args: Array[String], name: String): String =
    arg(args, name).getOrElse(throw new IllegalArgumentException(s"missing --$name"))

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Status stores capped as in graft.Bench: nothing reads them, and
      // at their defaults they keep every plan of a run in old gen.
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "20000")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val workload = need(args, "workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = need(args, "seed").toLong
    val seconds = need(args, "seconds").toDouble
    val traced = need(args, "trace") == "1"
    val data = need(args, "data")
    val work = need(args, "work")
    val mode = arg(args, "mode").getOrElse("bench")
    val cores = Runtime.getRuntime.availableProcessors

    val load0 = loadAvg()
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("WARN")
    if (mode == "ref") {
      reference(spark, data, work)
      spark.stop()
      return
    }

    val gp = if (workload == "gp") Some(new GpWorkload(spark, seed)) else None
    val steps = gp.map(_.steps).getOrElse(Workloads.registry(spark, data, workload match {
      case "olap" => Workloads.olap
      case "corpus" => Workloads.corpus
    }))
    // The seed permutes registry steps within each pass; GP steps keep
    // the user's order (fit, then predict) and take the seed as data.
    def order(pass: Int): Seq[Step] =
      if (gp.isDefined) steps else new Random(seed * 1000003L + pass).shuffle(steps)
    // Listeners go on after the warm pass, so only timed passes are traced.
    var tracer = Option.empty[Tracer]

    var attempted, failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]

    /** Between steps, outside every timed region. */
    def hygiene(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    /** One forced step; its wall time in seconds, or None if it threw. */
    def step(pass: Int, s: Step): Option[Double] = {
      hygiene()
      attempted += 1
      tracer.foreach(_.begin(pass, s))
      val t0 = System.nanoTime()
      try {
        val out = s.run()
        tracer.foreach(_.built())
        out.foreach(_.write.format("noop").mode("overwrite").save())
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"${s.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
      } finally tracer.foreach(_.end())
    }

    /** A registry step run once with its output collected and compared
      * with the reference digest. */
    def check(s: Step, refs: Map[String, Digest]): Unit = {
      hygiene()
      attempted += 1
      val got = try Some(Check.digest(s.run().get)) catch {
        case NonFatal(e) =>
          errors += s"${s.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
      }
      if (got.isEmpty || got != refs.get(s.name)) {
        failed += 1
        if (got.isDefined) errors += s"${s.name}: output $got, reference ${refs.get(s.name)}"
      }
    }

    // Set-up: session start plus two untimed warm passes. A step's first
    // runs in a JVM are far slower than later ones; for registry steps
    // the first warm pass is the output check.
    gp match {
      case Some(_) => order(0).foreach(step(0, _))
      case None =>
        val refs = Refs.load(need(args, "refs"))
        order(0).foreach(check(_, refs))
    }
    order(0).foreach(step(0, _))
    val setupS = (System.nanoTime() - jvmStartNanos) / 1e9

    if (traced) {
      tracer = Some(new Tracer(spark))
      tracer.foreach(_.install())
    }
    val runStart = System.currentTimeMillis()
    val times = mutable.ArrayBuffer.empty[(Int, String, Double)]
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val clock = System.nanoTime()
    var pass = 0
    // At least --seconds, and at least MinPasses passes: the JVM is still
    // warming up, so every run must time the same pass indices.
    while (pass < MinPasses || (System.nanoTime() - clock) / 1e9 < seconds) {
      pass += 1
      val ts = order(pass).map(s => s.name -> step(pass, s))
      ts.foreach { case (n, t) => t.foreach(v => times += ((pass, n, v))) }
      if (ts.forall(_._2.isDefined)) passTimes += ts.map(_._2.get).sum
    }
    val runEnd = System.currentTimeMillis()
    val heapMb = retainedHeapMb(spark)

    // The gp check: test quality of the last fits, outside the timed region.
    val quality = gp.map { g =>
      attempted += 1
      val (rmse, err) = g.quality()
      if (rmse > GpWorkload.MaxRmse || err > GpWorkload.MaxError) {
        failed += 1
        errors += f"gp quality: rmse $rmse%.5f (max ${GpWorkload.MaxRmse}), error $err%.5f (max ${GpWorkload.MaxError})"
      }
      Map("reg_test_rmse" -> rmse, "cls_test_error" -> err)
    }.getOrElse(Map.empty[String, Double])
    val load1 = loadAvg()

    val perStep = times.groupBy(_._2).map { case (n, v) => n -> Stats.mean(v.map(_._3).toSeq) }
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Stats.mean(passTimes.toSeq), "s"),
      "query_s_p50" -> (Stats.median(perStep.values.toSeq), "s"),
      "query_s_tail" -> (perStep.values.maxOption.getOrElse(Double.NaN), "s"),
      "retained_heap_mb" -> (heapMb, "MB"))
    val perLayer = tracer.map(t => Layers.metrics(t, passTimes.toSeq, cores, quality)).getOrElse(Seq.empty)

    val record = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cpus" -> cores,
      "sf" -> Paths.get(data).getFileName.toString, "load" -> Seq(load0, load1),
      "loaded" -> (load0 > cores * 0.75), "passes" -> passTimes.size, "steps_per_pass" -> steps.size,
      "samples" -> times.size, "pass_times" -> passTimes.toSeq,
      "failed_frac" -> failed.toDouble / attempted, "errors" -> errors.toSeq,
      "step_s" -> perStep) ++ quality.toSeq ++
      endToEnd.map { case (k, (v, _)) => k -> v })
    val metrics = (if (traced) perLayer else endToEnd)
      .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics.toMap))

    tracer.foreach { t =>
      Files.write(Paths.get(work, "spans.jsonl"), t.spans(runStart, runEnd).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Files.write(Paths.get(work, "record.json"), (record + "\n").getBytes(UTF_8))
    Files.write(Paths.get(work, "result.json"), (result + "\n").getBytes(UTF_8))
    spark.stop()
  }

  val MinPasses = 2

  private val jvmStartNanos: Long =
    System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L

  /** Heap still in use at the end of the run, after Spark's cleaner has
    * had a moment to drop what the last GC made unreachable. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  /** Writes each registry step's output as parquet beside its oracle SQL,
    * in the layout `tools/compare_oracle.py` reads, and the digests. */
  private def reference(spark: SparkSession, data: String, work: String): Unit = {
    val queries = graft.SparkEntry.queries
    val digests = Workloads.registrySteps.map { n =>
      val df = queries(n)(spark, data)
      df.coalesce(1).write.mode("overwrite").parquet(s"$work/dump/$n")
      val d = Check.digest(queries(n)(spark, data))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      n -> Map("rows" -> d.rows, "sha256" -> d.sha)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Workloads.registrySteps.contains(k) }
    Files.write(Paths.get(s"$work/dump/oracle_sql.json"), Json.value(oracle).getBytes(UTF_8))
    Files.write(Paths.get(s"$work/digests.json"), (Json.obj(digests) + "\n").getBytes(UTF_8))
  }
}

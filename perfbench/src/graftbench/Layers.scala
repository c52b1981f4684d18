package graftbench

/**
 * Per-layer metrics of a traced run, derived from its step traces. Sums
 * and counts are per timed pass; maxima are over the timed passes. A
 * layer the workload does not exercise reads 0.
 */
object Layers {

  def metrics(tracer: Tracer, passTimes: Seq[Double], cores: Int,
      quality: Map[String, Double]): Seq[(String, (Double, String))] = {
    val ts = tracer.steps.filter(_.pass > 0).toSeq
    val passes = ts.map(_.pass).distinct.size.max(1).toDouble
    def perPass(f: StepTrace => Double): Double = ts.map(f).sum / passes
    def sec(f: StepTrace => Long): Double = perPass(t => f(t) / 1e3)
    def count(f: StepTrace => Long): Double = perPass(t => f(t).toDouble)
    def batchMs(key: String)(t: StepTrace): Long = t.batches.map(_._2.getOrElse(key, 0L)).sum
    val batchS = ts.flatMap(_.batches.map(_._1.ms / 1e3))
    def orZero(d: Double) = if (d.isNaN) 0.0 else d
    def medianWall(name: String) = orZero(Stats.median(ts.filter(_.name == name).map(_.wallMs / 1e3)))
    def rowsPerS(name: String) = medianWall(name) match {
      case 0.0 => 0.0
      case w => GpWorkload.ScoreRows / w
    }
    val modules = Seq("dedup", "text", "similarity", "fuzzyjoin", "multimodal", "layout", "graph")

    Seq(
      "trace.pass_s" -> (Stats.mean(passTimes), "s"),
      "queries.build_s" -> (sec(t => t.buildEnd - t.start), "s"),
      "queries.build_self_s" -> (sec(t => t.uncoveredMs(t.start, t.buildEnd)), "s"),
      "queries.plan_s" -> (sec(_.planMs), "s"),
      "exec.jobs" -> (count(_.jobs.size.toLong), "count"),
      "exec.stages" -> (count(_.stages.size.toLong), "count"),
      "exec.tasks" -> (count(_.tasks), "count"),
      "exec.job_gap_s" -> (sec(t => t.uncoveredMs(t.start, t.end)), "s"),
      "exec.slot_busy" -> (ts.map(_.taskRunMs).sum.toDouble / (ts.map(_.wallMs).sum.max(1L) * cores), "ratio"),
      "exec.action_s" -> (sec(t => t.end - t.buildEnd), "s"),
      "exec.task_run_s" -> (sec(_.taskRunMs), "s"),
      "exec.task_cpu_s" -> (perPass(_.taskCpuNs / 1e9), "s"),
      "exec.task_gc_s" -> (sec(_.taskGcMs), "s"),
      "functions.native_nodes" -> (count(_.nativeNodes), "count"),
      "tables.input_rows" -> (count(_.inputRows), "count"),
      "tables.input_bytes" -> (count(_.inputBytes), "bytes"),
      "exec.shuffle_read_bytes" -> (count(_.shuffleRead), "bytes"),
      "exec.shuffle_write_bytes" -> (count(_.shuffleWrite), "bytes"),
      "exec.spill_bytes" -> (count(_.spill), "bytes"),
      "plans.topk_nodes" -> (count(_.topkNodes), "count"),
      "streaming.batches" -> (count(_.batches.size.toLong), "count"),
      "streaming.batch_s_p50" -> (orZero(Stats.median(batchS)), "s"),
      "streaming.batch_s_tail" -> (orZero(Stats.tail(batchS)), "s"),
      "streaming.add_batch_s" -> (sec(batchMs("addBatch")), "s"),
      "streaming.commit_s" -> (sec(t => batchMs("walCommit")(t) + batchMs("commitOffsets")(t)), "s"),
      "streaming.planning_s" -> (sec(batchMs("queryPlanning")), "s"),
      "streaming.state_rows" -> (ts.map(_.stateRows).maxOption.getOrElse(0L).toDouble, "count"),
      "streaming.state_mem_bytes" -> (ts.map(_.stateMem).maxOption.getOrElse(0L).toDouble, "bytes"),
      "gp.reg_fit_s" -> (medianWall("gp_reg_fit"), "s"),
      "gp.cls_fit_s" -> (medianWall("gp_cls_fit"), "s"),
      "gp.reg_fit_jobs" -> (count(t => if (t.name == "gp_reg_fit") t.jobs.size.toLong else 0L), "count"),
      "gp.cls_fit_jobs" -> (count(t => if (t.name == "gp_cls_fit") t.jobs.size.toLong else 0L), "count"),
      "gp.reg_fit_driver_s" -> (sec(t => if (t.name == "gp_reg_fit") t.uncoveredMs(t.start, t.end) else 0L), "s"),
      "gp.cls_fit_driver_s" -> (sec(t => if (t.name == "gp_cls_fit") t.uncoveredMs(t.start, t.end) else 0L), "s"),
      "gp.predict_task_cpu_s" -> (perPass(t => if (t.name.endsWith("_predict")) t.taskCpuNs / 1e9 else 0.0), "s"),
      "gp.reg_predict_rows_per_s" -> (rowsPerS("gp_reg_predict"), "rows/s"),
      "gp.cls_predict_rows_per_s" -> (rowsPerS("gp_cls_predict"), "rows/s"),
      "gp.reg_test_rmse" -> (quality.getOrElse("reg_test_rmse", 0.0), "rmse"),
      "gp.cls_test_error" -> (quality.getOrElse("cls_test_error", 0.0), "ratio"),
      "exec.peak_exec_mem_bytes" -> (ts.map(_.peakExecMem).maxOption.getOrElse(0L).toDouble, "bytes"),
      "jvm.gc_s" -> (sec(_.gcMs), "s"),
      "jvm.gc_count" -> (count(_.gcCount), "count"),
      "exec.codegen_fallbacks" -> (count(_.codegenFallbacks), "count")) ++
      modules.map(m => s"ops.${m}_s" -> (sec(t => if (t.module == m) t.wallMs else 0L), "s"))
  }
}

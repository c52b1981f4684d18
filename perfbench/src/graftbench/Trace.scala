package graftbench

import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of wall-clock milliseconds. */
final case class Interval(start: Long, end: Long) {
  def ms: Long = end - start
}

/** What the listeners saw while one step ran. Times are epoch ms, the
  * clock Spark stamps its events with. */
final class StepTrace(val pass: Int, val name: String, val module: String) {
  var start, buildEnd, end = 0L
  val jobs = mutable.ArrayBuffer.empty[(Int, Interval)]
  val stages = mutable.ArrayBuffer.empty[(Int, Int, Interval)] // (stage, job, span)
  var tasks, taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleRead, shuffleWrite, spill, inputRows, inputBytes, peakExecMem = 0L
  var planMs, topkNodes, nativeNodes = 0L
  val batches = mutable.ArrayBuffer.empty[(Interval, Map[String, Long])]
  var stateRows, stateMem = 0L
  var gcMs, gcCount, codegenFallbacks = 0L

  def wallMs: Long = end - start

  /** Part of [from, to) that no job of this step covers. */
  def uncoveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var cursor = from
    for (j <- jobs.map(_._2).sortBy(_.start)) {
      val s = math.max(j.start, cursor)
      val e = math.min(j.end, to)
      if (e > s) { covered += e - s; cursor = e }
    }
    (to - from) - covered
  }
}

/**
 * The traced run's recorder: one SparkListener, one
 * QueryExecutionListener, one StreamingQueryListener and one log appender,
 * all attributing what they see to the step that is running. The loop is
 * closed (one step at a time), and the bus is drained after every step,
 * so "the step that is running" is exact. Spans stay in memory until
 * [[spans]] writes them out.
 */
final class Tracer(spark: SparkSession) {
  val steps = mutable.ArrayBuffer.empty[StepTrace]
  @volatile private var current: StepTrace = _
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }
  private var gcAtStart = (0L, 0L)

  def begin(pass: Int, step: Step): Unit = {
    val t = new StepTrace(pass, step.name, step.module)
    gcAtStart = gcTotals()
    t.start = System.currentTimeMillis()
    current = t
  }

  def built(): Unit = current.buildEnd = System.currentTimeMillis()

  def end(): Unit = {
    val t = current
    t.end = System.currentTimeMillis()
    if (t.buildEnd == 0) t.buildEnd = t.end // the build threw
    val (ms, n) = gcTotals()
    t.gcMs = ms - gcAtStart._1
    t.gcCount = n - gcAtStart._2
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    current = null
    steps += t
  }

  private def onStep(f: StepTrace => Unit): Unit = {
    val t = current
    if (t != null) t.synchronized(f(t))
  }

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = onStep { _ =>
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = onStep { t =>
      jobStart.remove(e.jobId).foreach(s => t.jobs += e.jobId -> Interval(s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = onStep { t =>
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        t.stages += ((i.stageId, jobOfStage.getOrElse(i.stageId, -1), Interval(s, c)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = onStep { t =>
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.taskRunMs += m.executorRunTime
        t.taskCpuNs += m.executorCpuTime
        t.taskGcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputRows += m.inputMetrics.recordsRead
        t.inputBytes += m.inputMetrics.bytesRead
        t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def isNative(c: Class[_]) = c.getName.startsWith("org.apache.spark.sql.graftshim.")
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onStep { t =>
      t.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      val nodes: Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) { case p => p }
      t.topkNodes += nodes.count(_.getClass.getSimpleName.contains("TopK"))
      t.nativeNodes += nodes.count(p => isNative(p.getClass)) +
        nodes.flatMap(_.expressions).map(_.collect { case e if isNative(e.getClass) => e }.size).sum
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object Batches extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = onStep { t =>
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val s = Instant.parse(p.timestamp).toEpochMilli
      t.batches += Interval(s, s + d.getOrElse("triggerExecution", 0L)) -> d
      t.stateRows = math.max(t.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
      t.stateMem = math.max(t.stateMem, p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  /** Counts whole-stage code that failed to compile: Spark logs each
    * failure at ERROR from CodeGenerator and falls back to the
    * interpreted plan. */
  private object Codegen extends AbstractAppender("graftbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR) && e.getLoggerName.endsWith("codegen.CodeGenerator"))
        onStep(_.codegenFallbacks += 1)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    spark.streams.addListener(Batches)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    Codegen.start()
    ctx.getConfiguration.getRootLogger.addAppender(Codegen, Level.ERROR, null)
    ctx.updateLoggers()
  }

  /** The run's spans as JSON lines: run → pass → step → {build, action}
    * → job → stage, plus one span per micro-batch. A GP fit or predict
    * is a step span of module `gp`. */
  def spans(runStart: Long, runEnd: Long): Iterator[String] = {
    var next = 0L
    def span(parent: Long, kind: String, name: String, i: Interval, attrs: (String, Any)*): (Long, String) = {
      next += 1
      val extra = attrs.map { case (k, v) => s""","$k":${Json.value(v)}""" }.mkString
      next -> s"""{"id":$next,"parent":$parent,"kind":"$kind","name":${Json.str(name)},"start_ms":${i.start},"end_ms":${i.end}$extra}"""
    }
    val out = mutable.ArrayBuffer.empty[String]
    val (runId, runLine) = span(0, "run", "run", Interval(runStart, runEnd))
    out += runLine
    for ((pass, ts) <- steps.groupBy(_.pass).toSeq.sortBy(_._1)) {
      val (passId, passLine) = span(runId, "pass", s"pass$pass",
        Interval(ts.map(_.start).min, ts.map(_.end).max))
      out += passLine
      for (t <- ts) {
        val (stepId, stepLine) = span(passId, "step", t.name, Interval(t.start, t.end),
          "module" -> t.module, "tasks" -> t.tasks, "task_run_ms" -> t.taskRunMs,
          "task_cpu_ms" -> t.taskCpuNs / 1000000, "plan_ms" -> t.planMs,
          "codegen_fallbacks" -> t.codegenFallbacks)
        out += stepLine
        out += span(stepId, "build", t.name, Interval(t.start, t.buildEnd))._2
        out += span(stepId, "action", t.name, Interval(t.buildEnd, t.end))._2
        for ((job, i) <- t.jobs) {
          val (jobId, jobLine) = span(stepId, "job", s"job$job", i)
          out += jobLine
          for ((stage, j, si) <- t.stages if j == job)
            out += span(jobId, "stage", s"stage$stage", si)._2
        }
        for ((i, d) <- t.batches)
          out += span(stepId, "microbatch", t.name, i, d.toSeq.sortBy(_._1).map { case (k, v) => s"${k}_ms" -> v }: _*)._2
      }
    }
    out.iterator
  }
}

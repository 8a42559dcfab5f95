package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds; `parent` is the id
  * of the span that caused this one (0 for a pass). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** Counts Spark's whole-stage codegen compile failures. Spark recovers
  * from them by falling back to the interpreted plan, so they never
  * surface as errors; the log line is the only outside trace. */
final class CodegenFallbackCounter
    extends AbstractAppender("graftbench-codegen-fallbacks", null, null, true,
      Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val m = e.getMessage
    if (m != null && m.getFormattedMessage.contains("Failed to compile")) count.incrementAndGet()
  }
}

object CodegenFallbackCounter {
  def install(): CodegenFallbackCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val a = new CodegenFallbackCounter
    a.start()
    ctx.getConfiguration.getRootLogger.addAppender(a, null, null)
    ctx.updateLoggers()
    a
  }
}

/** Records spans at the layer boundaries the benchmark calls into, plus
  * what Spark reports about the jobs those calls start. Everything stays
  * in memory; [[spansJson]] writes it out once, at the end of the run.
  *
  * Driver-side spans (pass → op → phase, and the sources calls inside a
  * phase) come from the harness. Job and stage spans, and task counters,
  * come from a SparkListener; each phase runs under its own job group,
  * which ties a job to the phase that started it. Planning intervals
  * come from each query execution's planning tracker. */
final class Tracer(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val ids = new AtomicLong(0)
  private val driverSpans = mutable.ArrayBuffer.empty[Span]
  private val groupSpan = mutable.Map.empty[String, Long]
  /** files and bytes the layout ops wrote and probed, per pass */
  private val passCounters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  def add(pass: Int, key: String, v: Double): Unit = {
    val m = passCounters.getOrElseUpdate(pass, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  /** Run `body` as one span; for a phase, also under its own job group. */
  def span[T](parent: Long, kind: String, name: String, group: Option[String] = None)
             (body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = nowMs
    group.foreach { g =>
      groupSpan.synchronized(groupSpan(g) = id)
      sc.setJobGroup(g, name, interruptOnCancel = false)
    }
    try body(id)
    finally {
      group.foreach(_ => sc.clearJobGroup())
      driverSpans += Span(id, parent, kind, name, t0, nowMs)
    }
  }

  // ---- listener side (filled on the listener bus thread) ----
  private final case class JobRec(id: Int, group: String, name: String, start: Long,
                                  var end: Long = -1L)
  private final class StageRec(val id: Int, val job: Int, val numTasks: Int,
                               val scan: Boolean, val submitted: Long) {
    var completed = -1L
    var tasks, retries = 0L
    var taskMs, waitMs, inBytes, inRows, shRead, shWrite, spill, outBytes = 0L
  }
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[(Int, Int), StageRec]
  private val planIntervals = mutable.ArrayBuffer.empty[(String, Double, Double)]
  /** (planned at, spread repartitions in the plan) of each executed query */
  private val spreadEvents = mutable.ArrayBuffer.empty[(Double, Int)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized0 {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, group, name, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized0 {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized0 {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId,
        stageJob.getOrElse(i.stageId, -1), i.numTasks,
        i.rddInfos.exists(_.name.contains("FileScanRDD")),
        i.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized0 {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach(
        _.completed = i.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized0 {
      stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val ti = e.taskInfo
        s.tasks += 1
        if (ti.attemptNumber > 0) s.retries += 1
        s.taskMs += math.max(0L, ti.finishTime - ti.launchTime)
        s.waitMs += math.max(0L, ti.launchTime - s.submitted)
        Option(e.taskMetrics).foreach { m =>
          s.inBytes += m.inputMetrics.bytesRead
          s.inRows += m.inputMetrics.recordsRead
          s.shRead += m.shuffleReadMetrics.totalBytesRead
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  private def synchronized0(body: => Unit): Unit = Tracer.this.synchronized(body)

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = synchronized0 {
      val phases = qe.tracker.phases
      phases.foreach { case (phase, s) =>
        planIntervals += ((phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
      val n = Run.spreads(qe.analyzed)
      if (n > 0) spreadEvents += ((phases.get("planning").map(_.endTimeMs.toDouble)
        .getOrElse(nowMs), n))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val fallbacks: CodegenFallbackCounter = CodegenFallbackCounter.install()
  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Process-wide counters that have no per-job attribution. */
  def snapshot(): Map[String, Double] = Map(
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble,
    "codegen_ns" -> CodeGenerator.compileTime.toDouble,
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "fallbacks" -> fallbacks.count.get.toDouble)

  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(sc)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Per-layer metrics of one pass, from its spans and listener records.
    * `before`/`after` are [[snapshot]]s taken around the pass. */
  def passMetrics(pass: Int, before: Map[String, Double],
                  after: Map[String, Double]): Map[String, Double] = synchronized {
    val prefix = s"p$pass|"
    val phases = driverSpans.filter(s => s.kind == "phase" &&
      groupSpan.exists { case (g, id) => id == s.id && g.startsWith(prefix) })
    val byId = phases.map(s => s.id -> s).toMap
    val phaseOfGroup = groupSpan.collect { case (g, id) if g.startsWith(prefix) => g -> byId.get(id) }
      .collect { case (g, Some(s)) => g -> s }
    val passJobs = jobs.values.filter(j => phaseOfGroup.contains(j.group)).toSeq
    val jobIds = passJobs.map(_.id).toSet
    val passStages = stages.values.filter(s => jobIds(s.job)).toSeq
    val build = phases.filter(_.name == "build")
    val exec = phases.filter(_.name == "exec")
    val execJobIds = passJobs.filter(j => phaseOfGroup(j.group).name == "exec").map(_.id).toSet
    val buildJobs = passJobs.filter(j => phaseOfGroup(j.group).name == "build")
    def jobIv(j: JobRec) = (j.start.toDouble, (if (j.end < 0) j.start else j.end).toDouble)
    val plans = planIntervals.filter(_._1 != "parsing").map(x => (x._2, x._3)).toSeq
    val planS = phases.map(p => covered(plans, p.start, p.end)).sum / 1e3
    val opSelf = build.map { b =>
      b.dur - covered(plans ++ passJobs.map(jobIv), b.start, b.end)
    }.sum / 1e3
    val execS = exec.map(_.dur).sum / 1e3
    val execTaskMs = passStages.filter(s => execJobIds(s.job)).map(_.taskMs).sum
    val sourceSpans = driverSpans.filter(s => s.kind == "sources" && s.name == "write" &&
      phases.exists(p => p.id == s.parent))
    val counters = passCounters.getOrElse(pass, mutable.Map.empty[String, Double])
    def d(k: String) = after(k) - before(k)
    Map(
      "operators.build_s" -> build.map(_.dur).sum / 1e3,
      "operators.self_s" -> opSelf,
      "operators.build_jobs" -> buildJobs.size.toDouble,
      "operators.checkpoint_jobs" -> buildJobs.count(_.name.toLowerCase.contains("checkpoint")).toDouble,
      "plans.plan_s" -> planS,
      "plans.codegen_s" -> d("codegen_ns") / 1e9,
      "plans.codegen_compiles" -> d("codegen_compiles"),
      "plans.codegen_fallbacks" -> d("fallbacks"),
      "exec.exec_s" -> execS,
      "exec.job_s" -> phases.map(p => covered(passJobs.map(jobIv), p.start, p.end)).sum / 1e3,
      "exec.jobs" -> passJobs.size.toDouble,
      "exec.stages" -> passStages.size.toDouble,
      "exec.tasks" -> passStages.map(_.tasks).sum.toDouble,
      "exec.task_wait_s" -> passStages.map(_.waitMs).sum / 1e3,
      "exec.single_task_stage_s" -> passStages.filter(_.numTasks == 1)
        .map(s => math.max(0L, s.completed - s.submitted)).sum / 1e3,
      "exec.busy_ratio" -> (if (execS > 0) execTaskMs / 1e3 / (execS * cores) else 0.0),
      "exec.shuffle_read_bytes" -> passStages.map(_.shRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> passStages.map(_.shWrite).sum.toDouble,
      "exec.spill_bytes" -> passStages.map(_.spill).sum.toDouble,
      "exec.gc_s" -> d("gc_ms") / 1e3,
      "exec.task_retries" -> passStages.map(_.retries).sum.toDouble,
      "sources.spread_fired" -> spreadEvents.filter { case (t, _) =>
        phases.exists(p => p.start <= t && t <= p.end) }.map(_._2).sum.toDouble,
      "sources.scan_tasks" -> passStages.filter(_.scan).map(_.tasks).sum.toDouble,
      "sources.scan_bytes" -> passStages.map(_.inBytes).sum.toDouble,
      "sources.scan_rows" -> passStages.map(_.inRows).sum.toDouble,
      "sources.write_s" -> sourceSpans.map(_.dur).sum / 1e3,
      "sources.bytes_written" -> passStages.map(_.outBytes).sum.toDouble,
      "sources.files_written" -> counters.getOrElse("files_written", 0.0),
      "sources.layout_bytes" -> counters.getOrElse("layout_bytes", 0.0),
      "sources.probe_read_ratio" -> {
        val lb = counters.getOrElse("probed_layout_bytes", 0.0)
        if (lb > 0) probeBytes(passJobs, passStages) / lb else 0.0
      })
  }

  /** Bytes read by the jobs of probe ops (their groups name the op). */
  private def probeBytes(passJobs: Seq[JobRec], passStages: Seq[StageRec]): Double = {
    val probeJobs = passJobs.filter(_.group.split('|').lift(1).exists(_.contains("probe")))
      .map(_.id).toSet
    passStages.filter(s => probeJobs(s.job)).map(_.inBytes).sum.toDouble
  }

  /** Every span of the run as JSON lines: driver spans, then plan, job
    * and stage spans parented by the phase or job that caused them. */
  def spansJson(): Seq[String] = synchronized {
    val phaseByGroup = groupSpan.toMap
    val jobSpanId = jobs.keys.map(j => j -> ids.incrementAndGet()).toMap
    val planSpans = planIntervals.map { case (name, a, b) =>
      val parent = driverSpans.find(s => s.kind == "phase" && s.start <= a && a <= s.end)
        .map(_.id).getOrElse(0L)
      Span(ids.incrementAndGet(), parent, "plan", name, a, b)
    }
    val jobSpans = jobs.values.map(j => Span(jobSpanId(j.id), phaseByGroup.getOrElse(j.group, 0L),
      "job", s"job ${j.id}: ${j.name}", j.start.toDouble, math.max(j.start, j.end).toDouble))
    val stageSpans = stages.values.map(s => Span(ids.incrementAndGet(),
      jobSpanId.getOrElse(s.job, 0L), "stage", s"stage ${s.id} (${s.numTasks} tasks)",
      s.submitted.toDouble, math.max(s.submitted, s.completed).toDouble))
    (driverSpans ++ planSpans ++ jobSpans ++ stageSpans).map(s => Json.obj(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end)).toSeq
  }
}

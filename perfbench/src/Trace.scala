package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A traced interval: an operation's root span, its build/plan/exec phase
  * spans, and the Spark job spans that ran under a phase. Times are epoch
  * milliseconds (the listener's clock) with nanosecond-derived fractions. */
final case class Span(id: Int, op: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Spark listener that files every job, stage, task and streaming progress
  * event under the operation phase current when it started. The phase tag
  * travels as the local property [[Tracer.TagKey]] — inherited by the
  * streaming execution thread a replay starts, which replaces the job group. */
final class Tracer extends SparkListener {
  import Tracer._

  final class JobRec(val tag: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final class StageRec(val tag: String) {
    @volatile var submittedMs: Long = -1L
    @volatile var completedMs: Long = -1L
    val taskMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val busyMs, waitMs = new AtomicLong()
    val shWriteBytes, shWriteRecords, shReadBytes, fetchWaitMs = new AtomicLong()
    val spillBytes, peakExec, inBytes, inRecords, outBytes = new AtomicLong()
  }
  final case class Progress(tag: String, batchMs: Long, commitMs: Long, stateRows: Long)

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val events = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
    jobs.put(e.jobId, new JobRec(tag, e.time))
    e.stageIds.foreach(stageTag.putIfAbsent(_, tag))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }
  private def stage(id: Int): StageRec =
    stages.computeIfAbsent(id, i => new StageRec(stageTag.getOrDefault(i, "")))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    stage(e.stageInfo.stageId).submittedMs = e.stageInfo.submissionTime.getOrElse(-1L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    stage(e.stageInfo.stageId).completedMs = e.stageInfo.completionTime.getOrElse(-1L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val s = stage(e.stageId)
    val info = e.taskInfo
    s.taskMs.add(info.duration)
    if (s.submittedMs > 0) s.waitMs.addAndGet(math.max(0L, info.launchTime - s.submittedMs))
    val m = e.taskMetrics
    if (m != null) {
      s.busyMs.addAndGet(m.executorRunTime)
      s.shWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.shWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      s.shReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      s.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      s.peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
      s.inBytes.addAndGet(m.inputMetrics.bytesRead)
      s.inRecords.addAndGet(m.inputMetrics.recordsRead)
      s.outBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      events.incrementAndGet()
      val pr = p.progress
      val batch = Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val ops = pr.stateOperators.toSeq
      progress.add(Progress(currentTag, batch, ops.map(_.commitTimeMs).sum,
        ops.map(_.numRowsTotal).sum))
    case _ => ()
  }

  /** Tag of the phase the harness is in; progress events carry no
    * properties, so they are filed by time of arrival instead. */
  @volatile var currentTag: String = ""

  /** Wait until the listener bus has delivered every event of finished work:
    * all started jobs ended and no new event for a quiet interval. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = events.get()
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      val open = jobs.values.asScala.exists(_.endMs < 0)
      if (!open && System.currentTimeMillis() - quietSince >= 150) return
      Thread.sleep(20)
    }
  }
}

object Tracer {
  val TagKey = "graftbench.span"

  /** Counts whole-stage-codegen fallbacks from Spark's own log events: the
    * fallback changes no plan node, it is only logged. */
  final class FallbackCounter {
    val count = new AtomicLong()
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

    private val loggerName = "org.apache.spark.sql.execution.WholeStageCodegenExec"
    def install(): Unit = {
      val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val app = new AbstractAppender("graftbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = {
          val m = e.getMessage.getFormattedMessage
          if (m.contains("Whole-stage codegen disabled") || m.contains("Found too long generated codes"))
            count.incrementAndGet()
        }
      }
      app.start()
      val lc = new LoggerConfig(loggerName, Level.INFO, false)
      lc.addAppender(app, Level.INFO, null)
      cfg.addLogger(loggerName, lc)
      ctx.updateLoggers()
    }
  }
}

/** Per-operation record of a traced run, derived from spans and events. */
final case class OpTrace(
    op: String, layer: String,
    buildS: Double, buildSelfS: Double, buildJobs: Int,
    jobs: Int, stages: Int, tasks: Long,
    taskBusyS: Double, taskWaitS: Double, stageSkew: Double,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, fetchWaitS: Double,
    shuffleRecords: Long, spillBytes: Long, peakExecBytes: Long,
    scanBytes: Long, scanRecords: Long, bytesWritten: Long, gcS: Double,
    analysisMs: Double, optimizationMs: Double, planningMs: Double,
    filesReadFrac: Seq[Double],
    batches: Int, batchMs: Seq[Long], stateCommitMs: Long, stateRows: Long)

object OpTrace {

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val xs = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    xs.foreach { case (s, e) =>
      if (cs.isNaN || s > ce) { if (!cs.isNaN) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Build the record of operation `seq` from the tracer's events. Job spans
    * are appended to `spans` under the phase span they ran in. */
  def of(t: Tracer, seq: Int, op: Op, phases: Map[String, Span], spans: ArrayBuffer[Span],
      nextId: () => Int, gcS: Double, catalyst: Map[String, Double],
      filesReadFrac: Seq[Double]): OpTrace = {
    val prefix = s"$seq:"
    val myJobs = t.jobs.asScala.toSeq.filter(_._2.tag.startsWith(prefix)).sortBy(_._1)
    myJobs.foreach { case (id, j) =>
      val phase = j.tag.stripPrefix(prefix)
      val parent = phases.get(phase).map(_.id).getOrElse(-1)
      spans += Span(nextId(), seq, parent, s"job-$id", j.startMs.toDouble,
        (if (j.endMs > 0) j.endMs else j.startMs).toDouble)
    }
    val myStages = t.stages.asScala.values.filter(_.tag.startsWith(prefix)).toSeq
    val build = phases("build")
    val buildJobIv = myJobs.filter(_._2.tag == s"${prefix}build")
      .map { case (_, j) => (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble) }
    val buildS = (build.endMs - build.startMs) / 1000
    val buildSelf = buildS - covered(buildJobIv, build.startMs, build.endMs) / 1000
    val skew = myStages.filter(_.taskMs.size > 0)
      .maxByOption(s => s.completedMs - s.submittedMs)
      .map { s =>
        val ts = s.taskMs.asScala.map(_.toDouble).toSeq
        val med = median(ts)
        if (med > 0) ts.max / med else 1.0
      }.getOrElse(0.0)
    def sum(f: Tracer#StageRec => Long): Long = myStages.map(f).sum
    val prog = t.progress.asScala.filter(_.tag.startsWith(prefix)).toSeq
    OpTrace(op.name, op.layer, buildS, buildSelf, buildJobIv.size,
      myJobs.size, myStages.size, myStages.map(_.taskMs.size.toLong).sum,
      sum(_.busyMs.get) / 1000.0, sum(_.waitMs.get) / 1000.0, skew,
      sum(_.shWriteBytes.get), sum(_.shReadBytes.get), sum(_.fetchWaitMs.get) / 1000.0,
      sum(_.shWriteRecords.get), sum(_.spillBytes.get),
      myStages.map(_.peakExec.get).foldLeft(0L)(math.max),
      sum(_.inBytes.get), sum(_.inRecords.get), sum(_.outBytes.get), gcS,
      catalyst.getOrElse("analysis", 0.0), catalyst.getOrElse("optimization", 0.0),
      catalyst.getOrElse("planning", 0.0), filesReadFrac,
      prog.size, prog.map(_.batchMs), prog.map(_.commitMs).sum,
      if (prog.isEmpty) 0L else prog.last.stateRows)
  }
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark made into a layer. The id is also the Spark job
  * group the call ran under. */
final case class Span(id: String, name: String, layer: String, parent: String,
    startNs: Long, endNs: Long, runId: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task metrics summed over one job group. */
final class GroupAgg {
  var jobs, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, inBytes, inRecords = 0L
  var shReadBytes, shWriteBytes, fetchWaitMs, spillBytes, peakExecMem = 0L
  val durations = mutable.ArrayBuffer[Long]()
  val slotWaits = mutable.ArrayBuffer[Long]()
}

/** Sums task metrics per job group. Ignores everything while `on` is false. */
final class TaskListener extends SparkListener {
  @volatile var on = false
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[Int, Long]()
  val groups = mutable.Map[String, GroupAgg]()

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
  private def agg(g: String) = groups.getOrElseUpdate(g, new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) group(e.properties).foreach { g =>
      agg(g).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (on) {
      val id = e.stageInfo.stageId
      e.stageInfo.submissionTime.foreach(t => stageSubmit(id) = t)
      group(e.properties).foreach(g => stageGroup(id) = g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (on) stageGroup.get(e.stageId).foreach { g =>
      val a = agg(g)
      val info = e.taskInfo
      a.tasks += 1
      if (info.failed || info.killed) a.failedTasks += 1
      a.durations += info.duration
      stageSubmit.get(e.stageId).foreach(s => a.slotWaits += math.max(0L, info.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}

/** Phase times of every executed query, from its QueryPlanningTracker.
  * Calls are sequential, so what arrives during a call belongs to it. */
final class PlanListener extends QueryExecutionListener {
  @volatile var on = false
  private val pending = mutable.ArrayBuffer[Map[String, Double]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (on) pending += qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(): Seq[Map[String, Double]] = synchronized {
    val out = pending.toList
    pending.clear()
    out
  }
}

/** Collects the progress of every micro-batch, keyed by the query's run id. */
final class ProgressListener extends StreamingQueryListener {
  private val byRun = mutable.Map[String, mutable.ArrayBuffer[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    byRun.getOrElseUpdate(e.progress.runId.toString, mutable.ArrayBuffer()) += e.progress
  }
  def progress(runId: String): Seq[StreamingQueryProgress] = synchronized {
    byRun.get(runId).map(_.toList).getOrElse(Nil)
  }
}

/** Polls the heap pools for their usage after the last collection. */
final class JvmSampler extends Thread("perfbench-jvm-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var heapAfterGcPeak = 0L
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)

  override def run(): Unit = while (running) {
    val used = pools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    heapAfterGcPeak = math.max(heapAfterGcPeak, used)
    Thread.sleep(50)
  }
  def finish(): Unit = { running = false; join() }

  def gc(): (Double, Double) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum.toDouble, beans.map(_.getCollectionCount).sum.toDouble)
  }
}

/** Times every call and, while tracing is on, records a span around it and
  * runs it under a job group named after the span. */
final class Tracer(spark: SparkSession, val traced: Boolean, val runId: String) {
  val tasks = new TaskListener
  val plans = new PlanListener
  val progress = new ProgressListener
  spark.streams.addListener(progress)
  if (traced) {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
  }

  @volatile private var on = false
  def isOn: Boolean = on
  /** Switch recording on or off between passes; a plain run never records. */
  def setOn(v: Boolean): Unit = {
    drain()
    on = traced && v
    tasks.on = on
    plans.on = on
  }

  val spans = mutable.ArrayBuffer[Span]()
  val planPhases = mutable.Map[String, Seq[Map[String, Double]]]()
  val codegen = mutable.Map[String, (Long, Double)]()
  /** Streaming queries run under their run id as job group. */
  val aliases = mutable.Map[String, String]()
  private var stack: List[String] = Nil
  private var next = 0

  /** Every timed call: (name, layer, ms, traced). */
  val calls = mutable.ArrayBuffer[(String, String, Double, Boolean)]()

  def drain(): Unit = Bridge.drainListeners(spark.sparkContext)

  def current: Option[String] = stack.headOption

  def alias(streamRunId: String): Unit = current.foreach(s => aliases(streamRunId) = s)

  def call[T](layer: String, name: String)(body: => T): T = {
    val recording = on
    val id = s"$runId-$next"
    next += 1
    val parent = stack.headOption.getOrElse("")
    val cg0 = if (recording) Bridge.codegen() else (0L, 0.0)
    if (recording) {
      spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
      stack = id :: stack
    }
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      calls.synchronized { calls += ((name, layer, (t1 - t0) / 1e6, recording)) }
      if (recording) {
        drain()
        val cg1 = Bridge.codegen()
        spans += Span(id, name, layer, parent, t0, t1, runId)
        planPhases(id) = plans.take()
        codegen(id) = (cg1._1 - cg0._1, cg1._2 - cg0._2)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(p, "", interruptOnCancel = false)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }
  }

  /** Task metrics of the spans of one layer (and the streams they ran). */
  def groupsOf(layer: String, name: String => Boolean = _ => true): Seq[GroupAgg] = {
    val ids = spans.filter(s => s.layer == layer && name(s.name)).map(_.id).toSet
    tasks.synchronized {
      tasks.groups.collect {
        case (g, a) if ids(g) || aliases.get(g).exists(ids) => a
      }.toSeq
    }
  }

  /** Self time per layer: each span's duration minus what its children cover. */
  def selfMs: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Spans are kept in memory and written once, at the end of the run. */
  def writeSpans(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":"${s.id}","name":"${s.name}","layer":"${s.layer}",""" +
        s""""parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":"${s.runId}"}""")
    } finally w.close()
  }
}

package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** The benchmark's own listeners. Each Spark job is charged to one op
  * (by the job group the harness sets, or else by the op whose interval
  * holds the job's start: stream micro-batches run under the stream's
  * own group) and to one layer, read from the job's call site.
  */
final class Trace extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long,
      val layer: String) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val batches = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Layer of each SQL execution, from the call site of the action that
    * started it: adaptive query stages submit their jobs from a thread
    * pool, so only the execution's call site shows the engine frames.
    */
  private val executions = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executions(s.executionId) = Trace.layerOf(s.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    val layer = prop("spark.sql.execution.id").flatMap(x => executions.get(x.toLong))
      .getOrElse(Trace.layerOf(e.stageInfos.headOption.map(_.details).getOrElse("")))
    val j = new Job(e.jobId, group, e.time * 1000000L, layer)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
    }
  }

  /** Micro-batch (duration ms, input rows) from the stream listener. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) Trace.this.synchronized {
        batches += ((e.progress.batchDuration, e.progress.numInputRows))
      }
  }

  def allJobs: Seq[Job] = synchronized(jobs.values.toList)
  def allBatches: Seq[(Long, Long)] = synchronized(batches.toList)
}

object Trace {
  /** Layers in the order a job is claimed: a fixture build commits
    * through Snapshots, and a stream sink commits through Snapshots too,
    * so the outer frame names the layer.
    */
  val Layers: Seq[String] =
    Seq("fixture", "intermediates", "streaming", "snapshots", "operators")

  private val Frames: Seq[(String, Seq[String])] = Seq(
    "fixture" -> Seq("graft.operators.Incremental$.ensureBuilt",
      "graft.operators.Incremental$.evenOddDocsTable"),
    "intermediates" -> Seq("graft.Intermediates$"),
    "streaming" -> Seq("graft.streaming."),
    "snapshots" -> Seq("graft.sources."))

  def layerOf(callSite: String): String =
    Frames.collectFirst {
      case (layer, marks) if marks.exists(callSite.contains) => layer
    }.getOrElse("operators")

  /** Time of [from, to) charged to each layer by a sweep over job
    * intervals: at each instant the open job whose layer comes first in
    * [[Layers]] is charged; instants with no open job are driver time.
    * The parts sum to the interval, so shared builds and consumer work
    * add up to the op's wall time.
    */
  def split(from: Long, to: Long, js: Seq[(Long, Long, String)]): Map[String, Long] = {
    val cuts = (Seq(from, to) ++ js.flatMap { case (s, e, _) => Seq(s, e) })
      .filter(t => t >= from && t <= to).distinct.sorted
    val out = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val open = js.collect { case (s, e, l) if s <= a && e >= b => l }
        val layer = Layers.find(open.contains).getOrElse("driver")
        out(layer) += b - a
      case _ =>
    }
    out.toMap.withDefaultValue(0L)
  }
}

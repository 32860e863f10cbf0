package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** A span of the traced run: one call into a layer, with the span that
  * caused it. Times are epoch microseconds. */
final case class Span(id: Int, parent: Int, name: String, label: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Harness-side span recorder. Spans nest on one stack because every load
  * comes from a single client thread; spans are kept in memory and
  * written once the run ends. With tracing off every call is a plain
  * pass-through. */
final class Tracer(val on: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int](0)
  private var next = 1

  /** Id of the innermost open span (0 at the root). */
  def current: Int = stack.top

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = next; next += 1
      val parent = stack.top
      stack.push(id)
      val t0 = nowUs
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, label, t0, nowUs)
      }
    }

  /** Records an already-finished span (planner phases, jobs, stages,
    * micro-batch parts). Parent -1 means "the innermost harness span
    * open at the span's midpoint", resolved when the run ends. */
  def add(parent: Int, name: String, label: String, startUs: Long, endUs: Long): Int = {
    val id = next; next += 1
    spans += Span(id, parent, name, label, startUs, endUs)
    id
  }
}

/** Per-stage sums of task metrics, filled from `onTaskEnd`. */
final class StageSums {
  var tasks, scanTasks = 0L
  var runMs, cpuNs, gcMs, busyMs, schedDelayMs = 0L
  var spillBytes, shufWrite, shufRead, fetchWaitMs = 0L
  var inBytes, inRows, outBytes, outRows = 0L
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
    group: String)
final case class StageRec(id: Int, jobId: Int, submitMs: Long, var endMs: Long)

/** The benchmark's `SparkListener`: records every job, stage and task of
  * the traced run. Events arrive on Spark's listener bus thread, so all
  * state is guarded by this object's lock. */
final class Recorder extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val sums = mutable.Map.empty[Int, StageSums]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var endedGroups = Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += JobRec(e.jobId, e.time, -1L, e.stageIds, group)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.group.nonEmpty) endedGroups += j.group
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(System.currentTimeMillis()), -1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach(_.endMs =
      i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = sums.getOrElseUpdate(e.stageId, new StageSums)
      val info = e.taskInfo
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.busyMs += busy
      s.schedDelayMs += math.max(0L, info.duration - busy)
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.shufWrite += m.shuffleWriteMetrics.bytesWritten
      s.shufRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) s.scanTasks += 1
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRows += m.outputMetrics.recordsWritten
    }
  }

  def groupEnded(g: String): Boolean = synchronized(endedGroups.contains(g))
}

package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._

/** Work counters of the Spark tasks attributed to one span. */
final class TaskCounters {
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L        // executor run time
  var waitMs = 0L        // scheduler delay: launch-to-finish minus the task's own work
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
}

final class JobRec(val id: Int, val span: Long, val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = -1L
  var ok = true
}

final class StageRec(val id: Int, val job: Int, val span: Long) {
  var tasks = 0
  var submitMs = -1L
  var endMs = -1L
  var failed = false
}

/** Attributes Spark jobs, stages and tasks to the benchmark span that was
  * open on the driver thread when the job was submitted. The span id
  * rides the job's local properties, so attribution does not depend on
  * the order in which listener events arrive.
  */
final class Tracer extends SparkListener {
  import Tracer.SpanKey

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  private val jobById = mutable.Map[Int, JobRec]()
  private val stageSpan = mutable.Map[Int, (Int, Long)]()
  private val counters = mutable.Map[Long, TaskCounters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(-1L)
    val j = new JobRec(e.jobId, span, e.time, e.stageIds)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stageSpan(s) = (e.jobId, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val (job, span) = stageSpan.getOrElse(i.stageId, (-1, -1L))
    val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new StageRec(i.stageId, job, span))
    s.tasks = i.numTasks
    s.submitMs = i.submissionTime.getOrElse(-1L)
    s.endMs = i.completionTime.getOrElse(-1L)
    s.failed = i.failureReason.isDefined
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.get(e.stageId).map(_._2).getOrElse(-1L)
    val c = counters.getOrElseUpdate(span, new TaskCounters)
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.busyMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val own = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      c.waitMs += math.max(0L, e.taskInfo.duration - own - e.taskInfo.gettingResultTime)
    }
  }

  def countersOf(span: Long): TaskCounters =
    synchronized(counters.getOrElse(span, new TaskCounters))

  def jobsOf(span: Long): Seq[JobRec] = synchronized(jobs.filter(_.span == span).toSeq)

  def stagesOf(span: Long): Seq[StageRec] =
    synchronized(stages.values.filter(_.span == span).toSeq)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Length of the union of [start, end) intervals clipped to [lo, hi). */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Hadoop `FileSystem` storage statistics of the `file:` scheme, summed
  * over every registered instance (tasks and driver share one JVM here),
  * plus the operation counts of [[CountingFs]].
  */
object FsStats {
  def snapshot(): Map[String, Long] = {
    val acc = mutable.Map[String, Long]().withDefaultValue(0L)
    val it = FileSystem.getGlobalStorageStatistics.iterator()
    while (it.hasNext) {
      val st = it.next()
      if (st.getScheme == "file") {
        val ls = st.getLongStatistics
        while (ls.hasNext) {
          val l = ls.next()
          acc(l.getName) += l.getValue
        }
      }
    }
    acc.toMap ++ CountingFs.snapshot()
  }

  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }

  def ops(d: Map[String, Long]): Long = CountingFs.Ops.map(o => d.getOrElse(s"op_$o", 0L)).sum
}

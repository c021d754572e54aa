package titlebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed benchmark operation: the op span every job and stage span
  * hangs under. `*Ns` are `System.nanoTime` values, `*Ms` epoch millis. */
final case class OpSpan(id: Int, kind: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long, rows: Long, traced: Boolean, ok: Boolean) {
  def durNs: Long = endNs - startNs
}

/** A kernel span: one timed pass of a layer function over a sample. */
final case class KernelSpan(name: String, parent: String, startNs: Long,
    endNs: Long, items: Long)

final case class JobSpan(jobId: Int, group: String, startMs: Long,
    endMs: Long, stageIds: Seq[Int], failed: Boolean)

final case class StageSpan(stageId: Int, attempt: Int, startMs: Long,
    endMs: Long, numTasks: Int, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    inputRows: Long, outputBytes: Long, failed: Boolean)

/** The traced run's recorder. Spark listener events arrive on the
  * listener-bus thread; op and kernel spans are recorded by the client
  * thread. Everything stays in memory until the run ends and `Main`
  * writes it out. Jobs are tagged to their op through `setJobGroup`; a job
  * started from a pooled thread that did not inherit the group is
  * attributed by time, which is unambiguous because the client is a
  * closed loop (one op in flight). */
final class Trace extends SparkListener {
  @volatile var recording = false
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[JobSpan]()
  val stages = new ConcurrentLinkedQueue[StageSpan]()
  @volatile var taskFailures = 0L
  @volatile private var lastEventMs = System.currentTimeMillis()
  val kernels = mutable.ArrayBuffer.empty[KernelSpan]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = System.currentTimeMillis()
    if (recording) {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart.put(e.jobId, (group, e.time, e.stageIds))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0, st) =>
      jobs.add(JobSpan(e.jobId, g, t0, e.time, st,
        e.jobResult != JobSucceeded))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventMs = System.currentTimeMillis()
    if (recording) {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages.add(StageSpan(s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
        s.numTasks,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.inputMetrics.recordsRead,
        if (m == null) 0L else m.outputMetrics.bytesWritten,
        s.failureReason.isDefined))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (recording && e.reason != org.apache.spark.Success) taskFailures += 1

  /** Wait until the listener bus has delivered every job-end event and
    * gone quiet; events are asynchronous to the client thread. */
  def drain(quietMs: Long = 300L, timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
        (!jobStart.isEmpty || System.currentTimeMillis() - lastEventMs < quietMs))
      Thread.sleep(5)
  }

  def kernel[T](name: String, parent: String, items: Long)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    kernels += KernelSpan(name, parent, t0, System.nanoTime(), items)
    r
  }

  /** Jobs of one op: tagged with its group, or untagged and started
    * inside its epoch-millis window (listener times are epoch millis). */
  def jobsOf(op: OpSpan): Seq[JobSpan] = {
    val tag = Trace.group(op.id)
    jobs.asScala.filter(j => j.group == tag ||
      (j.group.isEmpty && j.startMs >= op.startMs && j.startMs <= op.endMs)).toSeq
  }

  def stagesOf(js: Seq[JobSpan]): Seq[StageSpan] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.filter(s => ids.contains(s.stageId)).toSeq
  }
}

object Trace {
  def group(opId: Int): String = s"titlebench-op-$opId"

  /** Wall time of `[start, end]` covered by the union of `spans`. */
  def covered(start: Long, end: Long, spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = start
    spans.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }
}

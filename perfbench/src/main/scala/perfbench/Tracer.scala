package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's job, stage and task events plus the planning phases
  * of every query execution, through the public listener interfaces
  * only. Registered for traced passes and removed for untraced ones.
  *
  * Callbacks arrive on the listener-bus thread. `drain()` runs a marker
  * job and waits for its end event: the bus queue is FIFO, so every
  * event posted before the marker has been delivered once it returns. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = ArrayBuffer[JobRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val stageJob = scala.collection.mutable.Map[Int, Int]()
  private val markerJobs = scala.collection.mutable.Set[Int]()
  private var markerLatch: CountDownLatch = null
  private val phaseMs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    synchronized { markerLatch = latch }
    val sc = spark.sparkContext
    sc.setJobGroup(Marker, Marker, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    if (!latch.await(60, TimeUnit.SECONDS))
      sys.error("listener bus did not deliver the marker job within 60 s")
  }

  /** Forget everything recorded so far (called at the start of a pass). */
  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); phaseMs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == Marker) markerJobs += e.jobId
    else {
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      jobs += JobRec(e.jobId, group, e.time, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) { if (markerLatch != null) markerLatch.countDown() }
    else jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { job =>
      stages += StageRec(i.stageId, i.attemptNumber(), job,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!stageJob.contains(e.stageId)) return
    val ti = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != Success
    tasks += (if (m == null) TaskRec(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime, failed)
    else TaskRec(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime, failed,
      runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      peakMem = m.peakExecutionMemory,
      inRows = m.inputMetrics.recordsRead, inBytes = m.inputMetrics.bytesRead,
      outBytes = m.outputMetrics.bytesWritten,
      shWrite = m.shuffleWriteMetrics.bytesWritten,
      shRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      spill = m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs }
  }

  /** Snapshot of everything recorded since the last `reset()`. Call
    * after `drain()`. */
  def snapshot(): Recorded = synchronized {
    Recorded(jobs.map(_.copy()).toSeq, stages.toSeq, tasks.toSeq, phaseMs.toMap)
  }
}

object Tracer {
  val Marker = "perfbench-marker"

  final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long)
  final case class StageRec(id: Int, attempt: Int, jobId: Int, submitMs: Long, endMs: Long)
  final case class TaskRec(stageId: Int, stageAttempt: Int, launchMs: Long, finishMs: Long,
      failed: Boolean, runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, peakMem: Long = 0,
      inRows: Long = 0, inBytes: Long = 0, outBytes: Long = 0, shWrite: Long = 0,
      shRead: Long = 0, fetchWaitMs: Long = 0, spill: Long = 0)
  final case class Recorded(jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec],
      phaseMs: Map[String, Long])

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val xs = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    xs.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

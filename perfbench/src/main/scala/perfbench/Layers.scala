package perfbench

import perfbench.Harness.{MB, Step}
import perfbench.Tracer.{covered, median, Recorded}

/** Per-layer figures of one traced pass, from the listener record. */
object Layers {
  def apply(rec: Recorded, start: Double, end: Double, steps: Seq[Step]): Map[String, Double] = {
    val t = rec.tasks
    def sum(f: Tracer.TaskRec => Long): Double = t.map(f).sum.toDouble
    val busy = covered(t.map(x => (x.launchMs.toDouble, x.finishMs.toDouble)), start, end)
    // median over stages of max/median task time, stages of 2+ tasks
    val skew = t.filterNot(_.failed).groupBy(x => (x.stageId, x.stageAttempt)).values
      .map(_.map(x => (x.finishMs - x.launchMs).toDouble)).filter(_.size >= 2)
      .map(ds => ds.max / math.max(median(ds), 1.0)).toSeq
    Map(
      "planning.analysis_s" -> rec.phaseMs.getOrElse("analysis", 0L) / 1e3,
      "planning.optimization_s" -> rec.phaseMs.getOrElse("optimization", 0L) / 1e3,
      "planning.physical_s" -> rec.phaseMs.getOrElse("planning", 0L) / 1e3,
      "scheduler.jobs" -> rec.jobs.size.toDouble,
      "scheduler.stages" -> rec.stages.size.toDouble,
      "scheduler.tasks" -> t.size.toDouble,
      "scheduler.failed_tasks" -> t.count(_.failed).toDouble,
      "scheduler.idle_s" -> ((end - start) - busy) / 1e3,
      "executor.run_s" -> sum(_.runMs) / 1e3,
      "executor.cpu_s" -> sum(_.cpuNs) / 1e9,
      "executor.gc_s" -> sum(_.gcMs) / 1e3,
      "executor.task_skew" -> (if (skew.isEmpty) 1.0 else median(skew)),
      "executor.peak_mem_mb" -> (if (t.isEmpty) 0.0 else t.map(_.peakMem).max / MB),
      "sources.read_rows" -> sum(_.inRows),
      "sources.read_mb" -> sum(_.inBytes) / MB,
      "shuffle.write_mb" -> sum(_.shWrite) / MB,
      "shuffle.read_mb" -> sum(_.shRead) / MB,
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "shuffle.spill_mb" -> sum(_.spill) / MB,
      "io.write_mb" -> sum(_.outBytes) / MB,
      "io.write_s" -> steps.filter(_.name == "load_write").map(s => (s.execEnd - s.buildEnd) / 1e3).sum)
  }
}

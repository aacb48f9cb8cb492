package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** Closed-loop client for one workload: one JVM, one session, one
  * query at a time. Each step makes the registry call
  * (`SparkEntry.queries(name)(spark, dir)`, the "build"), forces the
  * result through the `noop` sink (the "exec"), and only then issues the
  * next step.
  *
  * Run order: an untimed check pass that writes every result as parquet
  * for the oracle check, one untimed warm pass, then `passes` measured
  * passes. Pins
  * (persisted and checkpointed RDDs) are released between passes only,
  * never between the queries of a pass. In traced
  * mode half of the measured passes run with `Tracer` installed; the
  * untraced ones give the tracing overhead.
  *
  * Arguments are `key=value` pairs; the result is one JSON file (see
  * run.py, which owns the metric definitions). */
object Harness {
  final case class Step(name: String, buildStart: Double, buildEnd: Double, execEnd: Double,
      error: String) {
    def ok: Boolean = error == null
  }
  final case class Pass(traced: Boolean, start: Double, end: Double, cpuNs: Long, gcMs: Long,
      steps: Seq[Step], rddsPinned: Int, pinnedBytes: Long, layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val work = kv("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // extensions are applied when the session state is first built
    require(spark.sessionState.functionRegistry.functionExists(FunctionIdentifier("minhash128")))
    val readyMs = System.currentTimeMillis()
    val result = new Json.Obj().put("ready_ms", readyMs).put("cores", cores)
    try {
      if (!kv.get("probe").contains("1")) run(spark, kv, result)
    } finally {
      Files.writeString(Paths.get(kv("result")), result.toJson)
      spark.stop()
    }
  }

  private def run(spark: SparkSession, kv: Map[String, String], result: Json.Obj): Unit = {
    val dataDir = kv("data")
    val work = kv("work")
    val names = kv("queries").split(",").toSeq
    val withLoad = kv.get("load").contains("1")
    val nPasses = kv("passes").toInt
    val traced = kv.get("trace").contains("1")
    val sc = spark.sparkContext
    val registry = graft.SparkEntry.queries
    val loadPath = s"$work/load_events"
    val epoch = Epoch()

    def step(name: String)(build: => DataFrame)(exec: DataFrame => Unit): Step = {
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val b0 = System.nanoTime()
      var b1 = b0
      val err =
        try {
          val df = build
          b1 = System.nanoTime()
          exec(df)
          null
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] $name failed")
            e.printStackTrace()
            s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        } finally sc.clearJobGroup()
      if (b1 == b0) b1 = System.nanoTime()
      Step(name, epoch(b0), epoch(b1), epoch(System.nanoTime()), err)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // the reference pipeline's load stage: cleaned events into a
    // date-partitioned table, then read back
    def loadSteps(): Seq[Step] = Seq(
      step("load_write")(registry("etl_clean_events")(spark, dataDir))(
        graft.io.Sink.writePartitioned(_, loadPath, Seq("event_date"))),
      step("load_read")(spark.read.parquet(loadPath))(noop))

    // non-blocking, as graft.Bench does: a blocking removal waits, with
    // no timeout, until every read lock on the blocks is released
    def release(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    // untimed check pass; its outputs are the oracle check's input
    val checkPass = names.map { n =>
      step(n)(registry(n)(spark, dataDir))(_.write.mode("overwrite").parquet(s"$work/check/$n"))
    } ++ (if (withLoad) loadSteps() else Nil)
    release()
    result.put("check_pass", Json.arr(checkPass.map(stepJson)))
    val oracle = graft.SparkEntry.oracleSql
    result.put("oracle", names.filter(oracle.contains)
      .foldLeft(new Json.Obj)((o, n) => o.put(n, oracle(n))))

    val tracer = new Tracer(spark)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs(): Long = {
      var t = 0L
      ManagementFactory.getGarbageCollectorMXBeans.forEach(g => t += math.max(0L, g.getCollectionTime))
      t
    }
    val passes = ArrayBuffer[Pass]()
    val spans = ArrayBuffer[Span]()
    def pass(tracedPass: Boolean): Pass = {
      if (tracedPass) { tracer.install(); tracer.reset() }
      val cg0 = CodeGenerator.compileTime
      val cgN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cpu0 = osBean.getProcessCpuTime
      val gc0 = gcMs()
      val start = epoch(System.nanoTime())
      val steps = names.map(n => step(n)(registry(n)(spark, dataDir))(noop)) ++
        (if (withLoad) loadSteps() else Nil)
      val end = epoch(System.nanoTime())
      val cpu = osBean.getProcessCpuTime - cpu0
      val gc = gcMs() - gc0
      val cgNs = CodeGenerator.compileTime - cg0
      val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
      val pinned = sc.getPersistentRDDs.size
      val pinnedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val layers =
        if (!tracedPass) Map.empty[String, Double]
        else {
          tracer.drain()
          val rec = tracer.snapshot()
          tracer.uninstall()
          spans ++= Span.build(passes.size, start, end, steps, rec)
          Layers(rec, start, end, steps) ++ Map(
            "planning.codegen_s" -> cgNs / 1e9,
            "planning.codegen_classes" -> cgN.toDouble,
            "jvm.live_heap_mb" -> liveHeapMb())
        }
      release()
      Pass(tracedPass, start, end, cpu, gc, steps, pinned, pinnedBytes, layers)
    }
    // JIT compilation of the engine's hot paths goes on after the check
    // pass; an untimed pass lets it settle (a second one left the
    // run-to-run spread the same)
    pass(tracedPass = false)
    // traced mode orders passes untraced, traced, traced, untraced, ...
    // so a drift in pass time shifts both kinds alike
    while (passes.size < nPasses) passes += pass(tracedPass = traced && Set(1, 2)(passes.size % 4))
    result.put("passes", Json.arr(passes.toSeq.map { p =>
      new Json.Obj().put("traced", p.traced).put("wall_s", (p.end - p.start) / 1e3)
        .put("cpu_s", p.cpuNs / 1e9).put("gc_s", p.gcMs / 1e3)
        .put("rdds_pinned", p.rddsPinned).put("pinned_mb", p.pinnedBytes / MB)
        .put("steps", Json.arr(p.steps.map(stepJson)))
        .put("layers", Json.obj(p.layers))
    }))
    if (traced) {
      Span.write(Paths.get(kv("spans")), spans.toSeq)
      result.put("kernels", Json.obj(Kernels.nsPerRow(spark, kv("kernel_data"))))
    }
    result.put("vm_hwm_mb", vmHwmMb())
  }

  val MB: Double = 1024.0 * 1024.0

  private def stepJson(s: Step): Json.Obj =
    new Json.Obj().put("name", s.name).put("ok", s.ok).put("error", s.error)
      .put("build_s", (s.buildEnd - s.buildStart) / 1e3)
      .put("exec_s", (s.execEnd - s.buildEnd) / 1e3)

  /** Heap in use after a full collection, in MiB: the live set,
    * pinned blocks included. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Maps `System.nanoTime` readings onto epoch milliseconds (the clock
    * Spark's listener events carry), keeping sub-millisecond detail. */
  final case class Epoch() {
    private val baseMs = System.currentTimeMillis()
    private val baseNs = System.nanoTime()
    def apply(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  }
}

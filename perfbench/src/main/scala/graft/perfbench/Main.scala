package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload in one JVM, closed loop, one client.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --out FILE --cores C
  *
  * Order: session build, fixture staging, one untimed checking pass
  * that is also the first warm-up pass, the workload's further untimed
  * warm-up passes, then whole timed passes until S seconds
  * are used (a pass is not started when it would end more than half a
  * pass past S). With --trace 1, timed passes alternate traced and
  * untraced, at least one of each, so the same run gives both the spans
  * and the tracing overhead. Raw samples go to FILE as JSON; statistics
  * are computed by perfbench/run.py. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    val cores = args("cores").toInt
    val checkDir = Paths.get(args("out")).resolveSibling("checks").toString
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val jit = ManagementFactory.getCompilationMXBean

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir",
        Paths.get(sys.props("java.io.tmpdir"), "warehouse").toString)
      .config("spark.local.dir", Paths.get(sys.props("java.io.tmpdir"), "local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionBuildS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext)
    if (traced) tracer.install()
    val run = new RunState(checkDir)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var passNo = 0

    def onePass(phase: String, trace: Boolean): Double = {
      val i = passNo
      passNo += 1
      tracer.on = trace
      tracer.streaming.counting = trace
      tracer.beginPass(i)
      val start = System.nanoTime()
      val cpu0 = processCpu()
      val steal0 = stealSeconds()
      val jit0 = jit.getTotalCompilationTime
      tracer.span("pass", "bench", "") {
        val s = tracer.span("session.new", "session", "") { spark.newSession() }
        if (trace) tracer.watch(s)
        val c = new PassCtx(s, data, i, phase, new Random(seed * 1000003L + i), tracer, run)
        c.guard(s"pass$i")(workload.pass(c))
      }
      val wall = (System.nanoTime() - start) / 1e9
      val cpu = processCpu() - cpu0
      val steal = stealSeconds() - steal0
      val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
      tracer.on = false
      if (trace) { tracer.drain(); tracer.derive() }
      tracer.streaming.counting = false
      passes += Map("pass" -> i, "phase" -> phase, "traced" -> trace, "wall_s" -> wall,
        "cpu_s" -> cpu, "steal_s" -> steal, "jit_s" -> jitS)
      System.err.println(f"[perfbench] ${workload.name} pass $i ($phase${
        if (trace) ", traced" else ""}): $wall%.3f s wall, $cpu%.3f s cpu, $steal%.3f s stolen, $jitS%.3f s jit")
      wall
    }

    workload.stage(spark, data)
    var last = onePass("check", trace = false)
    for (_ <- 0 until workload.warmups) last = onePass("warmup", trace = false)

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val timedStart = System.nanoTime()
    var j = 0
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    while (j == 0 || (traced && j < 2) || elapsed + last / 2 < seconds) {
      last = onePass("timed", trace = traced && j % 2 == 0)
      j += 1
    }
    val measuredS = (System.nanoTime() - timedStart) / 1e9

    if (traced) {
      tracer.on = false
      workload.traceExtra(spark, data, tracer, run)
      tracer.drain()
    }
    val rssMb = peakRssMb()
    // the heap is fixed (-Xms = -Xmx), so the resident set mostly shows
    // its size; what earlier passes leave pinned (SessionMemo) shows as
    // the heap still live after a full collection
    System.gc()
    val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val out = Map(
      "workload" -> workload.name, "seed" -> seed, "cores" -> cores,
      "traced" -> traced, "jvm_start_ms" -> jvmStartMs,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "session_build_s" -> sessionBuildS, "setup_s" -> setupS,
      "measured_s" -> measuredS,
      "peak_rss_mb" -> rssMb, "heap_live_mb" -> liveMb,
      "passes" -> passes.toSeq,
      "ops" -> run.samples.map(o => Map("pass" -> o.pass, "phase" -> o.phase,
        "op" -> o.op, "kind" -> o.kind, "s" -> o.seconds, "ok" -> o.ok)).toSeq,
      "failures" -> run.failures.toSeq,
      "checks" -> run.checks.toSeq,
      "counters" -> run.counters.toMap,
      "spans" -> tracer.spanRecords.map(sp => Map("id" -> sp.id, "parent" -> sp.parent,
        "name" -> sp.name, "layer" -> sp.layer, "op" -> sp.op, "pass" -> sp.pass,
        "start_ns" -> sp.start, "end_ns" -> sp.end)),
      "span_tasks" -> tracer.spanTotals.map { case (k, v) => k.toString -> v.toMap },
      "other_thread_tasks" -> tracer.otherThreadTotals.toMap,
      "streaming" -> tracer.streaming.toMap)
    Files.write(Paths.get(args("out")),
      org.json4s.jackson.Serialization.write(out)(org.json4s.DefaultFormats).getBytes("UTF-8"))
    spark.stop()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads, JIT and GC included), in s. */
  def processCpu(): Double = os.getProcessCpuTime / 1e9

  /** CPU time the host took from all of this machine's CPUs (the
    * `steal` column of /proc/stat, in clock ticks of 1/100 s). */
  def stealSeconds(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100.0

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

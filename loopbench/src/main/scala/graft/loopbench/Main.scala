package graft.loopbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Everything a workload needs: the session, the trace, where to write,
  * and what the run was asked for. */
final case class Ctx(
    spark: SparkSession,
    trace: Trace,
    report: Report,
    seed: Long,
    seconds: Int,
    work: String,
    injectFailures: Boolean) {
  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** One benchmark run in one JVM:
  * `Main --workload <w> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  --out <file> [--inject-failures <0|1>]`.
  * Writes the [[Report]] as JSON to `--out`; `run.py` prints it. */
object Main {
  private val workloads: Map[String, Ctx => Unit] = Map(
    "ingest" -> Ingest.run,
    "query" -> Dashboard.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val workload = opts("workload")
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    // the JVM counts the cores the process may run on (its CPU affinity)
    val cores = Runtime.getRuntime.availableProcessors
    val work = opts("work")
    val traced = opts.getOrElse("trace", "0") == "1"
    val report = new Report

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val sessionReady = System.currentTimeMillis()
    report.note("session_start_s", (sessionReady - jvmStart) / 1000.0)
    report.phase("session")
    val ctx = Ctx(spark, new Trace(spark, traced), report, opts("seed").toLong,
      opts("seconds").toInt, work, opts.getOrElse("inject-failures", "0") == "1")
    val load0 = loadAverage
    val host0 = hostLoopMs
    val cpu0 = cpuTicks
    val tRun = System.nanoTime()
    try run(ctx)
    catch {
      case t: Throwable =>
        report.check("run completed", ok = false, s"${t.getClass.getName}: ${t.getMessage}")
        t.printStackTrace()
    }
    val runS = (System.nanoTime() - tRun) / 1e9
    ctx.trace.detach()
    report.spans = ctx.trace.json
    // the trace's cost: its bookkeeping and listener time against the run
    if (traced) report.layer("trace.overhead_pct", 100.0 * ctx.trace.overheadNs / 1e9 / runS, "%")
    jvmLayer(report, ctx)
    val load1 = loadAverage
    val cpu1 = cpuTicks
    val stealPct = 100.0 * (cpu1._2 - cpu0._2) / math.max(1L, cpu1._1 - cpu0._1)
    report.note("run_s", runS)
    report.note("host_loop_ms_start", host0)
    report.note("host_loop_ms_end", hostLoopMs)
    report.note("load_1m_start", load0)
    report.note("load_1m_end", load1)
    report.note("steal_pct", f"$stealPct%.1f")
    // a run shares the host: CPU time the hypervisor gave to other guests
    // means it was contended. The 1-minute load is only noted: at a run's
    // start it still carries the previous run's own threads.
    report.note("contended", stealPct > 5)
    report.e2e("peak_rss_mb", peakRssMb, "MB", 1)
    Files.write(Paths.get(opts("out")), report.json.getBytes("UTF-8"))
    spark.stop()
  }

  /** local[cores] with shuffle partitions = cores: per-batch fixed cost
    * tracks the partition count, so it is pinned to the cores used. All
    * scratch space lives under the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", "loopbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Median time of a fixed single-threaded integer loop: the host's
    * speed at a moment, to tell a slow host from a slow program. */
  def hostLoopMs: Double = Stats.median(Seq.fill(5) {
    val t0 = System.nanoTime()
    var x = 1L
    var k = 0
    while (k < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
    if (x == 42) println(x)
    (System.nanoTime() - t0) / 1e6
  })

  def loadAverage: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (all, steal) CPU ticks of the machine so far, from /proc/stat. */
  def cpuTicks: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .take(8).map(_.toLong)
    (f.sum, f(7))
  }

  /** VmHWM: the process's peak resident set. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def jvmLayer(report: Report, ctx: Ctx): Unit = if (ctx.trace.on) {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    report.layer("jvm.gc_s", gcMs / 1000.0, "s")
    report.layer("jvm.jit_s",
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0, "s")
    report.layer("jvm.janino_compiles",
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "count")
  }
}

package perfbench

import org.apache.spark.sql.SparkSession

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one workload run hands back to [[Main]]. `workS` and `workCpuS`
  * are the wall time of the timed region and the CPU time this JVM used in
  * it; `layers` is empty unless the run is traced; `detail` holds derived
  * numbers for humans. */
final case class Outcome(workS: Double, workCpuS: Double, attempted: Int,
    failures: Seq[String], layers: Seq[Metric], detail: Seq[(String, Double)])

/** Everything a workload needs from the run: the query tables in
  * `dataDir`, the recorded expected outputs in `expectedDir` (appended to
  * instead of checked against when `record` is set) and a scratch
  * `workDir`. `setup` accumulates untimed set-up seconds (input generation,
  * warm-up). */
final class Ctx(val spark: SparkSession, val seed: Long,
    val tracer: Tracer, val dataDir: String,
    val expectedDir: java.nio.file.Path,
    val record: Boolean, val workDir: java.nio.file.Path) {
  val threads: Int = spark.sparkContext.defaultParallelism
  private var setupNs = 0L
  def setupS: Double = setupNs / 1e9

  /** A progress line on standard error. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] $msg")

  /** Time `body` as set-up. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      setupNs += System.nanoTime() - t0
      log(f"set-up step ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
  }

  /** Drop cached plans and every persisted RDD (localCheckpoint residue),
    * blocking, so the next timed step starts from empty storage. */
  def clearStorage(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Stats {
  /** Median of a non-empty sample (the mean of the middle two when even). */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Host and JVM facts stamped into every run. */
object Env {
  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def stealJiffies: (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpu = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      (if (cpu.length > 7) cpu(7) else 0L, cpu.sum)
    } finally src.close()
  } catch { case _: Exception => (-1L, -1L) }

  def cpuMhz: Double = procLines("/proc/cpuinfo").filter(_.startsWith("cpu MHz"))
    .map(_.split(":")(1).trim.toDouble) match {
    case Seq() => -1.0
    case mhz => mhz.sum / mhz.size
  }

  /** CPU time this JVM has used, all threads, in ns. */
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Milliseconds a fixed single-threaded integer loop takes, the second of
    * two tries: a reading of host speed, to tell a slower host from a slower
    * program. */
  def calibrationMs: Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 1L; var i = 0
      while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 0L) System.err.println("calibration loop reached 0")
      (System.nanoTime() - t0) / 1e6
    }
    once(); once()
  }

  /** Seconds this JVM has spent in garbage collection. */
  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** Peak resident set size of this JVM in MB (VmHWM). */
  def peakRssMb: Double = procLines("/proc/self/status").find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  private def procLines(path: String): Seq[String] = try {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().toVector finally src.close()
  } catch { case _: Exception => Seq.empty }
}

/** Wall time and this JVM's CPU time (all threads) since construction. The
  * CPU time tells a host that gave the run less CPU from a program that
  * did more work. */
final class Stopwatch {
  private val wall0 = System.nanoTime()
  private val cpu0 = Env.processCpuNs
  def wallS: Double = (System.nanoTime() - wall0) / 1e9
  def cpuS: Double = (Env.processCpuNs - cpu0) / 1e9
}

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main <workload> <seed> <trace 0|1> <benchDir> <workDir>
  *
  * Prints one line `PERFBENCH_RESULT {...}` with the end-to-end metrics,
  * the per-layer metrics when traced, the output-check outcome and the
  * environment stamp. `perfbench/run.py` turns it into the contract line. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "curation_1k" -> (CurationWorkload.run(_: Ctx)),
    "query_suite" -> (QuerySuiteWorkload.run(_: Ctx)))

  def session(name: String, localDir: String): SparkSession = {
    val threads = Runtime.getRuntime.availableProcessors
    SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", localDir)
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = args match {
    case Array(workload, seed, trace, benchDir, workDir) if Workloads.contains(workload) =>
      run(workload, seed.toLong, trace == "1", benchDir, workDir)
    case _ =>
      System.err.println(
        s"usage: perfbench.Main <${Workloads.keys.toSeq.sorted.mkString("|")}> <seed> <trace 0|1> <benchDir> <workDir>")
      sys.exit(2)
  }

  def run(workload: String, seed: Long, traced: Boolean, benchDir: String, workDir: String): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Env.loadAvg
    val calibStart = Env.calibrationMs
    val stealStart = Env.stealJiffies
    val threads = Runtime.getRuntime.availableProcessors
    // deep enough that a traced job's call site reaches the program frame
    // that submitted it
    if (traced) System.setProperty("spark.callstack.depth", "400")
    val spark = session(workload, s"$workDir/spark-local")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, enabled = traced)
    val bench = java.nio.file.Paths.get(benchDir)
    val ctx = new Ctx(spark, seed, tracer,
      bench.resolve("data/sf0.01").toString,
      bench.resolve("expected"),
      sys.props.get("perfbench.record").contains("true"), java.nio.file.Paths.get(workDir))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val out = try Workloads(workload)(ctx) catch {
      case e: Throwable =>
        e.printStackTrace()
        Outcome(0, 0, 1, Seq(s"run threw: $e"), Nil, Nil)
    }
    val peakRss = Env.peakRssMb
    val loadEnd = Env.loadAvg
    val calibEnd = Env.calibrationMs
    val stealEnd = Env.stealJiffies
    spark.stop()

    val stealFrac =
      if (stealStart._2 < 0 || stealEnd._2 <= stealStart._2) -1.0
      else (stealEnd._1 - stealStart._1).toDouble / (stealEnd._2 - stealStart._2)
    val env = Seq(
      "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
      "steal_frac" -> stealFrac, "cpu_mhz" -> Env.cpuMhz,
      "calibration_ms_start" -> calibStart, "calibration_ms_end" -> calibEnd,
      "nproc" -> threads.toDouble, "local_threads" -> ctx.threads.toDouble,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "peak_rss_mb" -> peakRss, "gc_s" -> Env.gcS)
    val suspect = math.max(loadStart, loadEnd) > threads
    val e2e = Seq(
      Metric("setup_s", sessionS + ctx.setupS, "s"),
      Metric("work_cpu_s", out.workCpuS, "s"))
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "workload" -> Json.str(workload),
      "correct" -> out.failures.isEmpty.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> math.min(out.failures.size, out.attempted).toString,
      "failures" -> out.failures.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.metrics(e2e),
      "layers" -> Json.metrics(out.layers),
      "detail" -> Json.obj((("work_s" -> out.workS) +: out.detail).map { case (k, v) => k -> Json.num(v) }),
      "env" -> Json.obj(env.map { case (k, v) => k -> Json.num(v) } :+
        ("suspect" -> suspect.toString)))))
  }
}

/** Just enough JSON writing for the result line. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}

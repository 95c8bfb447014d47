package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run produced: metrics, operation counts, correctness checks
  * and the environment it ran in. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val env = mutable.LinkedHashMap.empty[String, Any]
  /** Outputs left for the runner's DuckDB oracle check: name → fields. */
  val oracle = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"perfbench: check FAILED: $name $detail")
  }

  def toJson: String = Json.obj(Seq(
    "correct" -> (checks.forall(_._2) && failed == 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> metrics.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      .toMap,
    "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
    "oracle" -> oracle,
    "env" -> env.toMap))
}

/** Everything a workload needs for one run. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val work: String,
    val result: Result) {

  def dir(name: String): String = {
    val d = new File(work, name); d.mkdirs(); d.getPath
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  /** Batch metrics of one measured pass over `items` items:
    * `batch_items_per_s` is items per second of the pass's wall time
    * less the share of it the host stole from the machine's CPUs;
    * `batch_items_per_cpu_s` is items per second of CPU the process
    * used. A loss of parallelism (threads waiting on one another) moves
    * the first and not the second; the uncorrected wall throughput goes
    * to the environment record. */
  def reportBatch(items: Double, w: Window.Measured): Unit = {
    result.metric("batch_items_per_s", items / (w.wallS * (1 - w.stealShare)), "1/s")
    result.metric("batch_items_per_cpu_s", items / w.cpuS, "1/cpu_s")
    result.env("batch_wall_items_per_s") = items / w.wallS
    result.env("batch_wall_s") = w.wallS
    result.env("batch_cpu_s") = w.cpuS
    result.env("batch_host_steal_share") = w.stealShare
    result.env("batch_gc_ms") = w.gcMs
    result.env("batch_jit_ms") = w.jitMs
  }

  /** Seconds `f` took, and its value. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` counting it as one attempted operation; an exception counts
    * as a failed one and yields None. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    result.attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        result.failed += 1
        log(s"operation failed: $what: $e")
        None
    }
  }

  /** setup_s: the median of the workload's repeated set-up rounds, each
    * one input generation plus the engine's first work on it. JVM and
    * session start are not part of it (`session_start_s` in the
    * environment record). */
  def reportSetup(rounds: Seq[Double]): Unit = {
    result.metric("setup_s", Stats.median(rounds), "s")
    result.env("setup_rounds_s") = rounds
  }
}

/** Wall time, process CPU time, host CPU steal, GC and JIT time over
  * one window. */
final class Window {
  private val t0 = System.nanoTime()
  private val cpu0 = Window.processCpuS()
  private val host0 = Window.hostCpu()
  private val gc0 = Trace.gcMs()
  private val jit0 = Window.jitMs()

  def close(): Window.Measured = {
    val (steal1, total1) = Window.hostCpu()
    val dTotal = total1 - host0._2
    Window.Measured((System.nanoTime() - t0) / 1e9, Window.processCpuS() - cpu0,
      if (dTotal > 0) (steal1 - host0._1).toDouble / dTotal else 0.0,
      Trace.gcMs() - gc0, Window.jitMs() - jit0)
  }
}

object Window {
  /** `stealShare`: the share of the machine's CPU time the host
    * hypervisor took during the window (0 where unknown). */
  final case class Measured(wallS: Double, cpuS: Double, stealShare: Double, gcMs: Long,
      jitMs: Long)

  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Seconds of CPU the whole process (every JVM thread) has used. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal, total) clock ticks of all CPUs from the `cpu` line of
    * /proc/stat; (0, 0) where it cannot be read. */
  def hostCpu(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val ticks = line.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (ticks.length >= 8) ticks(7) else 0L, ticks.sum)
    } catch { case _: Exception => (0L, 0L) }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (type 7, as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

object Main {

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload kg|curation " +
      "--seed N --seconds S --trace 0|1 --work DIR --result FILE")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Set("kg", "curation")(workload)) usage(s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val resultFile = opt("result")
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val result = new Result
    val env = result.env
    env("workload") = workload
    env("seed") = seed
    env("seconds") = seconds
    env("session_start_s") = sessionStartS
    env("trace") = traced
    env("nproc") = cpus
    env("master") = spark.sparkContext.master
    env("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    env("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576
    env("spark_version") = spark.version
    env("java_version") = System.getProperty("java.version")
    // The pipeline runs the DSL transcriptions of the mappings; the
    // verbatim reference texts are recorded as present or absent so a
    // text-driven run is never compared with a DSL one.
    env("mapping_source") = "dsl"
    env("verbatim_mapping_texts") =
      if (graft.pipeline.ReferenceTexts.loadMappingTexts().isDefined) "present" else "absent"

    val ctx = new Ctx(spark, seed, seconds, traced, work, result)
    try {
      workload match {
        case "kg" => KgWorkload.run(ctx)
        case "curation" => CurationWorkload.run(ctx)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result.check("workload completed", ok = false, e.toString)
    } finally {
      val w = new java.io.PrintWriter(resultFile, "UTF-8")
      try w.println(result.toJson) finally w.close()
      spark.stop()
    }
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Operations attempted and failed in one run. A failed check or a thrown
  * operation counts as a failure and never as a time; the run goes on.
  * Known defects are checked and reported on every run but kept apart, so
  * a documented engine defect stays visible without failing the workload.
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  val knownDefects = mutable.LinkedHashMap.empty[String, String]
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) fail(name, detail)
  }

  /** Counts the checks of `other` (a warm-up) in this run, not its times. */
  def absorb(other: Outcome): Unit = {
    attempted += other.attempted
    failed += other.failed
    failures ++= other.failures
    knownDefects ++= other.knownDefects
  }

  def knownDefect(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      knownDefects(name) = detail
      System.err.println(s"KNOWN DEFECT $name: $detail")
    }

  private def fail(name: String, detail: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += s"$name: $detail"
    System.err.println(s"CHECK FAILED $name: $detail")
  }

  /** Times `body` as one operation. Returns None (and records no time)
    * when it throws.
    */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      samples.getOrElseUpdate(name, ArrayBuffer.empty) += dt
      System.err.println(f"OP $name $dt%.3f")
      Some(r)
    } catch {
      case t: Throwable =>
        fail(name, s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
        None
    }
  }

}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` method); NaN, printed
    * as -1, when there is no sample.
    */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Host-state probes: on a shared host the effective CPU speed and the
  * cross-thread wakeup latency swing independently of load, so every run
  * records both before and after; they annotate, they never gate.
  */
object EnvProbe {
  /** Wall ms of a fixed 50M-step FNV fold on one thread. */
  def spinMs(): Double = {
    var w = 1469598103934665603L
    var i = 0
    while (i < 50000000) { w = (w ^ i) * 1099511628211L; i += 1 }
    val t0 = System.nanoTime()
    var h = 1469598103934665603L
    i = 0
    while (i < 50000000) { h = (h ^ i) * 1099511628211L; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if ((h ^ w) == 42) print("")
    ms
  }

  /** µs per synchronous cross-thread handoff, averaged over 10k. */
  def handoffUs(): Double = {
    val q = new java.util.concurrent.SynchronousQueue[Integer]()
    val n = 10000
    val c = new Thread(() => { var i = 0; while (i < n) { q.take(); i += 1 } })
    c.setDaemon(true)
    c.start()
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { q.put(i); i += 1 }
    c.join()
    (System.nanoTime() - t0) / 1e3 / n
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** A workload: its set-up builds the inputs from the seed, and one pass is a
  * closed-loop sequence of operations, each issued after the previous one
  * returned.
  */
trait Workload {
  /** Builds the inputs under `dir`. Called several times; the last call's
    * inputs are the ones the passes use.
    */
  def setup(dir: Path): Unit
  def pass(dir: Path, t: Tracer, o: Outcome): Unit
  /** Runs before the timed passes so the JIT and Spark's lazy set-up are
    * warm; its checks count, its times do not.
    */
  def warmup(dir: Path, t: Tracer, o: Outcome): Unit = pass(dir, t, o)
  /** End-to-end metrics besides set-up, pass time and memory:
    * `request_p50_s` (the median of the workload's unit request),
    * `verify_s`, `full_scan_s` and `archive_bytes_per_block`.
    */
  def extraMetrics(o: Outcome): Map[String, Double]
  /** Per-layer metrics from the traced passes and the layer probes. */
  def layerMetrics(t: Tracer, o: Outcome, dir: Path): Map[String, Double]
}

object Main {
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    val env = mutable.LinkedHashMap("env.spin_ms_start" -> EnvProbe.spinMs(),
      "env.handoff_us_start" -> EnvProbe.handoffUs())
    val cores = 4
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runId = f"$workloadName-$seed-${System.currentTimeMillis()}%x"
    val tracer = new Tracer(spark.sparkContext, runId, trace)
    if (trace) {
      spark.sparkContext.addSparkListener(tracer.listener)
      spark.streams.addListener(tracer.streamListener)
    }
    val untraced = new Tracer(spark.sparkContext, runId, enabled = false)

    val w: Workload = workloadName match {
      case "chain-lifecycle" => new Lifecycle(spark, seed, cores)
      case "archive-scan"    => new Scan(spark, seed, cores)
      case other             => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up runs several times in fresh directories; its median is setup_s
    val setups = (1 to SetupReps).map { i =>
      val dir = work.resolve(s"setup$i")
      val t0 = System.nanoTime()
      w.setup(dir)
      (System.nanoTime() - t0) / 1e9
    }

    val o = new Outcome
    val warm = new Outcome
    w.warmup(work.resolve("warmup"), untraced, warm)
    o.absorb(warm)
    Workloads.deleteTree(work.resolve("warmup"))

    // Closed loop: passes back to back until the time is spent. Traced runs
    // alternate untraced and traced passes so the overhead is measured
    // under the same box state.
    val minPasses = if (trace) 2 else 1
    val passTimes = ArrayBuffer.empty[Double]
    val tracedPassTimes = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var k = 0
    while (k < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && k % 2 == 1
      val dir = work.resolve(s"pass$k")
      if (k > 0) Workloads.deleteTree(work.resolve(s"pass${k - 1}"))
      val p0 = System.nanoTime()
      val failedBefore = o.failed
      if (traced) tracer.span("pass")(w.pass(dir, tracer, o))
      else w.pass(dir, untraced, o)
      val dt = (System.nanoTime() - p0) / 1e9
      if (o.failed == failedBefore) (if (traced) tracedPassTimes else passTimes) += dt
      k += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      metrics("setup_s") = Stats.median(setups)
      metrics("pass_s") = Stats.median(passTimes.toSeq)
      metrics ++= w.extraMetrics(o)
      metrics("peak_rss_mb") = EnvProbe.peakRssMb()
    } else {
      metrics ++= w.layerMetrics(tracer, o, work)
      metrics("trace.overhead_s") =
        Stats.median(tracedPassTimes.toSeq) - Stats.median(passTimes.toSeq)
      Files.write(work.resolve("spans.json"), tracer.toJson.getBytes(UTF_8))
    }
    env("env.spin_ms_end") = EnvProbe.spinMs()
    env("env.handoff_us_end") = EnvProbe.handoffUs()
    spark.stop()

    val metricJson = metrics.map { case (k, v) =>
      s""""$k":{"value":${Workloads.num(v)},"unit":"${Workloads.unitOf(k)}"}"""
    }.mkString("{", ",", "}")
    val record =
      s"""{"workload":"$workloadName","seed":$seed,"trace":$trace,"passes":$k,""" +
        s""""measured_s":${Workloads.num(measuredS)},""" +
        env.map { case (k, v) => s""""$k":${Workloads.num(v)}""" }.mkString(",") + "," +
        s""""setup_s":${setups.map(Workloads.num).mkString("[", ",", "]")},""" +
        s""""op_samples_s":${o.samples.map { case (n, xs) => s""""$n":${xs.map(Workloads.num).mkString("[", ",", "]")}""" }.mkString("{", ",", "}")},""" +
        s""""failures":${o.failures.map(Workloads.str).mkString("[", ",", "]")},""" +
        s""""known_defects":${o.knownDefects.map { case (n, d) => s""""$n":${Workloads.str(d)}""" }.mkString("{", ",", "}")},""" +
        s""""metrics":$metricJson}"""
    Files.write(work.resolve("record.json"), (record + "\n").getBytes(UTF_8))
    val correct = o.failed == 0
    println(s"""{"correct":$correct,"attempted":${o.attempted},"failed":${o.failed},"metrics":$metricJson}""")
    System.out.flush()
    sys.exit(0)
  }
}

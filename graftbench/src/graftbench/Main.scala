package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark harness: one workload, one seed, one process.
  *
  * `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> [--trace-out <file>]`
  *
  * Prints two JSON lines: a detail line (the workload's named metrics and
  * input/output hashes), then the result line with `correct`, `attempted`,
  * `failed` and the end-to-end `metrics`. With `--trace 1` the trace is
  * written to `--trace-out` for `layers.py`.
  */
object Main {
  /** Fixed Spark layout: none of it follows the core count. */
  val Partitions = 8

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a.getOrElse("cores", "1").toInt
    val work = new java.io.File(a("work")).getAbsolutePath
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.default.parallelism", Partitions.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[graftbench] session: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    try {
      val run = new Run(spark, a("seed").toLong, a("seconds").toDouble,
        a("trace") == "1", work)
      val w: Workload = a("workload") match {
        case "serve" => new Serve(run)
        case "corpus_dedup" => new CorpusDedup(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.execute(w)
      a.get("trace-out").foreach(run.trace.write)
    } finally spark.stop()
  }
}

/** One workload. `setup` generates every input and builds and pins every
  * index, `setupReps` times, each into its own directory (the first one
  * also pays class loading and code generation; the median hides it);
  * `warmUp` runs each kind of op uncounted, so the window starts warm;
  * `timed` issues ops through [[Run.op]] until the deadline; `finish` runs
  * untimed work after the window. */
abstract class Workload(val run: Run) {
  /** Op kind whose median is `op_p50_ms`. */
  def primary: String
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int
  def warmUp(): Unit
  def setup(dir: String): Unit
  def release(): Unit
  def timed(deadlineMs: Double): Unit
  def finish(): Unit = ()
  /** (throughput_per_s, quality) of the whole run. */
  def headline: (Double, Double)
  /** Named metrics: (name, value, unit). */
  def named: Seq[(String, Double, String)]
  def info: Seq[(String, String)] = Nil
}

final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: String) {
  val trace = new Trace(spark)

  var attempted = 0L
  var failed = 0L
  /** per op kind: (latency ms, traced); a failed op is +Inf */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  var heapAfterSetupMb = 0.0
  private var untracedFromMs = Double.MaxValue
  /** false while warming up: ops run, but are neither counted nor checked */
  private var counting = true

  /** A measured value for the trace; dropped while warming up. */
  def value(name: String, v: Double): Unit = if (counting) trace.value(name, v)

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  def gcMs: Double = { var s = 0L; gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime)); s.toDouble }
  def heapUsedMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def dir(name: String): String = s"$work/$name"

  /** One timed op. `f`'s latency is recorded; `check` runs after the clock
    * stops. An exception or a failed check counts the op as failed, and
    * its latency as +Inf, so failures can only make the figures worse. */
  def op[T](kind: String)(f: => T)(check: T => Boolean): Option[T] = {
    if (!counting) return Some(f)
    if (trace.enabled && trace.nowMs >= untracedFromMs) trace.stop()
    val traced = trace.enabled
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(trace.span(s"op.$kind") {
      val g0 = gcMs
      val v = f
      trace.attr("gc_ms", gcMs - g0)
      v
    }) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = r match {
      case Right(v) => try check(v) catch { case NonFatal(e) => log(s"$kind check threw: $e"); false }
      case Left(e) => log(s"$kind failed: $e"); false
    }
    if (!ok) { failed += 1; log(s"$kind op failed its check") }
    log(f"op $kind%s $ms%.1f ms")
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ((if (ok) ms else Double.PositiveInfinity, traced))
    r.toOption.filter(_ => ok)
  }

  def log(s: String): Unit = System.err.println(s"[graftbench] $s")

  def nowMs: Double = trace.nowMs

  def p50(kind: String): Double = Stats.median(samples.getOrElse(kind, Nil).map(_._1).toSeq)

  /** `units` per second of the median op of `kinds`: a median, not a
    * window total, so a burst of load from outside the process moves it
    * only if it covers half the window. A failed op is +Inf, so failures
    * can only lower it. */
  def medianRate(units: Double, kinds: String*): Double =
    units / (Stats.median(kinds.flatMap(samples.getOrElse(_, Nil)).map(_._1)) / 1000)

  def execute(w: Workload): Unit = {
    if (traced) trace.start()
    for (rep <- 0 until w.setupReps) {
      if (rep > 0) w.release()
      val t0 = System.nanoTime()
      trace.span("op.setup")(w.setup(s"s$rep"))
      setupSeconds += (System.nanoTime() - t0) / 1e9
      log(f"setup $rep: ${setupSeconds.last}%.2f s")
    }
    heapAfterSetupMb = heapUsedMb()
    val w0 = nowMs
    counting = false
    trace.span("op.warmup")(w.warmUp())
    counting = true
    log(f"warm-up: ${(nowMs - w0) / 1000}%.2f s")
    val start = nowMs
    // traced run: the last third of the window runs untraced, for trace_overhead_ms
    if (traced) untracedFromMs = start + seconds * 1000 * 2 / 3
    w.timed(start + seconds * 1000)
    log(f"window: ${(nowMs - start) / 1000}%.2f s, $attempted ops")
    if (!trace.enabled && traced) trace.start()
    value("jvm.heap_used_mb", heapUsedMb())
    w.finish()
    if (traced) {
      Kernels.measure(this)
      val p = samples.getOrElse(w.primary, mutable.ArrayBuffer.empty)
      val on = Stats.median(p.filter(_._2).map(_._1).toSeq)
      val off = Stats.median(p.filterNot(_._2).map(_._1).toSeq)
      value("trace_overhead_ms", if (on.isNaN || off.isNaN) 0.0 else on - off)
    }
    log(f"after window: ${(nowMs - start) / 1000 - seconds}%.2f s")
    print(w)
  }

  private def metric(v: Double, unit: String, extra: String = ""): String =
    s"""{"value":${Json.num(v)},"unit":${Json.str(unit)}$extra}"""

  private def print(w: Workload): Unit = {
    val (throughput, quality) = w.headline
    val tails = samples.map { case (kind, s) =>
      val (pct, v) = Stats.tail(s.map(_._1).toSeq)
      s""""${kind}_tail_ms":${metric(v, "ms", s""","percentile":${Json.num(pct)},"samples":${s.size}""")}"""
    }
    val named = w.named.map { case (n, v, u) => s""""$n":${metric(v, u)}""" }
    val info = w.info.map { case (k, v) => s""""$k":${Json.str(v)}""" }
    println(s"""{"detail":{${(named ++ tails).mkString(",")}},"info":{${info.mkString(",")}}}""")
    val metrics = Seq(
      "setup_s" -> metric(Stats.median(setupSeconds.toSeq), "s"),
      "op_p50_ms" -> metric(p50(w.primary), "ms"),
      "throughput_per_s" -> metric(throughput, "1/s"),
      "quality" -> metric(quality, "ratio"),
      "heap_after_setup_mb" -> metric(heapAfterSetupMb, "MB"))
    val correct = failed == 0 && attempted > 0
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${metrics.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile; +Inf samples (failed ops) sort last. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  /** The highest percentile of {50, 75, 90, 99, 99.9} with at least ten
    * samples beyond it, and its value; (NaN, NaN) below 20 samples. */
  def tail(xs: Seq[Double]): (Double, Double) =
    Seq(99.9, 99.0, 90.0, 75.0, 50.0).find(p => xs.size * (1 - p / 100) >= 10 - 1e-9)
      .map(p => (p, percentile(xs, p))).getOrElse((Double.NaN, Double.NaN))
}

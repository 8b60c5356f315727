package perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** What one run reports: metrics by name with unit, facts printed
  * beside them, and the operation counts behind `failed_frac`.
  */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)
  def fact(name: String, v: Any): Unit = info(name) = v match {
    case s: String => Json.str(s)
    case d: Double => f"$d%.6g"
    case x => x.toString
  }
  /** Record one operation; `ok` false counts it failed. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += what }
  }
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; if (failures.size < 50) failures += what }

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    val in = info.map { case (k, v) => s"${Json.str(k)}:$v" }
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}},"info":{${in.mkString(",")}},"failures":[${failures.map(Json.str).mkString(",")}]}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (value, percentile). Fewer than 11 samples: the maximum (p100).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 11) (s.lastOption.getOrElse(Double.NaN), 100.0)
    else {
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size)
    }
  }

  /** Peak resident set of this JVM, in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val trace: Trace,
                val report: Report, val data: String, val corpus: String,
                val work: String, val seed: Long,
                val seconds: Double, val cores: Int) {
  val rng = new scala.util.Random(seed)
  /** The measured loop's interval (epoch ms) and its round count, for
    * the per-round `spark` layer metrics.
    */
  var loopMs: (Double, Double) = (0.0, 0.0)
  var loopRounds = 0

  private val born = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - born) / 1e3}%7.2f s $msg")

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Report the end-to-end metrics every workload shares: set-up
    * (session plus the median workload set-up), the operation median
    * and the median batch after the first; and the first (cold) batch,
    * a per-layer metric because it is one sample per run.
    * `ops` holds each operation class's latencies (s); the operation
    * median is the geometric mean of the class medians, so no class's
    * share of the mix decides which class the median lands in. The
    * pooled tail and peak RSS are per-layer metrics: a run is too short
    * for ten samples beyond a high percentile, and G1's heap sizing
    * makes peak RSS bimodal from run to run.
    */
  def endToEnd(setup: Seq[Double], ops: Seq[Seq[Double]],
               batches: Seq[Double]): Unit = {
    val r = report
    val meds = ops.filter(_.nonEmpty).map(Stats.median)
    val opP50 = math.exp(meds.map(math.log).sum / meds.size) * 1e3
    val batchP50 = Stats.median(batches.drop(1))
    if (trace.enabled) {
      r.metric("traced.op_p50_ms", opP50, "ms")
      r.metric("traced.batch_p50_s", batchP50, "s")
      val (tv, tp) = Stats.tail(ops.flatten)
      r.metric("op_tail_ms", tv * 1e3, "ms")
      r.fact("op_tail_percentile", tp)
      r.metric("peak_rss_mb", Stats.peakRssMb, "MB")
    } else {
      r.metric("setup_s", Stats.median(setup), "s")
      r.metric("op_p50_ms", opP50, "ms")
      r.metric("batch_p50_s", batchP50, "s")
    }
    r.metric("cold_s", batches.headOption.getOrElse(Double.NaN), "s")
    r.fact("setup_samples", setup.size)
    r.fact("op_samples", ops.map(_.size).mkString("+"))
    r.fact("batch_samples", batches.size)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    // the engine's session config, with its warehouse moved under the
    // run's work dir so that the run writes nothing outside it
    val spark = Sessions.configure(
      SparkSession.builder().appName("perfbench"), cores.toString)
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(a("trace") == "1")
    trace.attach(spark.sparkContext)
    val report = new Report
    report.fact("workload", workload)
    report.fact("seed", a("seed").toLong)
    report.fact("cores", cores)
    report.fact("session_s", sessionS)
    val ctx = new Ctx(spark, trace, report, a("data"), a("corpus"), a("work"),
      a("seed").toLong, a("seconds").toDouble, cores)
    try {
      ctx.log("session ready")
      workload match {
        case "batch_jobs" => BatchJobs.run(ctx, sessionS)
        case "index_estate" => IndexEstate.run(ctx, sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.log("workload done")
      trace.drain(spark.sparkContext)
      if (trace.enabled) {
        Layers.spark(ctx, trace.finished)
        report.fact("self_ms_by_layer", trace.selfByLayer.map { case (k, v) =>
          f"${Json.str(k)}:$v%.1f" }.mkString("{", ",", "}"))
        Files.write(Paths.get(a("work"), "trace.json"),
          trace.toJson.getBytes(StandardCharsets.UTF_8))
      }
    } catch {
      case e: Throwable =>
        report.failed += 1
        report.failures += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      Files.write(Paths.get(a("out")), report.toJson.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }
}

package e2ebench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one workload run reports: operation counts, wrong answers, the
  * end-to-end metrics (untraced run) or the per-layer metrics (traced run),
  * and the names the issue-level metrics go by on this workload.
  */
final class Report {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Records one operation; a false `ok` is a wrong answer or an error. */
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) failures += what
    ok
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def name(name: String, value: Double, unit: String): Unit = named(name) = (value, unit)

  def toJson: String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":${failures.size},""" +
      s""""failures":${failures.take(20).map(Json.str).mkString("[", ",", "]")},""" +
      s""""metrics":${obj(metrics)},"named":${obj(named)}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Runs one workload in this JVM and writes its report as JSON.
  *
  * Usage: e2ebench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <reportFile>
  *
  * `e2ebench/run.py` builds the classpath, starts this JVM and turns the
  * report into the benchmark's result line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, reportFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val work = new File(workDir)
    val report = new Report
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.GraftSession.getOrCreate(cores)
    spark.sparkContext.setLogLevel("ERROR")
    // setup_s starts at JVM start: it covers the JVM, the session, input
    // generation, preload and warm-up
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    report.name("setup.session_s", (System.currentTimeMillis() - jvmStart) / 1000.0, "s")
    val trace = if (traced) {
      val t = new Trace(spark)
      t.install()
      Spans.sc = Some(spark.sparkContext)
      Some(t)
    } else None
    val setupDone = () =>
      report.put("setup_s", (System.currentTimeMillis() - jvmStart) / 1000.0, "s")
    try {
      workload match {
        case "hourly_import" => HourlyImport.run(spark, seed, seconds, work, report, trace, setupDone)
        case "dashboard_serve" => DashboardServe.run(spark, seed, seconds, work, report, trace, setupDone)
        case "gate_suite" => GateSuite.run(spark, seed, seconds, work, report, trace, setupDone)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        report.check(ok = false, s"$workload aborted: $e")
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(reportFile), report.toJson)
      if (traced) Spans.write(new File(work, "spans.jsonl"))
      spark.stop()
    }
  }
}

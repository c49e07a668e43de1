package e2ebench

import graft.pipeline.Orchestrator
import graft.serve.HttpServe
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** `hourly_import`: the reference's cron path, hour by hour.
  *
  * Hour files land one per pass in the GH Archive layout, across a month
  * boundary. One hour lands corrupt; the validator must quarantine it, and
  * it is re-delivered intact with the next hour. One pass later an hour that
  * is already imported lands again, unchanged; it must not be imported twice.
  * After every `Orchestrator.runOnce` pass the `events` view is registered
  * again from a fresh read and the answers over HTTP (`record_count`,
  * per-type counts, `/status`) are checked against the model.
  *
  * End-to-end metrics: freshness of each hour (from its file landing to its
  * rows being answered correctly over HTTP) as `latency_ms_*`, and imported
  * records per second of `runOnce` wall time as `throughput_per_s`.
  */
object HourlyImport {
  /** Events per hour: a GH Archive hour of early 2015, the generated dates,
    * holds about 25,000 events. At this size parse and merge are a large
    * share of a pass, not only its fixed per-pass cost.
    */
  val perHour = 25000
  /** The warm-up hour only loads and compiles the code paths. */
  val warmPerHour = 5000
  /** First hour: the month boundary falls after the second hour. */
  val firstHour: Long = GhEvents.epoch("2015-01-31T22:00:00Z")

  /** One sequence of hours, its files, table and checkpoint table. The
    * second hour lands corrupt, in every cycle: where it falls changes how
    * many hours a pass imports, so a seed-dependent position would move the
    * metrics by itself. The first hour lands again two passes later.
    */
  final class Cycle(root: File, seed: Long, val hours: Int, size: Int) {
    val base = new File(root, "gharchive")
    val table = new File(root, "events").getPath
    val meta = new File(root, "meta").getPath
    val corrupt = 1
    val relanded = 0
    val events: IndexedSeq[Vector[Ev]] = (0 until hours).map(h =>
      GhEvents.hour(seed, firstHour + h * 3600L, size, (h + 1).toLong * 1000000L))
    def files(n: Int): Seq[String] =
      (0 until n).map(h => new File(base, GhEvents.hourPath(firstHour + h * 3600L)).getPath)
  }

  /** What a pass measured: summed `runOnce` seconds, the freshness of every
    * imported hour and the server-side time of every HTTP check (ms).
    */
  final case class Passed(importS: Double, freshnessMs: Seq[Double], serverMs: Seq[Double])

  def run(spark: SparkSession, seed: Long, seconds: Double, work: File,
      report: Report, trace: Option[Trace], setupDone: () => Unit): Unit = {
    var meta = ""
    val server = new HttpServe(spark, 0,
      statusMeta = Some(() => Orchestrator.loadMeta(spark, meta)))
    server.start()
    try {
      // warm-up: one hour of a cycle with its own inputs and tables
      val warm = new Cycle(new File(work, "warmup"), seed + 7919, 1, warmPerHour)
      meta = warm.meta
      pass(spark, warm, 1, server.boundPort, new Report)
      // the run length sets the number of hours: one per six seconds, at least four
      val cycle = new Cycle(new File(work, "timed"), seed,
        math.max(4, (seconds / 6).round.toInt), perHour)
      meta = cycle.meta
      setupDone()
      trace.foreach(_.reset())
      val t0 = System.nanoTime()
      val p = pass(spark, cycle, cycle.hours, server.boundPort, report)
      val windowS = (System.nanoTime() - t0) / 1e9
      val records = cycle.events.map(_.size).sum
      report.put("latency_ms_p50", Stats.median(p.freshnessMs), "ms")
      report.put("latency_ms_p90", Stats.pct(p.freshnessMs, 0.9), "ms")
      report.put("throughput_per_s", records / p.importS, "1/s")
      report.name("import.records_per_s", records / p.importS, "rec/s")
      report.name("import.freshness_s_p50", Stats.median(p.freshnessMs) / 1000, "s")
      trace.foreach(t => Layers.importLayers(spark, t, cycle, p, windowS, report))
    } finally server.stop()
  }

  /** Lands and imports the first `n` hours of `c`, one `runOnce` per hour,
    * and checks the HTTP answers after each.
    */
  private def pass(spark: SparkSession, c: Cycle, n: Int, port: Int, report: Report): Passed = {
    val model = new Model
    val landed = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
    val freshness, served = ArrayBuffer.empty[Double]
    var imported = Set.empty[Int]
    var importNs = 0L
    for (h <- 0 until n) {
      val hourStart = firstHour + h * 3600L
      GhEvents.writeHour(c.base, hourStart, c.events(h),
        corruptLines = if (h == c.corrupt) 3 else 0)
      landed(h) = System.nanoTime()
      if (h == c.corrupt + 1) {
        // the quarantined hour is delivered again, intact
        GhEvents.writeHour(c.base, firstHour + c.corrupt * 3600L, c.events(c.corrupt))
        landed(c.corrupt) = System.nanoTime()
      }
      if (h == c.corrupt + 2) {
        // an imported hour lands again, unchanged: nothing may change
        GhEvents.writeHour(c.base, firstHour + c.relanded * 3600L, c.events(c.relanded))
      }
      val t0 = System.nanoTime()
      Spans("pipeline.runOnce") {
        Orchestrator.runOnce(spark, c.base.getPath, c.table, c.meta,
          GhEvents.hourArg(firstHour), GhEvents.hourArg(hourStart + 3600))
      }
      importNs += System.nanoTime() - t0
      // a fresh read: a view over the previous file listing fails reads
      spark.read.parquet(c.table).createOrReplaceTempView("events")
      val nowImported = (0 to h).filterNot(x => x == c.corrupt && h == c.corrupt).toSet
      (nowImported -- imported).foreach(x => model.add(c.events(x)))
      val fine = Spans("serve.check") {
        val quarantined = if (h == c.corrupt) 1 else 0
        val status = Request("status", "GET", "/status", "", (r, _) => r.code == 200 && {
          val j = r.json
          j.get("total").asLong == h + 1 && j.get("imported").asLong == nowImported.size &&
            j.get("importFail").asLong == quarantined && j.get("missing").asLong == 0
        })
        Seq(Checks.recordCount, Checks.typeCounts, status).map { q =>
          val (ok, resp) = Checks.run(port, q, model, report)
          resp.flatMap(_.serverMs).foreach(served += _)
          ok
        }.forall(identity)
      }
      val done = System.nanoTime()
      if (fine) (nowImported -- imported).foreach(x => freshness += (done - landed(x)) / 1e6)
      imported = nowImported
    }
    Passed(importNs / 1e9, freshness.toSeq, served.toSeq)
  }
}

package e2ebench

import graft.pipeline.Orchestrator
import graft.serve.HttpServe
import java.io.File
import java.util.concurrent.{Executors, Future, TimeUnit}
import org.apache.spark.sql.SparkSession

/** `dashboard_serve`: read-only HTTP serving over a preloaded table.
  *
  * The table is preloaded at setup through the same generator and
  * `Orchestrator.runOnce`, so the merge does no work while requests are
  * timed. An open loop sends seeded arrivals at one fixed rate, below the
  * rate the server's single dispatcher thread saturates at, from at most
  * `nproc` client threads. Every answer is checked against the model.
  *
  * End-to-end metrics: request latency timed from when the request was due
  * (`latency_ms_*`), and requests completed per second of server busy time
  * (`throughput_per_s`).
  */
object DashboardServe {
  val hours = 6
  val perHour = 2500
  val firstHour: Long = GhEvents.epoch("2015-01-31T21:00:00Z")
  /** Arrivals per second of the open loop, below the ~3.3/s the single
    * dispatcher thread sustains on this request mix (4 cores).
    */
  val rate = 2.5

  final case class Done(kind: String, dueNs: Long, sentNs: Long, endNs: Long,
      serverMs: Option[Double], ok: Boolean)

  def run(spark: SparkSession, seed: Long, seconds: Double, work: File,
      report: Report, trace: Option[Trace], setupDone: () => Unit): Unit = {
    val model = new Model
    val base = new File(work, "gharchive")
    val table = new File(work, "events").getPath
    val meta = new File(work, "meta").getPath
    (0 until hours).foreach { h =>
      val start = firstHour + h * 3600L
      val evs = GhEvents.hour(seed, start, perHour, (h + 1).toLong * 1000000L)
      GhEvents.writeHour(base, start, evs)
      model.add(evs)
    }
    Orchestrator.runOnce(spark, base.getPath, table, meta,
      GhEvents.hourArg(firstHour), GhEvents.hourArg(firstHour + hours * 3600L))
    spark.read.parquet(table).createOrReplaceTempView("events")
    val server = new HttpServe(spark, 0, statusMeta = Some(() => Orchestrator.loadMeta(spark, meta)))
    server.start()
    val port = server.boundPort
    val rnd = new scala.util.Random(seed)
    val kinds = Seq[(Int, () => Request)](
      15 -> (() => Checks.recordCount),
      10 -> (() => Checks.mostUsedLabel(10)),
      10 -> (() => Checks.repoActivity(10)),
      5 -> (() => Checks.dbSchema),
      10 -> (() => Checks.finalCount),
      15 -> (() => Checks.typeCounts),
      10 -> (() => Checks.limitBy(30)),
      15 -> (() => {
        val from = firstHour + rnd.nextInt(hours - 1) * 3600L
        Checks.createdRange(from, from + (1 + rnd.nextInt(2)) * 3600L)
      }),
      10 -> (() => Checks.repoLookup(1 + rnd.nextInt(120))))
    def draw(): Request = {
      var x = rnd.nextInt(kinds.map(_._1).sum)
      kinds.find { case (w, _) => x -= w; x < 0 }.get._2()
    }
    val clients = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try {
      // warm-up: every request kind, sequentially
      (1 to 3).foreach(_ => kinds.foreach { case (_, q) => Checks.run(port, q(), model, new Report) })
      setupDone()
      trace.foreach(_.reset())
      val n = math.max(100, (rate * seconds).toInt)
      val plan = {
        var at = 0.0
        Vector.fill(n) { at += (0.5 + rnd.nextDouble()) / rate; (at, draw()) }
      }
      val t0 = System.nanoTime()
      val futures: Seq[Future[Done]] = plan.map { case (atS, q) =>
        val due = t0 + (atS * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        val sent = System.nanoTime()
        clients.submit(new java.util.concurrent.Callable[Done] {
          def call(): Done = {
            val (ok, resp) = Spans(s"serve.request:${q.kind}")(Checks.run(port, q, model, report))
            Done(q.kind, due, sent, System.nanoTime(), resp.flatMap(_.serverMs), ok)
          }
        })
      }
      val done = futures.map(_.get(120, TimeUnit.SECONDS))
      val wallS = (done.map(_.endNs).max - t0) / 1e9
      val lat = done.map(d => (d.endNs - d.dueNs) / 1e6)
      val busyMs = done.map(d => d.serverMs.getOrElse((d.endNs - d.sentNs) / 1e6)).sum
      report.put("latency_ms_p50", Stats.median(lat), "ms")
      report.put("latency_ms_p90", Stats.pct(lat, 0.9), "ms")
      report.put("throughput_per_s", done.size / (busyMs / 1000), "1/s")
      report.name("serve.latency_ms_p50", Stats.median(lat), "ms")
      report.name("serve.latency_ms_p90", Stats.pct(lat, 0.9), "ms")
      report.name("serve.requests", done.size.toDouble, "count")
      trace.foreach { t =>
        Layers.common(spark, t, wallS, report)
        val withServer = done.filter(_.serverMs.isDefined)
        Layers.serve(t, withServer.map(_.serverMs.get), report)
        report.put("exec.files_read_per_query", t.filesRead / withServer.size, "count")
        report.put("serve.queue_ms",
          Stats.median(withServer.map(d => (d.endNs - d.sentNs) / 1e6 - d.serverMs.get)), "ms")
        report.put("serve.generator_lateness_ms", Stats.pct(done.map(d => (d.sentNs - d.dueNs) / 1e6), 0.9), "ms")
        Layers.chsql(spark, plan.map(_._2).filter(_.method == "POST").map(_.body).distinct, report)
      }
    } finally {
      clients.shutdownNow()
      server.stop()
    }
  }
}

package e2ebench

import graft.ingest.{EventsWriter, FilePipeline, GhEventParser}
import graft.pipeline.Orchestrator
import java.io.File
import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, computed from the [[Trace]] listeners
  * and the benchmark's own spans. Every traced run reports the shared
  * `exec.*`, `catalyst.*`, `outside_jobs.*` and `trace.*` figures over its timed
  * window; each workload adds the layers it exercises.
  */
object Layers {
  def common(spark: SparkSession, t: Trace, wallS: Double, report: Report): Unit = {
    t.drain()
    val w = t.allWork
    val cores = spark.sparkContext.defaultParallelism
    report.put("catalyst.plan_ms", t.planMs, "ms")
    report.put("exec.ms", w.jobMs, "ms")
    report.put("exec.jobs", w.jobs.toDouble, "count")
    report.put("exec.stages", w.stages.toDouble, "count")
    report.put("exec.tasks", w.tasks.toDouble, "count")
    report.put("exec.task_s", w.taskMs / 1000, "s")
    report.put("exec.gc_s", w.gcMs / 1000, "s")
    report.put("exec.core_util", w.taskMs / (wallS * 1000 * cores), "ratio")
    report.put("exec.shuffle_bytes", (w.shuffleRead + w.shuffleWrite).toDouble, "bytes")
    report.put("exec.scan_bytes", w.bytesRead.toDouble, "bytes")
    report.put("exec.files_read", t.filesRead, "count")
    report.put("outside_jobs.ms", wallS * 1000 - w.jobMs, "ms")
    report.put("trace.overhead_ms", t.overheadMs, "ms")
  }

  /** The serve layer: the Spark jobs `HttpServe` ran for the requests that
    * report a server-side time (`time_ms`, listed in `serverMs`), and the
    * share of that time spent outside those jobs (CH-SQL front end,
    * planning, row serialization).
    */
  def serve(t: Trace, serverMs: Seq[Double], report: Report): Unit = {
    val s = t.layer("serve")
    val queries = serverMs.size.toDouble
    report.put("exec.jobs_per_query", s.jobs / queries, "count")
    report.put("exec.bytes_scanned_per_query", s.bytesRead / queries, "bytes")
    report.put("serve.exec_ms", s.jobMs, "ms")
    report.put("serve.server_ms", Stats.median(serverMs), "ms")
    report.put("serve.outside_jobs_share", 1 - s.jobMs / serverMs.sum, "ratio")
  }

  /** The CH-SQL front end alone, rewrite plus analysis without execution:
    * the median over `statements`, each analysed three times.
    */
  def chsql(spark: SparkSession, statements: Seq[String], report: Report): Unit = {
    val ms = for (sql <- statements; _ <- 1 to 3)
      yield timedMs(graft.functions.ChCompat.sql(spark, sql))
    report.put("functions.chsql.ms", Stats.median(ms), "ms")
  }

  /** `hourly_import`: parse, merge, compaction and pipeline overhead of the
    * timed cycle, whose `runOnce` calls took `p.importS` of the `windowS`
    * the cycle took with its HTTP checks, and the serve layer of those
    * checks. Validation and reconciliation run lazily inside `runOnce`, so
    * they are timed as standalone calls of their public entry points on the
    * cycle's final inputs, as is the CH-SQL front end on the statements
    * the dashboard sends.
    */
  def importLayers(spark: SparkSession, t: Trace, c: HourlyImport.Cycle, p: HourlyImport.Passed,
      windowS: Double, report: Report): Unit = {
    val importS = p.importS
    common(spark, t, windowS, report)
    serve(t, p.serverMs, report)
    val parse = t.layer("ingest.parse")
    val merge = t.layer("ingest.merge")
    val compact = t.layer("ingest.compact")
    report.put("ingest.parse.s", parse.jobMs / 1000, "s")
    report.put("ingest.merge.s", merge.jobMs / 1000, "s")
    report.put("ingest.merge.jobs", merge.jobs.toDouble, "count")
    report.put("ingest.merge.bytes_read", merge.bytesRead.toDouble, "bytes")
    report.put("ingest.merge.bytes_written", merge.bytesWritten.toDouble, "bytes")
    report.put("ingest.merge.shuffle_bytes", (merge.shuffleRead + merge.shuffleWrite).toDouble, "bytes")
    report.put("ingest.compact.s", compact.jobMs / 1000, "s")
    val pipelineS = importS - (parse.jobMs + merge.jobMs + compact.jobMs) / 1000
    report.put("pipeline.s", pipelineS, "s")
    report.put("pipeline.share", pipelineS / importS, "ratio")
    report.put("ingest.parse.share", parse.jobMs / 1000 / importS, "ratio")
    report.put("ingest.merge.share", (merge.jobMs + compact.jobMs) / 1000 / importS, "ratio")
    report.put("pipeline.jobs_per_hour", t.span("pipeline.runOnce").jobs.toDouble / c.hours, "count")
    report.put("pipeline.meta_save.s", t.layer("pipeline.meta_save").jobMs / 1000, "s")
    val mergeWritten = merge.bytesWritten.toDouble
    // standalone calls after the listener figures above are taken
    val files = c.files(c.hours)
    val rowsOut = GhEventParser.ingest(spark, files).count()
    val stored = spark.read.parquet(c.table).count()
    // parquet bytes of the cycle's rows written once, in the table's layout
    val once = new File(c.table + "_once").getPath
    EventsWriter.write(GhEventParser.ingest(spark, files), once)
    report.put("ingest.parse.rows_out", rowsOut.toDouble, "count")
    report.put("ingest.merge.rows_deduped", (rowsOut - stored).toDouble, "count")
    report.put("ingest.merge.write_amplification", mergeWritten / parquetBytes(new File(once)), "ratio")
    report.put("pipeline.validate.s", timedMs(FilePipeline.validate(spark, files).collect()) / 1000, "s")
    val metaDf = Orchestrator.loadMeta(spark, c.meta)
    report.put("pipeline.reconcile.s",
      timedMs(FilePipeline.reconcile(metaDf, spark.read.parquet(c.table)).count()) / 1000, "s")
    chsql(spark, Checks.statements(firstHour = HourlyImport.firstHour, hours = c.hours), report)
  }

  def timedMs(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  def parquetBytes(dir: File): Long =
    Option(dir.listFiles).getOrElse(Array.empty[File]).map { f =>
      if (f.isDirectory) parquetBytes(f)
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    }.sum
}

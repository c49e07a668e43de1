package graft.pipeline

import graft.SparkTestBase
import graft.ingest.FilePipeline
import graft.ingest.FilePipeline.Status
import java.io.{File, FileOutputStream}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.GZIPOutputStream
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** End-to-end pipeline pass over a local GH Archive directory tree
  * (SURVEY A30): discovery, exist-check, validation, import,
  * reconciliation — all against a parquet checkpoint table.
  */
class OrchestratorSpec extends SparkTestBase {

  private def write(base: File, rel: String, lines: Seq[String]): Unit = {
    val f = new File(base, rel)
    f.getParentFile.mkdirs()
    val out = new GZIPOutputStream(new FileOutputStream(f))
    out.write(lines.mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  // distinct actor per event: WatchEvents by the same actor/repo in the
  // same month share the full ReplacingMergeTree ORDER BY key and
  // legitimately collapse to one row (SURVEY §1.4) — which would then
  // trip the reconciler for the hour whose rows were absorbed.
  private def evt(id: String, hour: Int): String = evtAt(id, f"2015-01-01T$hour%02d")

  /** `hourStart` is `yyyy-MM-ddTHH`. */
  private def evtAt(id: String, hourStart: String): String =
    s"""{"id":"$id","type":"WatchEvent","actor":{"id":$id,"login":"a$id"},"repo":{"id":2,"name":"r"},"created_at":"$hourStart:00:00Z","payload":{"action":"started"}}"""

  /** A fresh archive directory, events table and checkpoint table, and
    * one `runOnce` pass over `[start, end)` that returns path → status.
    */
  private final class Run(start: String, end: String) {
    val dir = java.nio.file.Files.createTempDirectory("orch").toFile
    val base = new File(dir, "archive"); base.mkdirs()
    val table = new File(dir, "events").getAbsolutePath
    val metaPath = new File(dir, "meta").getAbsolutePath
    def pass(): Map[String, Int] =
      Orchestrator.runOnce(spark, base.getAbsolutePath, table, metaPath, start, end)
        .collect().map(r => r.getAs[String]("path") -> r.getAs[Int]("status")).toMap
    def rows: Long = spark.read.parquet(table).count()
    def status: FilePipeline.StatusDoc =
      FilePipeline.statusDocument(Orchestrator.loadMeta(spark, metaPath), "t")
  }

  test("runOnce: discovers, validates, imports present hours; absent stay NeedDownload") {
    val dir = java.nio.file.Files.createTempDirectory("orch").toFile
    val base = new File(dir, "archive"); base.mkdirs()
    // hours 0 and 1 present on disk, hour 2 missing
    write(base, "2015/01/01/2015-01-01-0.json.gz", Seq(evt("1", 0), evt("2", 0)))
    write(base, "2015/01/01/2015-01-01-1.json.gz", Seq(evt("3", 1)))
    val table = new File(dir, "events").getAbsolutePath
    val metaPath = new File(dir, "meta").getAbsolutePath

    val meta = Orchestrator.runOnce(spark, base.getAbsolutePath, table, metaPath,
      "2015-01-01 00:00:00", "2015-01-01 03:00:00")
    val st = meta.collect().map(r =>
      r.getAs[String]("path") -> r.getAs[Int]("status")).toMap
    assert(st("2015/01/01/2015-01-01-0.json.gz") === Status.Imported)
    assert(st("2015/01/01/2015-01-01-1.json.gz") === Status.Imported)
    assert(st("2015/01/01/2015-01-01-2.json.gz") === Status.NeedDownload)
    assert(spark.read.parquet(table).count() === 3)

    // idempotence: a second pass changes nothing
    val meta2 = Orchestrator.runOnce(spark, base.getAbsolutePath, table, metaPath,
      "2015-01-01 00:00:00", "2015-01-01 03:00:00")
    assert(meta2.collect().map(r =>
      r.getAs[String]("path") -> r.getAs[Int]("status")).toMap === st)
    assert(spark.read.parquet(table).count() === 3)

    // non-reentrant guard (A30): a held lock skips the run; a released
    // (or stale) lock lets it proceed
    val lock = new File(metaPath + ".lock")
    assert(lock.createNewFile())
    assert(Orchestrator.runGuarded(spark, base.getAbsolutePath, table, metaPath,
      "2015-01-01 00:00:00", "2015-01-01 03:00:00").isEmpty)
    assert(lock.exists, "a skipped run must not release someone else's lock")
    assert(lock.setLastModified(System.currentTimeMillis() - 10_000))
    assert(Orchestrator.runGuarded(spark, base.getAbsolutePath, table, metaPath,
      "2015-01-01 00:00:00", "2015-01-01 03:00:00",
      staleLockMs = 1000L).isDefined) // stale → reclaimed and run
    assert(!lock.exists, "a completed run releases the lock")
  }

  test("runOnce: a corrupt hour stays Downloaded until re-delivered intact; " +
      "an imported hour landing again changes nothing") {
    val h0 = "2015/01/01/2015-01-01-0.json.gz"
    val h1 = "2015/01/01/2015-01-01-1.json.gz"
    val run = new Run("2015-01-01 00:00:00", "2015-01-01 02:00:00")
    write(run.base, h0, Seq(evt("1", 0), evt("2", 0)))
    write(run.base, h1, Seq(evt("3", 1), """{"id":"4","type":"Wat"""))

    // the validator quarantines the corrupt hour: not imported, and
    // /status counts it as an import failure
    val first = run.pass()
    assert(first === Map(h0 -> Status.Imported, h1 -> Status.Downloaded))
    assert(run.rows === 2)
    val doc = run.status
    assert((doc.total, doc.imported, doc.importFail, doc.missing) === ((2L, 1L, 1L, 0L)))

    // re-delivered intact: imported with its own rows
    write(run.base, h1, Seq(evt("3", 1), evt("4", 1)))
    assert(run.pass() === Map(h0 -> Status.Imported, h1 -> Status.Imported))
    assert(run.rows === 4)
    assert(run.status.importFail === 0)

    // an Imported hour lands again, unchanged: no status or count moves
    write(run.base, h0, Seq(evt("1", 0), evt("2", 0)))
    assert(run.pass() === Map(h0 -> Status.Imported, h1 -> Status.Imported))
    assert(run.rows === 4)
  }

  test("runOnce: a deleted month partition resets its hours to Verified; " +
      "the next pass re-imports them") {
    val jan = "2015/01/31/2015-01-31-23.json.gz"
    val feb = "2015/02/01/2015-02-01-0.json.gz"
    val run = new Run("2015-01-31 23:00:00", "2015-02-01 01:00:00")
    write(run.base, jan, Seq(evtAt("1", "2015-01-31T23")))
    write(run.base, feb, Seq(evtAt("2", "2015-02-01T00"), evtAt("3", "2015-02-01T00")))
    assert(run.pass() === Map(jan -> Status.Imported, feb -> Status.Imported))
    assert(run.rows === 3)

    org.apache.commons.io.FileUtils.deleteDirectory(new File(run.table, "month_key=201502"))
    assert(run.pass() === Map(jan -> Status.Imported, feb -> Status.Verified))
    assert(run.rows === 1)
    assert(run.pass() === Map(jan -> Status.Imported, feb -> Status.Imported))
    assert(run.rows === 3)
  }

  test("runOnce: a corrupt Downloaded, a valid Downloaded and a Verified hour land " +
      "together: one read of each, and only the last two import") {
    val h0 = "2015/01/01/2015-01-01-0.json.gz"
    val h1 = "2015/01/01/2015-01-01-1.json.gz"
    val h2 = "2015/01/01/2015-01-01-2.json.gz"
    val run = new Run("2015-01-01 00:00:00", "2015-01-01 03:00:00")
    write(run.base, h0, Seq(evt("1", 0), evt("2", 0)))
    assert(run.pass()(h0) === Status.Imported)
    // the month's rows go missing: the reconciler resets h0 to Verified
    org.apache.commons.io.FileUtils.deleteDirectory(new File(run.table, "month_key=201501"))
    assert(run.pass()(h0) === Status.Verified)

    write(run.base, h1, Seq(evt("3", 1), """{"id":"4","type":"Wat"""))
    write(run.base, h2, Seq(evt("5", 2), evt("6", 2)))
    val (st, _, plans) = traced(run.pass())
    assert(st === Map(h0 -> Status.Imported, h1 -> Status.Downloaded, h2 -> Status.Imported))
    assert(plans.count(_.contains("Scan text")) === 1,
      "the pass must read the hour files once:\n" + plans.mkString("\n"))
    assert(spark.read.parquet(run.table).select("id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 5L, 6L))
    val doc = run.status
    assert((doc.total, doc.imported, doc.importFail, doc.missing) === ((3L, 2L, 1L, 0L)))
  }

  test("runOnce: an event stamped in the previous month merges into that month; " +
      "its rows survive") {
    val jan = "2015/01/31/2015-01-31-23.json.gz"
    val feb = "2015/02/01/2015-02-01-0.json.gz"
    val run = new Run("2015-01-31 23:00:00", "2015-02-01 01:00:00")
    write(run.base, jan, Seq(evtAt("1", "2015-01-31T23"), evtAt("2", "2015-01-31T23")))
    assert(run.pass()(jan) === Status.Imported)
    // the file's name says February; its one event says January
    write(run.base, feb, Seq(evtAt("3", "2015-01-31T23").replace(":00:00Z", ":59:59Z")))
    run.pass()
    val byMonth = spark.read.parquet(run.table).select("month_key", "id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(byMonth === Seq((201501, 1L), (201501, 2L), (201501, 3L)))
    assert(!new File(run.table, "month_key=201502").exists)
  }

  test("loadMeta: a saveMeta stopped between its two renames leaves <meta>.old, " +
      "which is read; the next pass imports nothing again") {
    val h0 = "2015/01/01/2015-01-01-0.json.gz"
    val run = new Run("2015-01-01 00:00:00", "2015-01-01 01:00:00")
    write(run.base, h0, Seq(evt("1", 0)))
    assert(run.pass() === Map(h0 -> Status.Imported))
    // the on-disk state between `<meta>` → `<meta>.old` and `<meta>.tmp` → `<meta>`
    assert(new File(run.metaPath).renameTo(new File(run.metaPath + ".old")))
    new File(run.metaPath + ".tmp").mkdirs()
    assert(run.status.imported === 1L)
    val (st, _, plans) = traced(run.pass())
    assert(st === Map(h0 -> Status.Imported))
    assert(!plans.exists(_.contains("Scan text")), "the pass re-read an imported hour")
    assert(run.rows === 1L)
    assert(new File(run.metaPath).exists && !new File(run.metaPath + ".old").exists)
  }

  /** Runs `body` under a job tag; returns its result, the stage names of
    * each Spark job it started and the physical plan of each SQL execution.
    */
  private def traced[T](body: => T): (T, Seq[String], Seq[String]) = {
    val tag = "orchestrator-spec-traced"
    val jobs, plans = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag)))
          jobs.add(e.stageInfos.map(_.name).mkString(";"))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val result = try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
    } finally {
      org.apache.spark.graft.ListenerBridge.flush(sc)
      sc.removeSparkListener(listener)
    }
    (result, jobs.asScala.toSeq, plans.asScala.toSeq)
  }

  test("runOnce: an idle pass validates nothing and runs a bounded number of jobs") {
    val h0 = "2015/01/01/2015-01-01-0.json.gz"
    // hour 1 never lands: the idle pass still exist-checks it
    val run = new Run("2015-01-01 00:00:00", "2015-01-01 02:00:00")
    write(run.base, h0, Seq(evt("1", 0)))
    // GhEventParser.readLines is the only reader of hour files
    def validated(plans: Seq[String]) = plans.exists(_.contains("Scan text"))
    val (_, _, importPlans) = traced(run.pass())
    assert(validated(importPlans), "the probe must see the pass's scan of hour files")

    val metaMtime = new File(run.metaPath).lastModified
    val (st, jobs, plans) = traced(run.pass())
    assert(st === Map(h0 -> Status.Imported,
      "2015/01/01/2015-01-01-1.json.gz" -> Status.NeedDownload))
    assert(!validated(plans), "an idle pass read hour files")
    assert(new File(run.metaPath).lastModified === metaMtime,
      "an idle pass rewrote the checkpoint table")
    // measured 2 jobs: collecting the checkpoint table (1) and collecting
    // the events table's hour keys to reconcile against (1); no status
    // changed, so the checkpoint is not rewritten
    assert(jobs.size <= 2, jobs.mkString("\n"))
  }

  test("runOnce: an importing pass runs a bounded number of jobs") {
    val h0 = "2015/01/01/2015-01-01-0.json.gz"
    val h1 = "2015/01/01/2015-01-01-1.json.gz"
    val run = new Run("2015-01-01 00:00:00", "2015-01-01 02:00:00")
    write(run.base, h0, Seq(evt("1", 0)))
    run.pass()
    write(run.base, h1, Seq(evt("2", 1), evt("3", 1)))
    val (st, jobs, _) = traced(run.pass())
    assert(st === Map(h0 -> Status.Imported, h1 -> Status.Imported))
    // measured 9 jobs: collecting the checkpoint table (1); the hour
    // file's one read, its lines spread over the cores and materialized
    // with the validator's verdict observed (2: the shuffle's map stage,
    // the localCheckpoint); the parse, materialized by the merge's
    // localCheckpoint with its month set observed (1); the merge's range
    // exchange (3: the bound sampling, the map stage, the write);
    // collecting the hour keys to reconcile against (1); the checkpoint
    // write (1). The pass that validated, then parsed the same file
    // again, collected the months and inferred both tables' schemas ran 16.
    assert(jobs.size <= 9, jobs.mkString("\n"))
  }
}

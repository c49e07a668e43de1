package e2ebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Work counted for one layer: Spark jobs, their stages and tasks, and the
  * task-level time and I/O those stages report.
  */
final class Work {
  var jobs, stages, tasks = 0L
  var jobMs, taskMs, gcMs = 0.0
  var bytesRead, bytesWritten, shuffleRead, shuffleWrite = 0L
}

/** The benchmark's tracer: listeners and client-side spans, all recorded
  * from the benchmark's own code and kept in memory until the run ends.
  *
  *  - A SparkListener attributes every job, with its stages, task time,
  *    I/O and shuffle bytes, to a layer by the call site Spark records for
  *    the job's first stage (see [[Trace.layerOf]]), and also to the
  *    benchmark span open when the job started.
  *  - A QueryExecutionListener sums the analysis, optimization and planning
  *    phases of `QueryExecution.tracker` and the files and bytes the scans
  *    read.
  *  - A StreamingQueryListener counts micro-batches and their addBatch,
  *    offset-commit and state-store commit times.
  *
  * The tracer is installed only for `--trace 1`; end-to-end runs carry none
  * of it. `overheadMs` is the time spent inside the callbacks.
  */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val byLayer = mutable.LinkedHashMap.empty[String, Work]
  val bySpan = mutable.LinkedHashMap.empty[String, Work]
  var planMs, filesRead = 0.0
  var batches, addBatchMs, commitMs, stateCommitMs = 0.0
  var overheadNs = 0L
  private val jobStart = mutable.HashMap.empty[Int, (Long, Work, Work)]
  private val stageJob = mutable.HashMap.empty[Int, (Work, Work)]
  private val execLayer = mutable.HashMap.empty[Long, String]

  def overheadMs: Double = overheadNs / 1e6

  /** Runs a callback under the tracer's lock and counts its time. */
  private def timed(body: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    // a job started by an SQL execution takes the execution's layer: AQE and
    // broadcast jobs are submitted from pool threads whose stacks say nothing
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val first = e.stageInfos.sortBy(_.stageId).headOption
    val layer = exec.flatMap(execLayer.get)
      .orElse(first.flatMap(s => Trace.layerOf(s.name, s.details)))
      .getOrElse("bench")
    val l = byLayer.getOrElseUpdate(layer, new Work)
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.property)))
    val s = bySpan.getOrElseUpdate(span.getOrElse("idle"), new Work)
    l.jobs += 1; s.jobs += 1
    jobStart(e.jobId) = (e.time, l, s)
    e.stageIds.foreach(id => stageJob(id) = (l, s))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => timed {
      Trace.layerOf(x.description, x.details)
        .orElse(x.rootExecutionId.flatMap(execLayer.get))
        .foreach(l => execLayer(x.executionId) = l)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobStart.remove(e.jobId).foreach { case (t0, l, s) =>
      l.jobMs += e.time - t0; s.jobMs += e.time - t0
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    stageJob.remove(info.stageId).foreach { case (l, s) =>
      Seq(l, s).foreach { w =>
        w.stages += 1
        w.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          w.taskMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.bytesRead += m.inputMetrics.bytesRead
          w.bytesWritten += m.outputMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed {
      planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics
        case s: BatchScanExec => s.metrics
      }.foreach { m =>
        m.get("numFiles").foreach(v => filesRead += v.value)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      batches += 1
      addBatchMs += d("addBatch")
      commitMs += d("commitOffsets") + d("walCommit")
      stateCommitMs += p.stateOperators.map(_.commitTimeMs.toDouble).sum
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  /** Starts the timed window: drops everything recorded so far. */
  def reset(): Unit = {
    drain()
    synchronized {
      byLayer.clear(); bySpan.clear()
      planMs = 0; filesRead = 0
      batches = 0; addBatchMs = 0; commitMs = 0; stateCommitMs = 0
      overheadNs = 0
    }
    Spans.reset()
  }

  /** Waits until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.graft.ListenerBridge.flush(spark.sparkContext)

  def layer(name: String): Work = synchronized(byLayer.getOrElse(name, new Work))

  def span(name: String): Work = synchronized(bySpan.getOrElse(name, new Work))

  /** The sum over every layer. */
  def allWork: Work = synchronized {
    val sum = new Work
    byLayer.values.foreach { w =>
      sum.jobs += w.jobs; sum.stages += w.stages; sum.tasks += w.tasks
      sum.jobMs += w.jobMs; sum.taskMs += w.taskMs; sum.gcMs += w.gcMs
      sum.bytesRead += w.bytesRead; sum.bytesWritten += w.bytesWritten
      sum.shuffleRead += w.shuffleRead; sum.shuffleWrite += w.shuffleWrite
    }
    sum
  }
}

object Trace {
  /** Layer of a job or SQL execution, from the long call site Spark
    * records for it (the stack of the thread that started it); None
    * when the stack holds no frame of the program or the benchmark. The
    * rules go from the most to the least specific frame. The parsed hour
    * batch is materialized by the `localCheckpoint` inside
    * `EventsWriter.merge`, so that work is the parse.
    */
  def layerOf(shortForm: String, stack: String): Option[String] = {
    def has(frame: String) = stack.contains(frame)
    if (has("EventsWriter$.compact")) Some("ingest.compact")
    else if (has("GhEventParser$") ||
      (has("EventsWriter$.merge") && shortForm.startsWith("localCheckpoint"))) Some("ingest.parse")
    else if (has("EventsWriter$")) Some("ingest.merge")
    else if (has("Orchestrator$.saveMeta")) Some("pipeline.meta_save")
    else if (has("Orchestrator$") || has("FilePipeline$")) Some("pipeline")
    else if (has("graft.serve.HttpServe")) Some("serve")
    else if (has("graft.")) Some("queries")
    else if (has("e2ebench.")) Some("bench")
    else None
  }
}

/** Client-side spans around the benchmark's calls into the program: the
  * start and end of every span, kept in memory. The open span's name rides
  * on the calling thread's Spark local properties, so each job start event
  * says which span submitted it.
  */
object Spans {
  val property = "e2ebench.span"
  /** Set only in traced runs; untraced runs record nothing. */
  @volatile var sc: Option[org.apache.spark.SparkContext] = None
  val done = mutable.ArrayBuffer.empty[(String, String, Long, Long)]

  def apply[T](name: String)(body: => T): T = sc match {
    case None => body
    case Some(ctx) =>
      val outer = ctx.getLocalProperty(property)
      ctx.setLocalProperty(property, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done.synchronized(done += ((name, Thread.currentThread.getName, t0, t1)))
        ctx.setLocalProperty(property, outer)
      }
  }

  def reset(): Unit = done.synchronized(done.clear())

  /** The recorded spans as JSON lines: name, thread, start and end (ns). */
  def write(file: java.io.File): Unit = done.synchronized {
    java.nio.file.Files.writeString(file.toPath, done.map { case (n, th, a, b) =>
      s"""{"span":${Json.str(n)},"thread":${Json.str(th)},"start_ns":$a,"end_ns":$b}"""
    }.mkString("", "\n", "\n"))
  }
}

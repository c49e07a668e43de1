package e2ebench

import graft.queries.PipelineQueries
import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `gate_suite`: one timed pass over a fixed list of the repo's oracle gates
  * (`SparkEntry.queries`), on tables generated from the seed in the shape of
  * the repo's test tables. The list covers every gate family: the CH-SQL,
  * Replacing and mutation gates, four streaming gates with state stores,
  * graph projection and iteration, dedup, ANN, tokens and corpus cleaning.
  *
  * Each gate's result is written as parquet, as `Verify` does, and the
  * oracle SQL (`SparkEntry.oracleSql`) is written next to it; `run.py`
  * compares the two in DuckDB after timing. The suite is bound by job count
  * and per-job overhead, and it exercises streaming state, graph iteration and
  * mutations, which the other workloads barely touch.
  */
object GateSuite {
  val gates: Seq[String] = Seq(
    "r01_count", "r06_activity", "r09_dedup_replacing", "r10_month_rollup",
    "r14_ch_sql", "r15_ch_sql_arrayjoin", "r35_ch_final", "r36_ch_limit_by",
    "r47_ch_mutation", "r48_ch_matview", "r52_stream_window", "r53_stream_dedup",
    "r56_stream_enrich", "r63_stream_watermark_dedup", "g01_graph_nodes",
    "g02_graph_edges", "g04_pagerank", "g06_label_prop", "g07_kcore",
    "d02_minhash_lsh", "s01_ann_topk", "t03_token_count", "p01_clean_corpus")

  /** The CH-SQL statements of the r14, r15 and r36 gates, for the traced
    * run's timing of the CH-SQL front end.
    */
  val chsqlStatements: Seq[String] = Seq(
    """SELECT toYYYYMM(ts) AS month_key, countIf(event_type = 'error') AS errors,
      |count(*) AS cnt FROM events GROUP BY toYYYYMM(ts) ORDER BY month_key""".stripMargin,
    """SELECT k, count(*) AS cnt FROM (SELECT JSONExtractInt(j, 'k') AS k
      |FROM (SELECT arrayJoin(JSONExtractArrayRaw(concat('[', props, ']'))) AS j FROM events))
      |GROUP BY k ORDER BY k""".stripMargin,
    """SELECT user_id, event_id, value FROM events
      |ORDER BY value DESC, event_id LIMIT 2 BY user_id""".stripMargin)

  /** Warm-up: one cheap gate each of the batch, CH-SQL and streaming paths. */
  val warmup: Seq[String] = Seq("r01_count", "r14_ch_sql", "r52_stream_window")

  def run(spark: SparkSession, seed: Long, seconds: Double, work: File,
      report: Report, trace: Option[Trace], setupDone: () => Unit): Unit = {
    val data = new File(work, s"gates_s$seed")
    val out = new File(work, "gate_out")
    GateData.write(spark, seed, data)
    val artifacts = PipelineQueries.artifactPaths(data.getPath)
    // as Verify does: no artifact or memo of an earlier dataset survives
    def clearArtifacts(): Unit = {
      artifacts.foreach(p => FileUtils.deleteQuietly(new File(p)))
      PipelineQueries.clearArtifactMemos()
    }
    clearArtifacts()
    try {
      warmup.foreach(g => graft.SparkEntry.queries(g)(spark, data.getPath).collect())
      setupDone()
      trace.foreach(_.reset())
      val ms = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
      val t0 = System.nanoTime()
      gates.foreach { g =>
        val plan0 = trace.map { t => t.drain(); t.planMs }.getOrElse(0.0)
        val a = System.nanoTime()
        val ok = try {
          val df = Spans(s"gate:$g:setup")(graft.SparkEntry.queries(g)(spark, data.getPath))
          val b = System.nanoTime()
          Spans(s"gate:$g:exec")(df.coalesce(1).write.mode("overwrite").parquet(new File(out, g).getPath))
          val c = System.nanoTime()
          val plan = trace.map { t => t.drain(); t.planMs - plan0 }.getOrElse(0.0)
          ms(g) = ((b - a) / 1e6, (c - b) / 1e6, plan)
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[gate_suite] $g failed: $e")
            false
        }
        report.check(ok, s"$g raised an error")
      }
      val totalS = (System.nanoTime() - t0) / 1e9
      val perGate = ms.values.map(v => v._1 + v._2).toSeq
      report.put("latency_ms_p50", Stats.median(perGate), "ms")
      report.put("latency_ms_p90", Stats.pct(perGate, 0.9), "ms")
      report.put("throughput_per_s", gates.size / totalS, "1/s")
      report.name("gates.total_s", totalS, "s")
      writeOracle(data, out)
      trace.foreach { t =>
        gateLayers(spark, t, ms.toMap, totalS, report)
        spark.read.parquet(new File(data, "events.parquet").getPath).createOrReplaceTempView("events")
        Layers.chsql(spark, chsqlStatements, report)
      }
    } finally clearArtifacts()
  }

  /** The oracle SQL of each gate, with the per-dataset artifact paths
    * pointed at this run's dataset, as `Verify` writes them.
    */
  private def writeOracle(data: File, out: File): Unit = {
    val base = java.util.regex.Matcher.quoteReplacement(data.getName)
    val sql = gates.flatMap(g => graft.SparkEntry.oracleSql.get(g).map(g -> _))
      .map { case (g, q) => g -> q.replaceAll("(/tmp/graft_[a-z0-9_]+/)sf0\\.01", "$1" + base) }
    Files.writeString(Paths.get(out.getPath, "oracle_sql.json"),
      sql.map { case (g, q) => s"${Json.str(g)}:${Json.str(q)}" }.mkString("{", ",", "}"))
  }

  private def gateLayers(spark: SparkSession, t: Trace, ms: Map[String, (Double, Double, Double)],
      totalS: Double, report: Report): Unit = {
    Layers.common(spark, t, totalS, report)
    val cores = spark.sparkContext.defaultParallelism
    val rows = gates.filter(ms.contains).map { g =>
      val s = t.span(s"gate:$g:setup")
      val e = t.span(s"gate:$g:exec")
      val (setup, exec, plan) = ms(g)
      val taskMs = s.taskMs + e.taskMs
      g -> Seq(
        "setup_ms" -> setup, "plan_ms" -> plan, "exec_ms" -> exec,
        "jobs" -> (s.jobs + e.jobs).toDouble, "stages" -> (s.stages + e.stages).toDouble,
        "tasks" -> (s.tasks + e.tasks).toDouble, "task_s" -> taskMs / 1000,
        "core_util" -> taskMs / ((setup + exec) * cores),
        "shuffle_bytes" -> (s.shuffleRead + s.shuffleWrite + e.shuffleRead + e.shuffleWrite).toDouble,
        "scan_bytes" -> (s.bytesRead + e.bytesRead).toDouble,
        "gc_s" -> (s.gcMs + e.gcMs) / 1000)
    }
    val units = Map("setup_ms" -> "ms", "plan_ms" -> "ms", "exec_ms" -> "ms", "task_s" -> "s",
      "gc_s" -> "s", "core_util" -> "ratio", "shuffle_bytes" -> "bytes", "scan_bytes" -> "bytes")
      .withDefaultValue("count")
    def sums(prefix: String, of: Seq[(String, Seq[(String, Double)])]): Unit =
      of.flatMap(_._2).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, v) =>
        val value =
          if (k == "core_util") of.flatMap(_._2).collect { case ("task_s", x) => x }.sum * 1000 /
            (of.flatMap(_._2).collect { case ("setup_ms" | "exec_ms", x) => x }.sum * cores)
          else v.map(_._2).sum
        report.put(s"$prefix.$k", value, units(k))
      }
    rows.foreach { case (g, kv) => kv.foreach { case (k, v) => report.put(s"gate.$g.$k", v, units(k)) } }
    rows.groupBy(_._1.take(1)).toSeq.sortBy(_._1).foreach { case (f, of) => sums(s"gate.family_$f", of) }
    sums("gate", rows)
    val setupMs = ms.values.map(_._1).sum
    report.put("gate.setup_share", setupMs / ms.values.map(v => v._1 + v._2).sum, "ratio")
    report.put("streaming.batches", t.batches, "count")
    report.put("streaming.add_batch_ms", t.addBatchMs, "ms")
    report.put("streaming.commit_ms", t.commitMs, "ms")
    report.put("streaming.state_commit_ms", t.stateCommitMs, "ms")
  }
}

/** Seeded tables in the shape of the repo's test tables (`events`,
  * `customer`, `documents`, `embeddings`), at their scale factor 0.01:
  * 10,000 events of 150 users, 1,500 customers, 500 documents and 500
  * embeddings.
  */
object GateData {
  val scale = 0.01
  private val nEvents = (1000000 * scale).round.toInt
  private val nUsers = (15000 * scale).round.toInt
  private val nCustomers = (150000 * scale).round.toInt

  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val words = ("the a data table row column key value join sort merge hash scan " +
    "filter group agg order window batch stream spark query line part customer fast slow " +
    "big small vector").split(' ').toSeq
  private val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  def write(spark: SparkSession, seed: Long, dir: File): Unit = {
    val rnd = new scala.util.Random(seed)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)

    val jan1 = GhEvents.epoch("2024-01-01T00:00:00Z") * 1000000L
    val stamps = Seq.fill(nEvents)(jan1 + (rnd.nextDouble() * 30 * 86400e6).toLong).sorted
    save("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      stamps.zipWithIndex.map { case (us, i) =>
        val ts = new java.sql.Timestamp(us / 1000)
        ts.setNanos((us % 1000000).toInt * 1000)
        // g04_pagerank's graph links each user to `k % 10`, and its oracle
        // expects five iterations to converge. That holds when every user
        // that is also a target (ids 0-9) links to all ten targets, as in
        // the repo's test tables, so one event in every `stride` is one of
        // those hundred (user, target) pairs.
        val stride = nEvents / 100
        val (user, k) =
          if (i % stride == 0) ((i / stride / 10).toLong, rnd.nextInt(10) * 10 + i / stride % 10)
          else (rnd.nextInt(nUsers).toLong, rnd.nextInt(100))
        Row(i.toLong, ts, user, eventTypes(rnd.nextInt(5)),
          math.max(1, math.round(-math.log(1 - rnd.nextDouble()) * 5000)) / 100.0,
          s"""{"k": $k}""")
      })

    save("customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
      (0 until nCustomers).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        math.round(rnd.nextDouble() * 1099999 - 99999) / 100.0, segments(rnd.nextInt(5)))))

    save("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      (0 until 500).map { i =>
        val text = Seq.fill(8 + rnd.nextInt(80))(words(rnd.nextInt(words.size))).mkString(" ")
        Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
      })

    val centroids = Seq.fill(10)(Seq.fill(64)(rnd.nextGaussian()))
    save("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))),
      (0 until 500).map { i =>
        val label = rnd.nextInt(10)
        val v = centroids(label).map(_ + rnd.nextGaussian() * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat), label)
      })
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Oracle-gated Structured Streaming queries — the REAL streaming
  * engine path (`readStream` → stateful transform → `writeStream`),
  * not batch code wearing a streaming name. The reference's streaming
  * face is its continuously-scheduled hourly import loop (reference:
  * app/schedule/update_log.ts, app/schedule/update_gitee.ts); these
  * gates run the Spark-native equivalent over the driver's static
  * events dir with `Trigger.AvailableNow`, which drains the source and
  * terminates — so the result is a pure function of the input and a
  * plain batch SQL oracle can hash-compare it.
  *
  * Determinism notes (what makes these oracle-able):
  *  - AvailableNow processes every available file then stops; no
  *    wall-clock triggers, no partial reads.
  *  - r52 aggregates in complete mode: the final state is independent
  *    of micro-batch boundaries.
  *  - r53's dedup output is one row per key; WHICH arrival wins is
  *    irrelevant because the doubled legs are identical rows.
  *  - sums go through DECIMAL (exact, order-independent), the same
  *    parity rule as every batch gate.
  *
  * Scale notes: the window aggregation state is one row per
  * (day, type) — O(output), not O(input); the memory sink is
  * gate-only plumbing (a deployment writes to a real table, as
  * [[graft.streaming.StreamingRollup]] does with exactly-once
  * generation dirs). r53's dropDuplicates keeps per-key state; at
  * 100 TB that state is bounded by a watermark on the dedup columns
  * ([[graft.streaming.StreamingDedup]] specs the watermarked form) —
  * the gate runs unbounded because the drained source is finite.
  */
object StreamingQueries {

  /** The RAW file schema — what the streaming scan must be told
    * (resolved once per gate; each batch relation costs a footer
    * read). Normalization then happens on the streaming DataFrame
    * itself via the SAME Tables.normalize expressions as the batch
    * path; carrying the batch loader's post-normalization schema into
    * readStream would make the scan reject exactly the layouts
    * (nanos-long ts, NTZ) the normalizer exists to absorb.
    */
  private def rawEventsSchema(s: SparkSession, dir: String) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/events.parquet").schema
  }

  /** Run `body` with a small state-partition count, restoring the
    * session's shuffle partitions after. The shuffle-partition conf at
    * query START is pinned into the checkpoint as the stateful
    * operator's state partition count — a DEPLOYMENT knob (≈ cluster
    * cores at 100 TB), not a semantics knob. The gates pin it low
    * because each state partition costs per-micro-batch store
    * open/commit I/O: on the drained single-file source, 32 partitions
    * spend 3-4× the gate's wall-clock on empty-store bookkeeping
    * (measured on r54: 16-19 s at 32 vs ~5 s at 8, identical rows).
    */
  private def withStatePartitions[T](s: SparkSession, n: Int,
      finalizeBatch: Boolean = true, trackRows: Boolean = false)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevProv = s.conf.getOption(ProviderConf)
    val prevClog = s.conf.getOption(ChangelogConf)
    val prevJoinFmt = s.conf.getOption(JoinStateFormatConf)
    val prevNoData = s.conf.getOption(NoDataConf)
    val prevTrack = s.conf.getOption(TrackRowsConf)
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    // No-data micro-batches exist to let WATERMARK advancement emit or
    // evict without new input (r55's EventTimeTimeout sessions need
    // exactly that). A gate whose output is provably arrival-driven
    // (inner interval join, immediate-emit dedup) opts out: the
    // trailing empty batch re-opens and commits every state partition
    // to produce zero rows — pure per-batch floor (guide §2.4 "remove
    // [work] outright"). Same per-query choice a production drain job
    // makes; eviction-only work is irrelevant on a query that stops.
    s.conf.set(NoDataConf, finalizeBatch.toString)
    // RocksDB row tracking (Spark docs: "performance ... for
    // write-heavy state, disable trackTotalNumberOfRows"): tracking
    // costs one store GET per put/delete to maintain numRowsTotal.
    // Gates whose contract READS those metrics (r62's resumed-store
    // asserts; the state fingerprint spec via
    // `graft.stream.trackRows`) keep it on.
    s.conf.set(TrackRowsConf,
      (trackRows ||
        sys.props.get("graft.stream.trackRows").contains("1")).toString)
    // RocksDB state store: state lives off-heap in a native LSM with
    // changelog/snapshot files under the checkpoint — the store whose
    // capacity is DISK, not executor heap. The default HDFS-backed
    // store keeps every key in a JVM hash map, which is exactly the
    // thing that OOMs first when streaming state grows with the corpus
    // (r53's dedup state is one key per distinct event id). The gates
    // run the same provider a 100-TB deployment would; SCALE.md's
    // streaming-mode rehearsal measured its state growth.
    s.conf.set(ProviderConf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Changelog checkpointing (optimization round 18, guide §1.2 "per-
    // task work"): the default RocksDB commit uploads a FULL snapshot
    // of every store instance per micro-batch — for these drained
    // sources that is (batches × state partitions) snapshot uploads of
    // mostly-unchanged state. With changelog checkpointing the commit
    // writes only the batch's delta; snapshots move to the maintenance
    // thread. Restart legs (r62/r65/r67/r68) replay snapshot+changelog,
    // which is exactly the recovery path a 100-TB deployment runs.
    s.conf.set(ChangelogConf,
      sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_CHANGELOG", "true"))
    // Stream-stream join state format v3 (optimization round 19, guide
    // §1.2 "per-task work"): formats 1/2 keep FOUR store instances per
    // partition (left/right × keyToNumValues/keyWithIndexToValue), so
    // every micro-batch pays 4× the store open/commit/changelog
    // bookkeeping per partition; v3 (Spark 4) folds them into ONE
    // RocksDB store with virtual column families. Join RESULTS are
    // format-invariant (the format is pinned into the checkpoint at
    // first start); only r54 has a stream-stream join today, measured
    // there. RocksDB-only — which is the provider set just above.
    s.conf.set(JoinStateFormatConf,
      sys.env.getOrElse("SPARK_GRAFT_JOIN_STATE_FORMAT", "3"))
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      def restore(k: String, v: Option[String]): Unit = v match {
        case Some(p) => s.conf.set(k, p)
        case None => s.conf.unset(k)
      }
      restore(ProviderConf, prevProv)
      restore(ChangelogConf, prevClog)
      restore(JoinStateFormatConf, prevJoinFmt)
      restore(NoDataConf, prevNoData)
      restore(TrackRowsConf, prevTrack)
    }
  }
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val JoinStateFormatConf =
    "spark.sql.streaming.join.stateFormatVersion"
  private val NoDataConf =
    "spark.sql.streaming.noDataMicroBatches.enabled"
  private val TrackRowsConf =
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"

  /** State-partition count for the streaming gates — a DEPLOYMENT
    * knob (≈ cluster cores / state volume at 100 TB), env-overridable
    * so the same binary benches any setting
    * (`SPARK_GRAFT_STATE_PARTITIONS`). Local default measured in
    * OPTIMIZATION_r18.md: on the drained single-digit-MB sources each
    * partition costs per-micro-batch store open/commit bookkeeping,
    * so fewer is strictly faster locally with identical results (the
    * state-partition count is pinned into the checkpoint at first
    * start and never affects WHAT is computed).
    */
  private[graft] val StateParts: Int =
    sys.env.get("SPARK_GRAFT_STATE_PARTITIONS").map(_.trim.toInt)
      .filter(_ > 0).getOrElse(8)

  /** Per-gate micro-batch progress of the most recent drain: batch
    * input rows and state rows/bytes, read by the r62 and r66–r68
    * gates and by the streaming specs (metrics only; gates still
    * return plain data).
    */
  @volatile private[graft] var progressByGate:
      Map[String, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]] =
    Map.empty
  private def drain(gate: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    progressByGate += gate -> q.recentProgress.toSeq
  }

  /** Scratch dir for streaming sources/checkpoints/sinks, scoped by
    * the Spark application id so two concurrent runs on one box can't
    * cross-contaminate each other's state (the pinned `/tmp/graft_r5x`
    * form collided). Within one session repeated invocations of the
    * same gate reuse — and clear — the same dir, so /tmp doesn't
    * accumulate per call; the whole per-app root is removed by a
    * shutdown hook at JVM exit. NOT used for the s03/s04/d09 persisted
    * index artifacts: those paths are read back by the driver's DuckDB
    * oracle as literal SQL strings and must stay pinned.
    */
  /** Run independent Spark jobs concurrently (guide §2.6 "overlap
    * independent jobs"): the staging writes that force one file per
    * micro-batch are tiny INDEPENDENT jobs — run sequentially each
    * pays full job-submit + commit latency; submitted together they
    * back-fill each other's scheduling gaps. Results return in input
    * order; failures propagate.
    */
  private def inParallel[T](work: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    work.map(w => Future(w())).map(Await.result(_, Duration.Inf))
  }

  /** Exact row count of one staged parquet file from its FOOTER — the
    * count a `spark.read.parquet(f).count()` job computes, without the
    * job: the recovery gates (r65/r67/r68) size their restart legs
    * from the files they just staged, and each per-file count() was a
    * full job-submit + one-task round trip spent reading the same
    * footer metadata (guide §1.2 "don't pay a job for metadata").
    */
  private def stagedRowCount(f: java.io.File): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  private val hookedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def scratchDir(s: SparkSession, gate: String, sfDir: String): java.io.File = {
    val root = new java.io.File(
      s"/tmp/graft_stream_${s.sparkContext.applicationId}")
    if (hookedRoots.add(root.getPath)) {
      // one hook PER ROOT: a JVM that opens a second session (new app
      // id) still cleans both roots at exit
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(root)))
      // reclaim siblings a SIGKILLed run left behind (shutdown hooks
      // never fired there): app-id-scoped names never collide across
      // live runs, so anything untouched for 6h is garbage — without
      // this sweep /tmp accumulates a full per-gate source copy per
      // crashed run, which the old pinned-path scheme overwrote free
      Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft_stream_") &&
          f.getPath != root.getPath &&
          f.lastModified < System.currentTimeMillis - 6L * 3600 * 1000)
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    }
    // refresh the ROOT's mtime on every gate invocation, not just
    // creation: a session older than 6h that is still issuing gates
    // would otherwise look like an orphan to a concurrently started
    // run's sweep, which could delete its live checkpoints mid-query
    root.mkdirs()
    root.setLastModified(System.currentTimeMillis)
    val d = new java.io.File(root,
      s"$gate/${new java.io.File(sfDir).getName}")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d
  }

  private def eventsStream(s: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    // the testdata stores each table as ONE parquet file, which the
    // file stream source rejects (its basePath must be a directory).
    // The single-char glob makes Spark treat the CONTAINING dir as
    // basePath while still matching only the events file.
    graft.Tables.normalize("events",
      s.readStream.schema(schema).parquet(s"$dir/events.parque[t]"))

  /** r52: streaming daily rollup — windowed count + exact sum per
    * (1-day window, event_type), complete-mode memory sink.
    */
  def stream_window(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir, rawEventsSchema(s, dir))
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(12,2)")).as("sv"))
    withStatePartitions(s, StateParts) {
      val q = agg.writeStream.format("memory").queryName("r52_sink")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      drain("r52", q)
    }
    s.table("r52_sink")
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("cnt"), col("sv").cast("double").as("sv"))
      .orderBy("day", "event_type")
  }

  /** r57: the custom TypedImperativeAggregate ([[graft.functions.FreqTopK]])
    * running INSIDE streaming aggregation state — per-day heavy
    * hitters maintained incrementally across micro-batches. This is
    * the capability the batch t09 gate cannot prove: the sketch
    * buffer serializes into the state store between batches
    * (TypedImperativeAggregate.serialize/deserialize), merges with
    * each batch's partials, and stays exact in the unsaturated
    * regime, so the drained result hash-compares against the exact
    * per-day (count DESC, item ASC) top-5. State is one sketch per
    * day window — O(days × maxMapSize), not O(input).
    */
  def stream_topk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // split the drained source into 4 files and trigger per-file, so
    // AvailableNow processes FOUR micro-batches — the sketch buffer
    // provably serializes into the state store and merges with the
    // next batch's partials (a single-file source would fold
    // everything inside one batch and never exercise the cross-batch
    // merge this gate exists to prove)
    val schema = rawEventsSchema(s, dir)
    // app-scoped per-SF dir, cleared per invocation (see [[scratchDir]])
    val base = scratchDir(s, "r57", dir)
    val splitDir = s"$base/src"
    s.read.schema(schema).parquet(s"$dir/events.parquet")
      .repartition(4).write.mode("overwrite").parquet(splitDir)
    val stream = graft.Tables.normalize("events",
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(splitDir))
    val maxMapSize = 1024
    val agg = stream
      .select(window(col("ts"), "1 day").as("w"),
        get_json_object(col("props"), "$.k").as("kv"))
      .groupBy("w")
      .agg(ColumnBridge.column(
        graft.functions.FreqTopK(
          ColumnBridge.expression(col("kv")), k = 5, maxMapSize = maxMapSize)
          .toAggregateExpression()).as("top"))
    // The exact-equality oracle holds only while the sketch stays
    // EXACT — i.e. no counter was ever evicted. ItemsSketch evicts
    // only when its active-item count exceeds 0.75·maxMapSize, and
    // any partial or batch-merged sketch for one day tracks at most
    // that day's distinct keys — so per-day distinct ≤ the purge
    // threshold guarantees exactness through every micro-batch and
    // state-store merge. Assert it from a cheap batch scan of the
    // same source, so saturation at a larger SF surfaces as a clear
    // named failure instead of a silent hash mismatch.
    // the saturation guard is an INDEPENDENT batch job over the same
    // staged source — overlapped with the drain (§2.6) instead of
    // serializing in front of it; on violation the gate still fails
    // loudly before returning (the drain's work is then discarded)
    val maxDistinctF = {
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      Future(graft.Tables.normalize("events",
          s.read.schema(schema).parquet(splitDir))
        .select(window(col("ts"), "1 day").as("w"),
          get_json_object(col("props"), "$.k").as("kv"))
        .groupBy("w").agg(countDistinct(col("kv")).as("d"))
        .agg(coalesce(max(col("d")), lit(0L))).first().getLong(0))
    }
    withStatePartitions(s, StateParts) {
      val q = agg.writeStream.format("memory").queryName("r57_sink")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      drain("r57", q)
    }
    val maxDistinct = scala.concurrent.Await.result(maxDistinctF,
      scala.concurrent.duration.Duration.Inf)
    require(maxDistinct <= maxMapSize * 3 / 4,
      s"r57: per-day distinct keys ($maxDistinct) exceed the FreqTopK " +
        s"purge threshold (${maxMapSize * 3 / 4}) — the sketch would " +
        "saturate and the exact top-k oracle no longer applies; raise " +
        "maxMapSize for this SF")
    s.table("r57_sink")
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("day"), (col("pos") + 1).cast("int").as("rank"),
        col("t.item").as("item"), col("t.est").as("est"))
      .orderBy("day", "rank")
  }

  /** r58: streaming ANN index ingestion — the index-MAINTENANCE path
    * of a 100-TB ANN deployment: embeddings arrive as a stream, each
    * is assigned map-side to its nearest coarse-quantizer cell (the
    * SAME persisted s03 index-build artifact the batch probes use —
    * the centroids are compile-time literals in a codegen'd
    * expression, so assignment adds NO join and NO shuffle below the
    * rollup), and a streaming aggregation maintains per-cell shard
    * occupancy (count + integer id checksums) across micro-batches.
    * State is one row per CELL — O(nlist), not O(vectors ingested):
    * the directory a real deployment keeps while cell shards grow on
    * disk. Four forced micro-batches (the r57 pattern) prove the
    * per-cell counters merge through the state store. All outputs are
    * integers; the oracle replays assignment from the same centroid
    * parquet with the argmin/low-id tie rule and aggregates the same
    * checksums.
    */
  def stream_ann_ingest(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
    val base = scratchDir(s, "r58", dir)
    val splitDir = s"$base/src"
    s.read.schema(schema).parquet(s"$dir/embeddings.parquet")
      .repartition(4).write.mode("overwrite").parquet(splitDir)
    // fit-or-load the shared quantizer BEFORE the stream starts (also
    // persists the parquet the oracle reads — the s03 contract)
    val centroids = PipelineQueries.centroidsFor(s, dir)
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(splitDir)
    val agg = graft.operators.Similarity.assignCells(stream, centroids)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum(col("vec_id")).as("sum_ids"),
        min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
    withStatePartitions(s, StateParts) {
      val q = agg.writeStream.format("memory").queryName("r58_sink")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      drain("r58", q)
    }
    s.table("r58_sink")
      .select(col("cell").cast("int").as("cell"), col("n_vecs"),
        col("sum_ids"), col("min_id"), col("max_id"))
      .orderBy("cell")
  }

  /** r53: streaming deduplication — every event arrives TWICE (two
    * independent streaming reads of the same dir, unioned), so the
    * stateful dropDuplicates must collapse each key to exactly one
    * row across micro-batch and leg boundaries. Append-mode parquet
    * sink with a checkpoint — the production sink shape — then read
    * back for the compare.
    */
  def stream_dedup(s: SparkSession, dir: String): DataFrame = {
    val schema = rawEventsSchema(s, dir)
    val doubled = eventsStream(s, dir, schema)
      .union(eventsStream(s, dir, schema))
    val deduped = doubled.dropDuplicates("event_id")
      .select("event_id", "user_id", "event_type")
    // app-scoped per-SF dir, CLEARED per invocation (see
    // [[scratchDir]]): a reused checkpoint would skip already-seen
    // files — and silently re-ingest (duplicating the sink) if the
    // driver regenerates the testdata under the same filename.
    val base = scratchDir(s, "r53", dir)
    val out = new java.io.File(base, "out").getAbsolutePath
    val cp = new java.io.File(base, "cp").getAbsolutePath
    withStatePartitions(s, StateParts) {
      val q = deduped.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain("r53", q)
    }
    // schema pinned on read-back: an empty source commits no data
    // files, and schema inference over an empty dir would throw
    s.read.schema(deduped.schema).parquet(out).orderBy("event_id")
  }

  /** r54: watermarked stream-stream interval join — attribute each
    * purchase to the clicks that preceded it within 6 hours, through
    * [[graft.streaming.StreamJoin.attribution]]. Two independent
    * streaming reads of the same drained source (one per side); the
    * result of an INNER interval join is a pure function of the
    * inputs, so a plain batch self-join SQL oracle hash-compares it.
    * The single-file source makes each side one micro-batch, so the
    * starting watermark (epoch 0) can never discard input — the gate
    * exercises the state-bounded join path without late-drop
    * nondeterminism.
    */
  def stream_join(s: SparkSession, dir: String): DataFrame = {
    val schema = rawEventsSchema(s, dir)
    def side(tpe: String, idAs: String, tsAs: String) =
      eventsStream(s, dir, schema)
        .filter(col("event_type") === tpe)
        .select(col("user_id"), col("event_id").as(idAs), col("ts").as(tsAs))
    val joined = graft.streaming.StreamJoin.attribution(
      side("click", "click_id", "click_ts"),
      side("purchase", "purchase_id", "purchase_ts"),
      window = "6 hours", lateness = "10 minutes")
    // inner interval join emits on ARRIVAL; the trailing no-data batch
    // only evicts state on a query that is about to stop — skipped
    withStatePartitions(s, StateParts, finalizeBatch = false) {
      val q = joined.writeStream.format("memory").queryName("r54_sink")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain("r54", q)
    }
    s.table("r54_sink")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** r56: stream–static enrichment — the single most common production
    * streaming shape (fact stream joined to a dimension table, then a
    * windowed rollup). The dim side is STATIC and broadcast: no join
    * state at all — the stream stays append-only through the join and
    * only the windowed aggregation keeps state (O(windows × nations)).
    * At 100 TB/day the dim table re-broadcasts per micro-batch, which
    * is exactly the deployment semantics for slowly-changing dims
    * (each batch sees the dim as-of its start).
    */
  def stream_enrich(s: SparkSession, dir: String): DataFrame = {
    val schema = rawEventsSchema(s, dir)
    val dim = graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
    val agg = eventsStream(s, dir, schema)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 day"), col("c_nationkey"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(12,2)")).as("sv"))
    withStatePartitions(s, StateParts) {
      val q = agg.writeStream.format("memory").queryName("r56_sink")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      drain("r56", q)
    }
    s.table("r56_sink")
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("c_nationkey").cast("int").as("nation_key"),
        col("cnt"), col("sv").cast("double").as("sv"))
      .orderBy("day", "nation_key")
  }

  /** r59: streaming DECONTAMINATION — the d07 operator as a stream:
    * documents arrive continuously, the eval/benchmark set is a
    * static relation reduced to its content hashes, and a
    * stream–static LEFT ANTI broadcast join drops every doc whose
    * md5(text) appears in it — the shape a training-data intake runs
    * so benchmark text never enters a shard. The anti join keeps NO
    * state (the static side re-broadcasts per micro-batch, dim-table
    * semantics); only the per-source rollup holds state, O(sources).
    * At 100 TB the eval set stays hash-only — kilobytes per thousand
    * benchmark docs — so the broadcast never grows with the corpus.
    * Output is the deterministic integer checksum form (count + sum
    * of kept ids) the streaming oracle discipline requires.
    */
  def stream_decontam(s: SparkSession, dir: String): DataFrame = {
    val docsStatic = graft.Tables.load(s, dir, "documents")
    val contaminated = docsStatic.filter(col("doc_id") % 97 === 0)
      .select(md5(col("text")).as("h")).distinct()
    val stream = graft.Tables.normalize("documents",
        s.readStream.schema(docsStatic.schema)
          .parquet(s"$dir/documents.parque[t]"))
      .withColumn("h", md5(col("text")))
    val agg = stream.join(broadcast(contaminated), Seq("h"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
    withStatePartitions(s, StateParts) {
      val q = agg.writeStream.format("memory").queryName("r59_sink")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      drain("r59", q)
    }
    s.table("r59_sink")
      .select(col("source"), col("n_kept"),
        col("sum_ids").cast("long").as("sum_ids"))
      .orderBy("source")
  }

  /** r60: streaming INCREMENTAL NEAR-DUP intake — d15 as a stream,
    * completing the intake pair (r59 = exact/decontamination, this =
    * fuzzy): documents arrive continuously, the standing corpus's
    * banded-LSH index and shingle-hash table are STATIC relations,
    * and each micro-batch probes map-side — signature + banding are
    * stateless projections on the stream, the candidate join and the
    * verify join are both stream-static (index side broadcast), and
    * the ONE stateful operator is the pair-granularity aggregation
    * (state ∝ verified pairs — the output's own size; the per-doc
    * rollup is post-drain batch work). The stream side is
    * the PROBE (the broadcast-probe orientation of the batch
    * operator inverts here: in a stream the batch is unbounded and
    * the INDEX is the bounded side — same contract, roles swapped).
    * Corpus = even ids, streamed batch = odd ids, J ≥ 0.8 verify —
    * the d15 semantics exactly, so the oracle is the same exhaustive
    * cross-parity ground truth rolled up per batch doc with integer
    * checksums.
    */
  def stream_neardup(s: SparkSession, dir: String): DataFrame = {
    val docsStatic = graft.Tables.load(s, dir, "documents")
    val corpus = docsStatic.filter(col("doc_id") % 2 === 0)
    val idx = graft.operators.TextDedup.lshBuckets(
      corpus.select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), 5, 64).as("sig")),
      "doc_id", "sig", bands = 16, rowsPerBand = 4)
      .select(col("band"), col("bucket"), col("doc_id").as("index_id"))
    val idxSh = corpus.select(col("doc_id").as("index_id"),
      graft.functions.ShingleHashSorted(col("text"), 5).as("sh_b"))
    // sh_a rides the stream row from the start: re-deriving it via a
    // second join back onto the stream would be a STREAM-STREAM join
    // (unsupported in complete mode) — one streaming lineage, with
    // the shingle array carried through the map-side band explode
    // and broadcast joins, never entering an exchange (the only
    // exchange is the final pair aggregation, array-free).
    val stream = graft.Tables.normalize("documents",
        s.readStream.schema(docsStatic.schema)
          .parquet(s"$dir/documents.parque[t]"))
      .filter(col("doc_id") % 2 === 1)
      // single-file source = ONE scan partition: the probe-side
      // signature pass (MinHashSig + ShingleHashSorted) ran
      // single-core. Stateless per-batch rebalance of the surviving
      // rows; the pair aggregation's result is placement-invariant
      // (optimization r19)
      .repartition(StateParts)
      .select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), 5, 64).as("sig"),
        graft.functions.ShingleHashSorted(col("text"), 5).as("sh_a"))
    // TextDedup.lshBuckets' band arithmetic inlined (it projects the
    // id/bands only; here sh_a must survive the explode): identical
    // xxhash64-over-slice form, so stream buckets equal index buckets
    val prbBuckets = stream
      .select(col("doc_id").as("probe_id"), col("sh_a"),
        posexplode(transform(sequence(lit(0), lit(15)), b =>
          xxhash64(b, slice(col("sig"), b * lit(4) + lit(1), lit(4)))))
          .as(Seq("band", "bucket")))
    // a pair hit in k of the 16 bands appears k times here; the
    // verify expression runs per band-hit row (≤16× duplicated
    // arithmetic, map-side and cheap) so that the ONE stateful
    // operator in the query is the pair-granularity aggregation —
    // chaining a stateful dropDuplicates into a complete-mode
    // aggregation is the unsupported shape. The per-doc rollup runs
    // on the DRAINED table: post-drain batch work, not stream state.
    val verified = prbBuckets
      .join(broadcast(idx), Seq("band", "bucket"))
      .join(broadcast(idxSh), Seq("index_id"))
      .withColumn("inter", graft.functions.SortedLongIntersect(
        col("sh_a"), col("sh_b")))
      .withColumn("un",
        size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .filter(col("inter").cast("double") / col("un") >= 0.8)
    val agg = verified.groupBy(col("probe_id"), col("index_id"))
      .agg(count(lit(1)).as("band_hits"))
    withStatePartitions(s, StateParts) {
      val q = agg.writeStream.format("memory").queryName("r60_sink")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      drain("r60", q)
    }
    s.table("r60_sink")
      .groupBy(col("probe_id").as("doc_id"))
      .agg(count(lit(1)).as("n_dups"),
        sum(col("index_id")).cast("long").as("sum_ids"))
      .orderBy("doc_id")
  }

  /** r55: streaming gap sessionization — the custom-state
    * `flatMapGroupsWithState` path ([[graft.streaming.StreamingSessionize]]),
    * same 8-hour-gap semantics as the batch r18 query. What makes the
    * drained run oracle-able is stating the EMISSION contract exactly:
    *  - every non-final session per user is closed in-batch by the
    *    next event arriving past the gap — emitted regardless of
    *    watermark;
    *  - a user's final session emits only via EventTimeTimeout, i.e.
    *    iff ms(last_event) + gap < ms(max_ts) - lateness (strict —
    *    Spark fires when the watermark passes the timeout timestamp);
    *  - emitted timestamps are ms-truncated (`Timestamp.getTime`
    *    state), which the oracle mirrors with date_trunc.
    * The oracle computes batch sessions and applies that filter — the
    * honest semantics of a stream that never "ends".
    */
  /** r62: checkpoint RECOVERY — exactly-once resume across a query
    * restart, the streaming property a 100-TB deployment exercises
    * weekly (executor loss, deploys, spot reclaim) and the one thing a
    * single AvailableNow drain structurally cannot prove. Two legs
    * over the SAME checkpoint + sink:
    *   - leg 1: the events file lands in a controlled source dir; an
    *     AvailableNow drain consumes it and STOPS (the checkpoint now
    *     holds the committed source offsets and the RocksDB dedup
    *     state);
    *   - leg 2: the SAME events land again as a NEW file; a NEW query
    *     object starts from the same checkpoint and drains it.
    * Every leg-2 row duplicates a leg-1 row, so the sink stays one row
    * per event_id IFF leg 2 resumed leg 1's state — a lost-state
    * restart would re-admit all N keys and double the sink, failing
    * the oracle's row/hash compare. The carried state is also asserted
    * structurally: leg 2 must report numRowsUpdated == 0 (no key
    * entered the store) over a non-empty resumed numRowsTotal.
    * (Reference parity note: the reference's re-entrancy story,
    * app/schedule/update_log.ts:14-18, is about SKIPPING an already-
    * running import — resume-correctness is the Spark-native
    * obligation its checkpointed equivalent takes on.)
    */
  def stream_recovery(s: SparkSession, dir: String): DataFrame = {
    val base = scratchDir(s, "r62", dir)
    val src = new java.io.File(base, "src"); src.mkdirs()
    val out = new java.io.File(base, "out").getAbsolutePath
    val cp = new java.io.File(base, "cp").getAbsolutePath
    val eventsFile = new java.io.File(dir, "events.parquet")
    val deduped = graft.Tables.normalize("events",
        s.readStream.schema(rawEventsSchema(s, dir))
          .parquet(src.getAbsolutePath))
      .dropDuplicates("event_id")
      .select("event_id", "user_id", "event_type")
    def leg(n: Int): Unit = {
      org.apache.commons.io.FileUtils.copyFile(eventsFile,
        new java.io.File(src, s"part$n.parquet"))
      // trackRows stays ON here: the gate's resumed-store asserts read
      // numRowsTotal/numRowsUpdated below
      withStatePartitions(s, StateParts, trackRows = true) {
        val q = deduped.writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        drain(s"r62_leg$n", q)
      }
    }
    leg(1)
    leg(2)
    val ops2 = progressByGate("r62_leg2").filter(_.numInputRows > 0)
      .flatMap(_.stateOperators.toSeq)
    val updated = ops2.map(_.numRowsUpdated).sum
    val total = ops2.map(_.numRowsTotal).maxOption.getOrElse(0L)
    require(total > 0,
      s"r62: leg 2 resumed an EMPTY state store (total=$total) — " +
        "checkpoint state did not carry across the restart")
    require(updated == 0,
      s"r62: leg 2 admitted $updated keys to the store — duplicates " +
        "were treated as first arrivals, state was NOT resumed")
    s.read.schema(deduped.schema).parquet(out).orderBy("event_id")
  }

  /** r63: WATERMARKED dedup — [[graft.streaming.StreamingDedup
    * .dedupByContent]] (`dropDuplicatesWithinWatermark`), the form
    * SCALE.md names as the 100-TB answer to r53's unbounded key state:
    * the state store holds only content hashes inside the watermark
    * horizon, so memory is bounded by the horizon's key count, and the
    * DOCUMENTED divergence from full-history batch dedup is that a
    * duplicate re-arriving outside the horizon is re-admitted. The gate
    * constructs both behaviors on a deterministic event-time timeline
    * (all keys derived from events ids, horizon = 10 minutes), forced
    * to one micro-batch per file (maxFilesPerTrigger=1):
    *   - b1: first arrivals, ts = T0 + id seconds;
    *   - b2: duplicates of id%3==0 at ts+5min — INSIDE the horizon,
    *     state present → dropped — plus a watermark pusher at T0+1d;
    *   - b3: a second pusher at T0+2d — its batch END evicts every id
    *     key under b2's watermark (T0+1d−10min ≫ every id expiry);
    *   - b4: duplicates of ALL ids at T0+2d+id s — state long gone →
    *     every one re-admitted.
    * Two pusher batches separate "watermark passes expiry" from "the
    * re-arrival batch", so the result never depends on whether a batch
    * evicts expired keys before or after processing its input rows.
    * Oracle: first arrivals + all b4 re-arrivals + the two pushers —
    * exactly reconstructable in batch SQL.
    */
  def stream_watermark_dedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = scratchDir(s, "r63", dir)
    val src = new java.io.File(base, "src"); src.mkdirs()
    val out = new java.io.File(base, "out").getAbsolutePath
    val cp = new java.io.File(base, "cp").getAbsolutePath
    val t0 = "timestamp'2024-01-01 00:00:00'"
    val ids = graft.Tables.load(s, dir, "events")
      .filter(col("event_id") < 100).select("event_id").distinct()
    def docRows(tsExpr: String) = ids.select(
      col("event_id"),
      concat(lit("doc-"), col("event_id").cast("string")).as("text"),
      expr(tsExpr).as("ts"))
    def pusher(name: String, tsExpr: String) = s.range(1).select(
      lit(name).as("text"), expr(tsExpr).as("ts"))
    val batches = Seq(
      docRows(s"$t0 + make_interval(0,0,0,0,0,0,event_id)").drop("event_id"),
      docRows(s"$t0 + make_interval(0,0,0,0,0,5,event_id)")
        .filter(col("event_id") % 3 === 0).drop("event_id")
        .union(pusher("p1", s"$t0 + interval 1 day")),
      pusher("p2", s"$t0 + interval 2 day"),
      docRows(s"$t0 + interval 2 day + make_interval(0,0,0,0,0,0,event_id)")
        .drop("event_id"))
    // four independent staging writes, submitted together (§2.6)
    inParallel(batches.zipWithIndex.map { case (df, i) => () => {
      val tmp = new java.io.File(base, s"tmp${i + 1}")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"b${i + 1}.parquet")
      org.apache.commons.io.FileUtils.copyFile(part, dst)
      // the file source orders by (mtime, path): pin strictly
      // ascending mtimes so batch order IS timeline order
      dst.setLastModified(1700000000000L + i * 60000L)
    }})
    val sch = new StructType().add("text", StringType).add("ts", TimestampType)
    val dd = graft.streaming.StreamingDedup.dedupByContent(
        s.readStream.schema(sch).option("maxFilesPerTrigger", 1)
          .parquet(src.getAbsolutePath),
        "ts", "text", "10 minutes")
      .select(col("text").as("doc_key"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
    // dropDuplicatesWithinWatermark emits each kept row in its ARRIVAL
    // batch; the trailing no-data batch only evicts expired keys on a
    // query that is about to stop — skipped (eviction DURING the run —
    // b3's pusher ahead of b4's re-arrivals — is data-batch-driven and
    // unaffected)
    withStatePartitions(s, StateParts, finalizeBatch = false) {
      val q = dd.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain("r63", q)
    }
    s.read.schema(dd.schema).parquet(out).orderBy("doc_key", "ts_s")
  }

  def stream_sessionize(s: SparkSession, dir: String): DataFrame = {
    val schema = rawEventsSchema(s, dir)
    val sessions = graft.streaming.StreamingSessionize.sessions(
      eventsStream(s, dir, schema), gap = "8 hours", lateness = "10 minutes")
    withStatePartitions(s, StateParts) {
      val q = sessions.toDF().writeStream.format("memory")
        .queryName("r55_sink")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain("r55", q)
    }
    s.table("r55_sink")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** r64: THETA-sketch state in streaming — t22's per-source overlap
    * artifact maintained at ingest cadence instead of rebuilt by a
    * batch scan: documents arrive in four forced micro-batches (the
    * r57 split-and-trigger-per-file pattern), a complete-mode
    * aggregation keeps one theta Union per SOURCE in the RocksDB
    * state store (the sketch buffer serializes out per batch and
    * merges with the next batch's partials), and the pairwise matrix
    * is computed post-drain from the drained sketch table exactly as
    * the batch gate computes it from its collected artifact.
    *
    * Why this is oracle-able against t22's EXACT batch matrix: theta
    * set semantics are insertion- and merge-order invariant (pinned
    * by spec on the batch side), so arriving in 4 batches through
    * state-store round-trips must change NOTHING — a serialization
    * bug, a lost partial, or a double-merged batch all surface as a
    * hash mismatch against the exhaustive DuckDB intersection matrix.
    * State is one row per SOURCE with sketch bytes capped at the
    * nominal threshold — the bounded-state family with r57 (per-day
    * sketch) and r58 (per-cell occupancy): state size is set by the
    * ARTIFACT's resolution, not by how much data has streamed through.
    */
  def stream_theta_overlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val n = 8
    val docsStatic = graft.Tables.load(s, dir, "documents")
    val base = scratchDir(s, "r64", dir)
    val splitDir = s"$base/src"
    docsStatic.repartition(4).write.mode("overwrite").parquet(splitDir)
    val w = graft.Tables.normalize("documents",
        s.readStream.schema(docsStatic.schema)
          .option("maxFilesPerTrigger", "1").parquet(splitDir))
      // one file per micro-batch = ONE scan partition per batch: the
      // tokenize+shingle+md5 map work ran single-core per batch. A
      // stateless per-batch rebalance to the state-partition count
      // spreads it; theta union state is merge-order-invariant, so
      // placement never changes the drained result (optimization r19)
      .repartition(StateParts)
      .select(col("source"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(col("source"), col("toks"),
        explode(when(size(col("toks")) >= n,
          sequence(lit(1), size(col("toks")) - (n - 1)))).as("__i"))
      .select(col("source"),
        md5(array_join(slice(col("toks"), col("__i"), lit(n)), " ")).as("h"))
    val agg = w.groupBy("source")
      .agg(ColumnBridge.column(graft.functions.ThetaSketchAgg(
          ColumnBridge.expression(col("h")), lgNomEntries = 14)
        .toAggregateExpression()).as("h_sketch"))
    withStatePartitions(s, StateParts) {
      val q = agg.writeStream.format("memory").queryName("r64_sink")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      drain("r64", q)
    }
    val sk = s.table("r64_sink").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val rows = for {
      (sa, ba) <- sk.toSeq
      (sb, bb) <- sk.toSeq
      if sa < sb
    } yield (sa, sb, graft.functions.ThetaIntersectEst.estimate(ba, bb))
    import s.implicits._
    rows.toDF("src_a", "src_b", "overlap").orderBy("src_a", "src_b")
  }

  /** r66: streaming CONCAT-AND-CHUNK placement — p16's example-
    * boundary map maintained at ingest cadence through
    * [[graft.streaming.StreamingPacking]]: four ordered file splits
    * (ascending doc_id ranges, pinned mtimes, one file per
    * micro-batch) arrive as a stream; each doc's placement is
    * assigned from the per-lang running-offset STATE (one long per
    * group, the smallest state in the family) and emitted exactly
    * once, append-only. The drained sink must equal the batch p16
    * window over the whole corpus — the running offset provably
    * carried across all four batch commits.
    */
  def stream_concat_chunk(s: SparkSession, dir: String): DataFrame = {
    val base = scratchDir(s, "r66", dir)
    val src = new java.io.File(base, "src"); src.mkdirs()
    val out = new java.io.File(base, "out").getAbsolutePath
    val cp = new java.io.File(base, "cp").getAbsolutePath
    val docsStatic = graft.Tables.load(s, dir, "documents")
    // tokenize ONCE (optimization r19, guide §1.2 "don't compute
    // things twice"): the percentile cut pass and the four quartile
    // writes each re-derived n_tokens from the raw text — five full
    // tokenize passes per invocation. Stage the 3-column (lang,
    // doc_id, n_tokens) projection once; the cut pass and the splits
    // re-read the tiny numeric staging table.
    val tPath = new java.io.File(base, "toks").getAbsolutePath
    // read-side rebalance ahead of the tokenize pass (the single
    // row-group scan would run it on one core — optimization r19)
    graft.Tables.spread(docsStatic).select(col("lang"), col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .write.mode("overwrite").parquet(tPath)
    val t = s.read.parquet(tPath)
    // ordered splits: batch i holds the i-th quartile of doc_ids, so
    // per-lang arrival order IS doc_id order — the ingest contract.
    // The cut points are ONE 3-value percentile row (bounded collect)
    val cuts = t.selectExpr(
        "percentile(doc_id, array(0.25, 0.5, 0.75)) AS c")
      .first().getSeq[Double](0)
    val parts = Seq(
      t.filter(col("doc_id") < cuts(0)),
      t.filter(col("doc_id") >= cuts(0) && col("doc_id") < cuts(1)),
      t.filter(col("doc_id") >= cuts(1) && col("doc_id") < cuts(2)),
      t.filter(col("doc_id") >= cuts(2)))
    // four independent staging writes, submitted together (§2.6)
    inParallel(parts.zipWithIndex.map { case (df, i) => () => {
      val tmp = new java.io.File(base, s"tmp${i + 1}")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, s"b${i + 1}.parquet")
      org.apache.commons.io.FileUtils.copyFile(part, dst)
      dst.setLastModified(1700000000000L + i * 60000L)
    }})
    import s.implicits._
    val placed = graft.streaming.StreamingPacking.placements(
      s.readStream.schema(t.schema).option("maxFilesPerTrigger", "1")
        .parquet(src.getAbsolutePath)
        .as[graft.streaming.StreamingPacking.DocTok], 128)
    withStatePartitions(s, StateParts) {
      val q = placed.toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      drain("r66", q)
    }
    s.read.schema(placed.toDF().schema).parquet(out)
      .orderBy("lang", "doc_id")
  }

  /** r67: checkpoint RECOVERY for CUSTOM GroupState — the third state
    * class in the recovery matrix: r62 proves the dedup KEY store
    * resumes and r65 the aggregation BUFFERS; this proves a
    * flatMapGroupsWithState user-state value (r66's per-lang running
    * offset) survives a query restart. The failure it hunts is
    * specific to the custom-state path: an encoder/serializer bug or
    * a lost GroupState commit would restart every lang's offset at 0,
    * so every leg-2 doc's placement would shift down by exactly the
    * leg-1 token totals — caught by the batch-window oracle, which
    * only matches if leg 2 CONTINUED leg 1's offsets. Exactly-once on
    * the source is asserted structurally (legs read the corpus
    * exactly once, both non-empty); append-only sink rows are never
    * rewritten, so leg-1 placements must already be final.
    */
  def stream_concat_chunk_recovery(s: SparkSession, dir: String): DataFrame = {
    val base = scratchDir(s, "r67", dir)
    val src = new java.io.File(base, "src"); src.mkdirs()
    val out = new java.io.File(base, "out").getAbsolutePath
    val cp = new java.io.File(base, "cp").getAbsolutePath
    val docsStatic = graft.Tables.load(s, dir, "documents")
    // tokenize ONCE (optimization r19): same staging discipline as
    // r66 — one pass derives n_tokens; the cut pass and the quartile
    // writes read the numeric staging table, and the leg-sizing count
    // comes from the staged files' parquet footers (no count() job).
    val tPath = new java.io.File(base, "toks").getAbsolutePath
    // read-side rebalance ahead of the tokenize pass (r66's rationale)
    graft.Tables.spread(docsStatic).select(col("lang"), col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .write.mode("overwrite").parquet(tPath)
    val t = s.read.parquet(tPath)
    // bounded collect: one 3-value percentile row stages the splits
    val cuts = t.selectExpr(
        "percentile(doc_id, array(0.25, 0.5, 0.75)) AS c")
      .first().getSeq[Double](0)
    val parts = Seq(
      t.filter(col("doc_id") < cuts(0)),
      t.filter(col("doc_id") >= cuts(0) && col("doc_id") < cuts(1)),
      t.filter(col("doc_id") >= cuts(1) && col("doc_id") < cuts(2)),
      t.filter(col("doc_id") >= cuts(2)))
    val staged = inParallel(parts.zipWithIndex.map { case (df, i) => () => {
      val tmp = new java.io.File(base, s"tmp${i + 1}")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      (tmp.listFiles.find(_.getName.endsWith(".parquet")).get, i)
    }})
    // the quartile filters PARTITION t exactly, so the staged footer
    // counts sum to the corpus row count — no separate count() job
    val totalRows = staged.map { case (f, _) => stagedRowCount(f) }.sum
    import s.implicits._
    val placed = graft.streaming.StreamingPacking.placements(
      s.readStream.schema(t.schema).option("maxFilesPerTrigger", "1")
        .parquet(src.getAbsolutePath)
        .as[graft.streaming.StreamingPacking.DocTok], 128)
    def leg(name: String, files: Seq[(java.io.File, Int)]): Long = {
      files.foreach { case (f, i) =>
        val dst = new java.io.File(src, s"b${i + 1}.parquet")
        org.apache.commons.io.FileUtils.copyFile(f, dst)
        dst.setLastModified(1700000000000L + i * 60000L)
      }
      withStatePartitions(s, StateParts) {
        val q = placed.toDF().writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        drain(name, q)
      }
      progressByGate(name).map(_.numInputRows).sum
    }
    val in1 = leg("r67_leg1", staged.take(2))
    val in2 = leg("r67_leg2", staged.drop(2))
    require(in1 > 0 && in2 > 0,
      s"r67: a leg drained no rows (leg1=$in1, leg2=$in2) — the " +
        "restart never exercised resumed GroupState")
    require(in1 + in2 == totalRows,
      s"r67: legs read $in1 + $in2 rows of $totalRows — source " +
        "offsets were not resumed exactly-once across the restart")
    s.read.schema(placed.toDF().schema).parquet(out)
      .orderBy("lang", "doc_id")
  }

  /** r68: streaming epoch-INTERLEAVE key with checkpoint recovery —
    * p17 at ingest cadence, completing the streaming story for the
    * round-13 batch additions: the per-source rank counter rides the
    * same flatMapGroupsWithState shape as r66 (state = ONE long per
    * source) and the drained sink must equal batch p17 over the whole
    * corpus. Ingest contract: batch i holds the i-th md5-prefix
    * quarter of doc ids, so per-source arrival order IS md5 order —
    * the batch rank's sort key — across micro-batches; within a batch
    * the operator sorts the group's rows by (mk, doc_id). The
    * r67-style recovery leg restarts a NEW query from the checkpoint
    * between the halves: a reset rank counter would shift every leg-2
    * key by the leg-1 per-source counts, which the batch-p17 oracle
    * catches. Exactly-once asserted structurally (both legs non-empty
    * and summing to the corpus row count exactly).
    */
  /** The two-leg recovery cut over staged file row counts (the
    * r65/r68 discipline, ONE implementation): pick the split index
    * whose legs are both non-empty and closest to half, failing with
    * an explicit test-setup message otherwise — an empty staged file
    * must never masquerade as a checkpoint-recovery bug.
    */
  private def pickLegCut(rows: Seq[Long], gate: String): Int = {
    val total = rows.sum
    val choices = (1 until rows.length).filter(i =>
      rows.take(i).sum > 0 && rows.drop(i).sum > 0)
    require(choices.nonEmpty,
      s"$gate test setup: staged rows ${rows.mkString(",")} admit no " +
        "two-leg split with rows on both sides — corpus too small")
    choices.minBy(i => math.abs(rows.take(i).sum - total / 2))
  }

  def stream_interleave_recovery(s: SparkSession, dir: String): DataFrame = {
    val base = scratchDir(s, "r68", dir)
    val src = new java.io.File(base, "src"); src.mkdirs()
    val out = new java.io.File(base, "out").getAbsolutePath
    val cp = new java.io.File(base, "cp").getAbsolutePath
    val docsStatic = graft.Tables.load(s, dir, "documents")
    // bounded collect: the source dictionary (the s03 pattern) — the
    // SAME index map batch p17 builds, in UTF-8 byte order to match
    // the oracle's binary ORDER BY source (Scala .sorted is UTF-16
    // unit order, which diverges on supplementary-plane names)
    val srcs = docsStatic.select("source").distinct()
      .collect().map(_.getString(0))
      .sortWith(PipelineQueries.utf8Lt)
    val srcIdx = srcs.zipWithIndex.toMap
    // persisted: the four quarter-filter writes below would otherwise
    // each rescan the corpus and recompute md5 per row
    val t = docsStatic.select(col("source"), col("doc_id"),
      md5(col("doc_id").cast("string")).as("mk")).persist()
    // ordered splits by md5 PREFIX quarter: every b1 row's mk sorts
    // before every b2 row's, so cross-batch arrival order per source
    // equals the batch sort order
    val parts = Seq(
      t.filter(col("mk") < "4"),
      t.filter(col("mk") >= "4" && col("mk") < "8"),
      t.filter(col("mk") >= "8" && col("mk") < "c"),
      t.filter(col("mk") >= "c"))
    val staged = inParallel(parts.zipWithIndex.map { case (df, i) => () => {
      val tmp = new java.io.File(base, s"tmp${i + 1}")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      (tmp.listFiles.find(_.getName.endsWith(".parquet")).get, i)
    }})
    t.unpersist()
    import s.implicits._
    val keyed = graft.streaming.StreamingInterleave.keys(
      s.readStream.schema(t.schema).option("maxFilesPerTrigger", "1")
        .parquet(src.getAbsolutePath)
        .as[graft.streaming.StreamingInterleave.DocSrc], srcIdx)
    def leg(name: String, files: Seq[(java.io.File, Int)]): Long = {
      files.foreach { case (f, i) =>
        val dst = new java.io.File(src, s"b${i + 1}.parquet")
        org.apache.commons.io.FileUtils.copyFile(f, dst)
        dst.setLastModified(1700000000000L + i * 60000L)
      }
      withStatePartitions(s, StateParts) {
        val q = keyed.toDF().writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        drain(name, q)
      }
      progressByGate(name).map(_.numInputRows).sum
    }
    val stagedRows = staged.map { case (f, _) => stagedRowCount(f) }
    // the quarters PARTITION the corpus exactly, so their staged sum
    // IS the corpus row count — no separate t.count() scan needed
    val totalRows = stagedRows.sum
    val cutAt = pickLegCut(stagedRows, "r68")
    val in1 = leg("r68_leg1", staged.take(cutAt))
    val in2 = leg("r68_leg2", staged.drop(cutAt))
    require(in1 > 0 && in2 > 0,
      s"r68: a leg drained no rows (leg1=$in1, leg2=$in2) — the " +
        "restart never exercised the resumed rank counter")
    require(in1 + in2 == totalRows,
      s"r68: legs read $in1 + $in2 rows of $totalRows — source " +
        "offsets were not resumed exactly-once across the restart")
    s.read.schema(keyed.toDF().schema).parquet(out)
      .orderBy("doc_id")
  }

  /** r65: checkpoint RECOVERY for AGGREGATION state — r62 proves the
    * dedup KEY store resumes; this proves a complete-mode sketch
    * aggregation's serialized buffers (r64's ThetaSketchAgg rows)
    * survive a query RESTART. A buffer-serialization or merge-after-
    * deserialize bug is invisible to r62 (no agg buffers) and to the
    * single-drain r64 (state never crosses a restart). Two legs over
    * the SAME checkpoint:
    *  - leg 1 sees only the first half of the corpus split files,
    *    drains (AvailableNow, one file per micro-batch so buffers
    *    round-trip the RocksDB store every batch), and STOPS — the
    *    store now holds one serialized theta Union per source;
    *  - leg 2 lands the remaining files; a NEW query object resumes
    *    from the checkpoint and drains only them.
    * The post-restart matrix must equal t22's exhaustive batch matrix
    * even though leg 2 read only half the rows — possible ONLY if
    * leg 2 deserialized and merged into leg 1's sketch state.
    * Exactly-once is asserted structurally: each leg reads > 0 rows
    * and the two legs together read the corpus row count EXACTLY (a
    * lost-offsets restart re-reads leg 1's files and overshoots; a
    * skipped file undershoots). Sink is foreachBatch → parquet
    * overwrite (complete mode emits the whole sketch table per batch;
    * the parquet sink can't do complete, and the memory sink does not
    * survive a restart).
    */
  def stream_theta_recovery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val n = 8
    val docsStatic = graft.Tables.load(s, dir, "documents")
    val base = scratchDir(s, "r65", dir)
    val stage = new java.io.File(base, "stage")
    docsStatic.repartition(4).write.mode("overwrite")
      .parquet(stage.getAbsolutePath)
    val parts = stage.listFiles.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val src = new java.io.File(base, "src"); src.mkdirs()
    val out = new java.io.File(base, "out").getAbsolutePath
    val cp = new java.io.File(base, "cp").getAbsolutePath
    val w = graft.Tables.normalize("documents",
        s.readStream.schema(docsStatic.schema)
          .option("maxFilesPerTrigger", "1").parquet(src.getAbsolutePath))
      // per-batch rebalance before the tokenize+shingle+md5 map work
      // (r64's rationale; the rebalance is stateless, so the recovery
      // legs replay snapshot+changelog exactly as before)
      .repartition(StateParts)
      .select(col("source"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(col("source"), col("toks"),
        explode(when(size(col("toks")) >= n,
          sequence(lit(1), size(col("toks")) - (n - 1)))).as("__i"))
      .select(col("source"),
        md5(array_join(slice(col("toks"), col("__i"), lit(n)), " ")).as("h"))
    val agg = w.groupBy("source")
      .agg(ColumnBridge.column(graft.functions.ThetaSketchAgg(
          ColumnBridge.expression(col("h")), lgNomEntries = 14)
        .toAggregateExpression()).as("h_sketch"))
    def leg(name: String, files: Seq[java.io.File]): Long = {
      files.foreach(f => org.apache.commons.io.FileUtils.copyFile(f,
        new java.io.File(src, f.getName)))
      withStatePartitions(s, StateParts) {
        val q = agg.writeStream
          .foreachBatch((b: DataFrame, _: Long) =>
            b.write.mode("overwrite").parquet(out))
          .outputMode("complete").option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow()).start()
        drain(name, q)
      }
      progressByGate(name).map(_.numInputRows).sum
    }
    // split by STAGED ROW COUNTS, not file position: repartition(4)
    // over a skewed tiny corpus can stage an empty part file, and a
    // blind 2/2 split would then drain an empty leg — making the
    // in>0 assert report a test-setup artifact as a recovery bug.
    val partRows = parts.toSeq.map(stagedRowCount)
    // the staged parts PARTITION the corpus exactly, so their sum IS
    // the corpus row count (the r68 discipline) — no separate
    // docsStatic.count() scan (optimization r18)
    val totalRows = partRows.sum
    val cutAt = pickLegCut(partRows, "r65")
    val in1 = leg("r65_leg1", parts.take(cutAt))
    val in2 = leg("r65_leg2", parts.drop(cutAt))
    require(in1 > 0 && in2 > 0,
      s"r65: a leg drained no rows (leg1=$in1, leg2=$in2) — the " +
        "restart never exercised resumed state")
    require(in1 + in2 == totalRows,
      s"r65: legs read $in1 + $in2 rows of $totalRows — source " +
        "offsets were not resumed exactly-once across the restart")
    val sk = s.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val rows = for {
      (sa, ba) <- sk.toSeq
      (sb, bb) <- sk.toSeq
      if sa < sb
    } yield (sa, sb, graft.functions.ThetaIntersectEst.estimate(ba, bb))
    import s.implicits._
    rows.toDF("src_a", "src_b", "overlap").orderBy("src_a", "src_b")
  }
}

package graft.ingest

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The events-table storage layout and Replacing write path — the Spark
  * equivalent of the reference's table engine
  * (`ReplacingMergeTree(from_api) PARTITION BY toYYYYMM(created_at)
  * ORDER BY (...)`, reference: app/service/log_importer.ts:120-127).
  *
  * Layout choices and their 100-TB rationale:
  *  - Hive-style `month_key=YYYYMM` partitions → partition pruning for
  *    any `created_at` range predicate (the ClickHouse PARTITION BY
  *    analogue, free in Spark's file index).
  *  - `sortWithinPartitions(orderByKey)` before write → Parquet
  *    row-group min/max stats on the key columns act like the sparse
  *    primary index (index_granularity analogue; SURVEY §4): point
  *    lookups on platform/repo/actor skip row groups.
  *  - Replacing semantics are applied eagerly per write ([[merge]]):
  *    the stored relation is always fully deduplicated, which is the
  *    documented divergence from ClickHouse's lazy merge (SURVEY §1.4)
  *    — queries here never see pre-merge duplicates.
  *  - Per-batch ingest touches only the month partitions present in
  *    the batch (dynamic partition overwrite), so a backfill of one
  *    hour rewrites one month, not the table.
  */
object EventsWriter {

  val partitionCol = "month_key"

  /** Dedup key = the ClickHouse ORDER BY key (EventsSchema.orderByKey);
    * version column = from_api (API row wins over log row); event id as
    * the deterministic tie-break (ClickHouse keeps an arbitrary row —
    * we pin the newest id). Standalone entry point for deduplicating a
    * relation OUTSIDE the write path (e.g. a foreign table dump);
    * [[merge]] itself uses [[dedupShaped]], the same contract fused
    * into the write's range exchange.
    */
  def dedup(df: DataFrame): DataFrame =
    Dedup.replacingDedupAgg(
      df, EventsSchema.orderByKey,
      struct(col("from_api"), col("id")))

  def withMonthKey(df: DataFrame): DataFrame =
    df.withColumn(partitionCol, date_format(col("created_at"), "yyyyMM").cast("int"))

  /** Initialize / append a batch into the partitioned events table.
    * `overwritePartitions=true` replaces only the month partitions the
    * batch touches (requires the batch to be the *merged* content of
    * those partitions — see [[merge]]).
    */
  def write(batch: DataFrame, path: String,
      overwritePartitions: Boolean = false): Unit = {
    val keyed = withMonthKey(batch)
    // Range-partition on (month, ORDER BY key): rows of one month land in
    // contiguous partitions, so partitionBy still writes clean month dirs,
    // but a hot month spans MANY tasks — a hash repartition on month alone
    // would funnel each month through a single straggler task writing one
    // giant file, capping write parallelism at #months at 100-TB scale.
    val sortCols =
      (EventsSchema.orderByKey.filterNot(_ == partitionCol) :+ "id").map(col)
    writeShaped(
      keyed
        .repartitionByRange((col(partitionCol) +: sortCols): _*)
        .sortWithinPartitions(sortCols: _*),
      path, overwritePartitions)
  }

  /** The sink leg shared by [[write]] and [[merge]]: the input must
    * already be partitioned/ordered to the layout contract.
    */
  private def writeShaped(shaped: DataFrame, path: String,
      overwritePartitions: Boolean): Unit = {
    shaped.sparkSession.conf
      .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    shaped.write
      .mode(if (overwritePartitions) SaveMode.Overwrite else SaveMode.Append)
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** Replacing dedup FUSED into the write shape: one range exchange on
    * (month, ORDER BY key) — which the layout needs anyway — then a
    * row_number window whose clustering requirement is already
    * satisfied by that exchange, so dedup adds NO extra shuffle and,
    * unlike the `max_by(struct(95 cols))` aggregate form, never
    * assembles whole-row structs (measured: the aggregate form alone
    * cost 4× this entire fused pipeline on a 1M-row batch; Spark's
    * WindowGroupLimit also drops losing duplicates before the window
    * materializes). Output order per partition is (month, key,
    * from_api DESC, id DESC) — the month_key prefix means the dynamic
    * partitionBy writer adds no extra sort, and parquet row-group
    * min/max stats on the key columns are preserved.
    */
  private[ingest] def dedupShaped(keyed: DataFrame): DataFrame = {
    val parts = (partitionCol +:
      EventsSchema.orderByKey.filterNot(_ == partitionCol)).map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(parts: _*)
      .orderBy(col("from_api").desc, col("id").desc)
    keyed
      .repartitionByRange(parts: _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Replacing merge of a new batch into an existing table: read back
    * only the month partitions the batch touches (partition pruning),
    * union, dedup on the ORDER BY key keeping max (from_api, id), and
    * overwrite exactly those partitions. This is the eager equivalent
    * of ClickHouse's merge-time dedup + the explicit
    * `OPTIMIZE TABLE ... DEDUPLICATE` (reference:
    * app/service/gitee_importer.ts:426).
    *
    * The batch is materialized once (`localCheckpoint`): the
    * range-partitioner's sampling and the write both consume it, and
    * for an ingest batch the upstream is the JSON parse, which would
    * otherwise run twice. localCheckpoint, NOT persist: persist's
    * in-memory-columnar conversion on this ~95-col nested schema costs
    * more than a parse pass; the checkpoint stores raw UnsafeRows. The
    * batch's month set is observed during that materialization
    * (`Dataset.observe`), so it costs no job of its own, and is exact:
    * every month the write overwrites is one the merge read back. The
    * table is read back with the batch's schema, so no job infers it
    * from parquet footers. (The existing months are left uncached:
    * parquet re-scans are columnar, splittable and cheap relative to
    * re-parsing.)
    */
  def merge(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val observed = withMonthKey(batch)
      .observe("months", collect_set(col(partitionCol)))
    val keyedBatch = observed.localCheckpoint()
    try {
      val months = observed.queryExecution.observedMetrics("months").getSeq[Int](0)
      val existing =
        try {
          val t = spark.read.schema(keyedBatch.schema).parquet(path)
          Some(t.filter(col(partitionCol).isin(months: _*)))
        } catch { case _: org.apache.spark.sql.AnalysisException => None }
      val unioned = existing match {
        case Some(old) => old.unionByName(keyedBatch)
        case None => keyedBatch
      }
      writeShaped(dedupShaped(unioned), path,
        overwritePartitions = existing.isDefined)
    } finally Dedup.unpersistCheckpoint(keyedBatch)
  }

  /** Compaction — the background-merge analogue of the reference's
    * MergeTree engine (ClickHouse folds small parts continuously;
    * `OPTIMIZE TABLE` forces it). Nothing here appends: [[merge]]
    * overwrites every month it touches, writing one file per range
    * partition that holds rows of that month. A month thus exceeds
    * `maxFilesPerMonth` files only when one merge spread it over more
    * range partitions than that, or when [[write]] appended into it.
    * This rewrites every such month through [[write]] (range
    * partitioning + within-file sort). Touched months only — dynamic
    * partition overwrite, like [[merge]]. Uses the Hadoop FileSystem
    * API, so the same code compacts local dirs, HDFS, or object stores.
    * Returns the compacted month keys.
    */
  def compact(spark: SparkSession, path: String,
      maxFilesPerMonth: Int = 8): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return Seq.empty
    val months = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partitionCol="))
      .map { s =>
        val files = fs.listStatus(s.getPath)
          .count(f => f.getPath.getName.endsWith(".parquet"))
        (s.getPath.getName.stripPrefix(s"$partitionCol=").toInt, files)
      }
    val toCompact = months.collect { case (m, files) if files > maxFilesPerMonth => m }
    if (toCompact.nonEmpty) {
      val slice = spark.read.parquet(path)
        .filter(col(partitionCol).isin(toCompact: _*))
        .drop(partitionCol) // write() re-derives it from created_at
      write(slice, path, overwritePartitions = true)
    }
    toCompact.sorted
  }
}

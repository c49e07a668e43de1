package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every loader takes the scale-factor directory so the same code runs at
  * sf0.001 (smoke), sf0.01 (oracle) and sf0.1 (bench) — and, unchanged, on
  * a cluster path at full scale. Reads are plain parquet scans: Catalyst
  * handles column pruning + predicate pushdown, so loaders never
  * pre-select columns.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(name, spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Scale-adaptive post-read rebalance (optimization guide §2.5
    * "input skew": one huge unsplittable file → repartition
    * immediately after the read). A parquet ROW GROUP is the scan's
    * atomic split unit and the testdata ships each table as a SINGLE
    * row group — so however many byte-range splits the planner makes,
    * exactly one task decodes rows, and every fused map stage above
    * the scan (signature hashing, tokenization, JSON extraction,
    * image synth+decode, join probes against broadcast sides) runs on
    * ONE core of local[N]. The measured tell was the 8-vs-32-core
    * bench ratio ≈ 1.0 on the CPU-heavy dedup/text gates. A
    * round-robin repartition to the default parallelism spreads the
    * rows across the cores.
    *
    * Size-gated to stay scale-correct: it fires only while the file
    * bytes are below cores × maxPartitionBytes — exactly the regime
    * where the scan cannot fill the cores by itself and the rebalance
    * is cheap by construction (less than one scan split per core
    * crosses the wire). At deployment scale inputs exceed the gate,
    * the natural row-group parallelism decides, and no corpus-wide
    * shuffle is ever introduced. Round-robin keeps results identical:
    * placement is load balancing, never semantics (Spark's
    * sort-before-repartition keeps the assignment deterministic under
    * task retries — SPARK-23207).
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sz < BigInt(cores) * maxSplit) df.repartition(cores) else df
  }

  /** Normalize timestamp layouts across testdata generations:
    *  - events.ts as nanos-since-epoch longs (parquet nanos unit);
    *  - any naive (NTZ) timestamp column, read by a session that has
    *    inferTimestampNTZ on — cast to TIMESTAMP, lossless because the
    *    engine pins the session tz to UTC (GraftSession).
    * Shared with the STREAMING readers (StreamingQueries), which must
    * apply the same expressions on top of the RAW file schema — a
    * schema-only carry-over would make the streaming scan reject the
    * layouts this function exists to absorb.
    */
  def normalize(name: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val tsFixed =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      else df
    val ntzCols = tsFixed.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntzCols.foldLeft(tsFixed)((d, c) =>
      d.withColumn(c, col(c).cast(TimestampType)))
  }

  /** Register every table as a temp view so `spark.sql` works against the
    * full surface (reference's documented POST /query endpoint — SURVEY
    * B21, reference: README.md:72).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

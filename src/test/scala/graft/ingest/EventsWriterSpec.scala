package graft.ingest

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Write-path parallelism: a hot month must span multiple write tasks.
  * The old `repartition(month_key)` hashed every row of a month into ONE
  * shuffle partition — one straggler task, one giant file; range
  * partitioning on (month, ORDER BY key) restores parallel writes while
  * keeping the month dirs and the within-file sort.
  */
class EventsWriterSpec extends SparkTestBase {

  test("a single hot month is written by multiple tasks, sorted within files") {
    val dir = java.nio.file.Files.createTempDirectory("evw").toFile
    val path = new java.io.File(dir, "events").getAbsolutePath
    val batch = GiteeTestRows.densify(
      spark.range(2000).select(
        col("id"),
        col("id").as("actor_id"),
        (col("id") % 50).as("repo_id"),
        to_timestamp(lit("2015-01-15 10:00:00")).as("created_at")))
    // AQE rightly coalesces 2000 tiny rows into one partition (sizing is
    // data-driven); disable coalescing here to observe that the RANGE
    // scheme itself — unlike hash-on-month — spreads one month over
    // many tasks once there is data to justify them.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try EventsWriter.write(batch, path)
    finally prev.fold(spark.conf.unset(coalesceKey))(spark.conf.set(coalesceKey, _))

    val monthDir = new java.io.File(path, "month_key=201501")
    val files = monthDir.listFiles.filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1, "hot month must not serialize into one task/file")

    val back = spark.read.parquet(path)
    assert(back.count() === 2000L)
    // within each file, rows are sorted by the ORDER BY key prefix
    // (repo_id, actor_id here) — the row-group-stats / sparse-index
    // property the single-task writer provided must survive the split
    files.foreach { f =>
      val keys = spark.read.parquet(f.getAbsolutePath)
        .select("repo_id", "actor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(keys === keys.sorted, s"file ${f.getName} not sorted")
    }
  }

  test("compact folds many small per-batch files into few, content-identical") {
    val dir = java.nio.file.Files.createTempDirectory("evc").toFile
    val path = new java.io.File(dir, "events").getAbsolutePath
    // 12 tiny appends into one month + 1 into another → many small files
    (0 until 12).foreach { b =>
      val batch = GiteeTestRows.densify(
        spark.range(b * 10, b * 10 + 10).select(
          col("id"), col("id").as("actor_id"),
          to_timestamp(lit("2015-03-10 10:00:00")).as("created_at")))
      EventsWriter.write(batch, path)
    }
    EventsWriter.write(GiteeTestRows.densify(
      spark.range(500, 510).select(col("id"), col("id").as("actor_id"),
        to_timestamp(lit("2015-04-01 10:00:00")).as("created_at"))), path)

    def files(month: String) =
      new java.io.File(path, s"month_key=$month").listFiles
        .count(_.getName.endsWith(".parquet"))
    assert(files("201503") >= 12)
    // order-insensitive hash over every column of every row
    def tableHash(): String = graft.Verify.resultHash(spark.read.parquet(path))
    val before = tableHash()

    val compacted = EventsWriter.compact(spark, path, maxFilesPerMonth = 8)
    assert(compacted === Seq(201503)) // 201504 has 1 file — untouched
    assert(files("201503") < 12)
    assert(tableHash() === before)
    // an empty batch (an hour whose lines all parse away) overwrites no month
    EventsWriter.merge(spark.read.parquet(path).drop("month_key").limit(0), path)
    assert(tableHash() === before)

    // idempotent once under the limit
    assert(EventsWriter.compact(spark, path, maxFilesPerMonth = 8) === Seq.empty)
  }

  test("fused merge dedup: ONE shuffle, window group-limit, no agg struct assembly") {
    // the plan contract behind the 76M-records/hour number: the
    // Replacing dedup must ride the write's range exchange, not add a
    // hash exchange + max_by(struct(*)) aggregate of its own
    val batch = GiteeTestRows.densify(
      spark.range(100).select(
        col("id"),
        col("id").as("actor_id"),
        (col("id") % 5).as("repo_id"),
        to_timestamp(lit("2015-01-15 10:00:00")).as("created_at")))
    // localCheckpoint like merge does: constant-foldable literal columns
    // would otherwise drop out of the window partition spec and defeat
    // the range-satisfies-clustering rule this test pins
    val keyed = EventsWriter.withMonthKey(batch).localCheckpoint()
    val plan = EventsWriter.dedupShaped(keyed)
      .queryExecution.executedPlan
    val s = plan.toString
    val exchanges = "Exchange (range|hash)partitioning".r.findAllIn(s).toSeq
    assert(exchanges.size === 1, s"expected exactly one exchange, got: $exchanges")
    assert(exchanges.head.contains("rangepartitioning"))
    assert(s.contains("WindowGroupLimit"), "rank-limit pushdown must prune losers")
    assert(!s.contains("max_by"), "dedup must not assemble whole-row structs")
    // dedup semantics unchanged: max (from_api, id) row survives per key
    val dup = batch.union(batch.withColumn("id", col("id") + 1000))
    val deduped = EventsWriter.dedupShaped(
      EventsWriter.withMonthKey(dup).localCheckpoint())
    assert(deduped.count() === 100L)
    assert(deduped.agg(min("id")).head.getLong(0) === 1000L, "newest id wins")
  }

  test("two months still land in separate partition dirs") {
    val dir = java.nio.file.Files.createTempDirectory("evw2").toFile
    val path = new java.io.File(dir, "events").getAbsolutePath
    import spark.implicits._
    val batch = GiteeTestRows.densify(Seq(
      (1L, "2015-01-01 10:00:00"), (2L, "2015-02-01 10:00:00"))
      .toDF("seed", "s")
      .select(col("seed").as("id"), col("seed").as("actor_id"),
        to_timestamp(col("s")).as("created_at")))
    EventsWriter.write(batch, path)
    assert(new java.io.File(path, "month_key=201501").exists)
    assert(new java.io.File(path, "month_key=201502").exists)
    assert(spark.read.parquet(path).count() === 2L)
  }
}

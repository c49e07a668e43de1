package graft.streaming

import graft.SparkTestBase
import graft.operators.IncrementalRollup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming rollup: micro-batches fold into a generation-versioned
  * state table; the result equals a flat aggregation over everything
  * that streamed through, and a replayed batch never double-counts.
  */
class StreamingRollupSpec extends SparkTestBase {
  import spark.implicits._

  test("stream folds batch-by-batch; final state == flat GROUP BY; " +
      "replayed batch is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("roll").toFile
    val stateDir = new java.io.File(dir, "state").getAbsolutePath
    val ckpt = new java.io.File(dir, "ckpt").getAbsolutePath

    val b1 = Seq(("a", 10.0, 1L), ("a", 20.0, 2L), ("b", 5.0, 1L))
    val b2 = Seq(("a", 30.0, 2L), ("b", 7.0, 3L), ("c", 1.0, 9L))

    val in = MemoryStream[(String, Double, Long)](spark)
    val (sink, q) = StreamingRollup.start(
      in.toDF.toDF("k", "v", "u"),
      dims = Seq("k"), valueCol = "v", distinctCol = "u",
      stateDir = stateDir, checkpointDir = ckpt)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      assert(sink.lastBatchId(spark) === 0L)
      in.addData(b2: _*); q.processAllAvailable()
      assert(sink.lastBatchId(spark) === 1L)
    } finally q.stop()

    // finalized aggregates == one flat aggregation over ALL rows
    val got = sink.aggregates(spark).get
      .select("k", "n", "sum_v", "min_v", "max_v", "uniq")
      .orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSeq
    val flat = (b1 ++ b2).toDF("k", "v", "u")
      .groupBy("k").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(28,6)")).cast("double").as("sum_v"),
        min("v").as("min_v"), max("v").as("max_v"),
        countDistinct("u").as("uniq"))
      .orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSeq
    assert(got === flat)

    // replay protection: re-delivering an old batch id changes nothing
    val before = sink.aggregates(spark).get.orderBy("k").collect().toSeq
    sink.processBatch(b1.toDF("k", "v", "u"), batchId = 0L)
    sink.processBatch(b2.toDF("k", "v", "u"), batchId = 1L)
    val after = sink.aggregates(spark).get.orderBy("k").collect().toSeq
    assert(after === before)

    // only one generation dir remains after cleanup
    val gens = new java.io.File(stateDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("state_"))
    assert(gens.length === 1 && gens.head.getName === "state_1")
  }

  test("a crash before a batch's commit marker leaves the last committed " +
      "generation current; the replayed batch folds onto it") {
    val stateDir = new java.io.File(
      java.nio.file.Files.createTempDirectory("rollcrash").toFile, "state").getAbsolutePath
    val sink = new StreamingRollup.RollupSink(Seq("k"), "v", "u", stateDir)
    val b1 = Seq(("a", 10.0, 1L), ("b", 5.0, 1L)).toDF("k", "v", "u")
    val b2 = Seq(("a", 30.0, 2L), ("c", 1.0, 9L)).toDF("k", "v", "u")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "n", "sum_v", "uniq").orderBy("k").collect().toSeq
    def expected(b: org.apache.spark.sql.DataFrame) =
      rows(IncrementalRollup.finalizeAggs(IncrementalRollup.partials(b, Seq("k"), "v", "u")))
    sink.processBatch(b1, batchId = 0L)

    // batch 1 wrote its generation and stopped before committing it; the
    // generation holds only its own rows, as a fold onto lost history would
    IncrementalRollup.partials(b2, Seq("k"), "v", "u")
      .write.parquet(s"$stateDir/state_1")
    assert(sink.lastBatchId(spark) === 0L)
    assert(rows(sink.aggregates(spark).get) === expected(b1))

    // the restart re-delivers batch 1: it folds onto generation 0
    sink.processBatch(b2, batchId = 1L)
    assert(sink.lastBatchId(spark) === 1L)
    assert(rows(sink.aggregates(spark).get) === expected(b1.union(b2)))
    val left = new java.io.File(stateDir).list().filterNot(_.startsWith(".")).sorted.toSeq
    assert(left === Seq("_commit_1", "state_1"))

    // a crash after a commit, before its cleanup: the newest marker wins
    new java.io.File(stateDir, "_commit_0").createNewFile()
    assert(sink.lastBatchId(spark) === 1L)
    assert(rows(sink.aggregates(spark).get) === expected(b1.union(b2)))
  }
}

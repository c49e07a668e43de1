package graft.streaming

import graft.operators.IncrementalRollup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental rollup — the AggregatingMergeTree `-State` /
  * `-Merge` pattern ([[IncrementalRollup]], gate r30) run continuously:
  * each micro-batch's partial states fold into a persistent state
  * table, so history is NEVER rescanned; the stored table stays
  * group-count-sized regardless of how many rows streamed through.
  * This is the streaming face of the reference's continuously-
  * scheduled rollup ingestion (hourly batches folding into serving
  * tables).
  *
  * `foreachBatch` is the right sink: the merge needs the PREVIOUS
  * state generation as input, which no declarative sink exposes.
  * Exactly-once then has to be built, and is, via generation dirs:
  *
  *  - each batch writes a complete new generation `state_<batchId>`;
  *  - only after its parquet is fully written does an empty marker
  *    `_commit_<batchId>` activate it: the current generation is the
  *    one of the highest marker. Creating a file is atomic on every
  *    filesystem, and no step removes the last marker before a newer
  *    one exists. (A single overwritten pointer file is not enough:
  *    Hadoop's rename with `Options.Rename.OVERWRITE` deletes the target
  *    and then renames on filesystems without a native overwriting
  *    rename, the local one included — the same window.);
  *  - a REPLAYED batch (restart from checkpoint re-delivers the last
  *    uncommitted batch) is detected by `batchId <= lastBatchId` and
  *    skipped — merging it twice would double-count, the classic
  *    foreachBatch pitfall;
  *  - older generations and markers are deleted best-effort after the
  *    new marker exists; a crash at any point leaves the highest marker
  *    naming a complete generation.
  */
object StreamingRollup {

  /** Stateful sink over a generation-versioned rollup table. Public
    * methods are also the unit-test surface (processBatch is called
    * directly to exercise replay protection without forcing a real
    * checkpoint recovery).
    */
  final class RollupSink(dims: Seq[String], valueCol: String,
      distinctCol: String, stateDir: String) extends Serializable {

    private def fs(spark: SparkSession) =
      new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    private val commitPrefix = "_commit_"

    /** Batch ids of the commit markers; empty before the first commit. */
    private def committed(spark: SparkSession): Seq[Long] = {
      val f = fs(spark); val dir = new Path(stateDir)
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(commitPrefix)).map(_.stripPrefix(commitPrefix).toLong)
    }

    private def currentGen(spark: SparkSession): Option[String] =
      committed(spark).maxOption.map(id => s"state_$id")

    /** Highest batch id folded into the current generation; -1 before
      * the first commit.
      */
    def lastBatchId(spark: SparkSession): Long =
      currentGen(spark).map(_.stripPrefix("state_").toLong).getOrElse(-1L)

    /** The current state table, if any generation has committed. */
    def state(spark: SparkSession): Option[DataFrame] =
      currentGen(spark).map(g => spark.read.parquet(s"$stateDir/$g"))

    /** Finalized user-facing aggregates of the current state. */
    def aggregates(spark: SparkSession): Option[DataFrame] =
      state(spark).map(IncrementalRollup.finalizeAggs)

    def processBatch(batch: Dataset[Row], batchId: Long): Unit = {
      val spark = batch.sparkSession
      val last = lastBatchId(spark)
      if (batchId <= last) return // replayed batch: already folded
      val fresh = IncrementalRollup.partials(
        batch.toDF(), dims, valueCol, distinctCol)
      val merged = state(spark) match {
        case Some(prev) => IncrementalRollup.merge(prev, fresh)
        case None => fresh
      }
      val gen = s"state_$batchId"
      merged.write.mode("overwrite").parquet(s"$stateDir/$gen")
      // activate it: an atomic create of a marker no earlier step made
      val f = fs(spark)
      f.create(new Path(stateDir, s"$commitPrefix$batchId"), true).close()
      // best-effort cleanup of superseded generations, then their markers
      f.listStatus(new Path(stateDir))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("state_")
          && s.getPath.getName != gen)
        .foreach(s => f.delete(s.getPath, true))
      committed(spark).filter(_ != batchId)
        .foreach(id => f.delete(new Path(stateDir, s"$commitPrefix$id"), false))
    }
  }

  /** Start the rollup: every micro-batch of `stream` folds into the
    * state table at `stateDir`. Query results come from
    * `sink.aggregates(spark)` at any time (they reflect the last
    * committed generation).
    */
  def start(stream: DataFrame, dims: Seq[String], valueCol: String,
      distinctCol: String, stateDir: String,
      checkpointDir: String): (RollupSink, StreamingQuery) = {
    val sink = new RollupSink(dims, valueCol, distinctCol, stateDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: Dataset[Row], id: Long) => sink.processBatch(b, id))
      .start()
    (sink, q)
  }
}

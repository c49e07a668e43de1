package graft.streaming

import graft.functions.ChMatView
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A registered [[ChMatView]] maintained CONTINUOUSLY from a stream —
  * ClickHouse's materialized view is already an insert trigger, so the
  * streaming spelling is exactly `foreachBatch(applyBlock)`: each
  * micro-batch is one inserted block whose partial aggregates append
  * to the target, and reads merge via [[ChMatView.readMerged]].
  *
  * Replay protection: a restart from checkpoint re-delivers the last
  * uncommitted batch; appending its partials twice would double-count
  * (the foreachBatch pitfall [[StreamingRollup]] documents). A
  * batch-id pointer file (temp + atomic rename) skips batches already
  * applied. The crash window between the target append and the
  * pointer swap leaves AT-LEAST-ONCE semantics — the same contract as
  * ClickHouse itself, whose MV inserts into non-replicated tables
  * double-apply on insert retry (replicated CH dedups by block hash;
  * an idempotent-append analogue here would need a transactional
  * table format, out of scope by design).
  */
object StreamingMatView {

  /** Start the continuous maintenance query. `stateDir` holds both
    * the checkpoint and the replay-guard pointer.
    */
  def maintain(spark: SparkSession, name: String, source: DataFrame,
      stateDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", s"$stateDir/ckpt")
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        processBatch(spark, name, df, id, stateDir); ()
      }
      .start()

  /** One micro-batch = one MV insert block. Returns true when the
    * block was applied, false when skipped as a replay. Public as the
    * unit-test surface (same pattern as StreamingRollup.processBatch).
    */
  def processBatch(spark: SparkSession, name: String, block: DataFrame,
      batchId: Long, stateDir: String): Boolean = {
    if (batchId <= lastBatchId(spark, stateDir)) return false
    ChMatView.applyBlock(spark, name, block)
    commitBatchId(spark, stateDir, batchId)
    true
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pointer(dir: String) = new Path(dir, "_mv_last_batch")

  private def tmpPointer(dir: String) = new Path(dir, "_mv_last_batch.tmp")

  def lastBatchId(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    def readLong(p: Path): Option[Long] =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        // a torn tmp write can leave non-numeric bytes — treat as absent
        try scala.util.Try(
          scala.io.Source.fromInputStream(in).mkString.trim.toLong).toOption
        finally in.close()
      }
    // The .tmp fallback covers the commit crash window: a fully-written
    // tmp that never got renamed still records the applied batch, so a
    // restart doesn't lose the replay guard entirely. A pointer AND a
    // newer tmp can coexist (crash between write and rename) — take max.
    (readLong(pointer(dir)).toSeq ++ readLong(tmpPointer(dir)).toSeq)
      .foldLeft(-1L)(math.max)
  }

  private def commitBatchId(spark: SparkSession, dir: String,
      id: Long): Unit = {
    val f = fs(spark, dir)
    val tmp = tmpPointer(dir)
    val out = f.create(tmp, true)
    try out.write(id.toString.getBytes("UTF-8")) finally out.close()
    // Overwriting rename via FileContext + Options.Rename.OVERWRITE. It
    // is not atomic everywhere: on a filesystem without a native
    // overwriting rename (the local one included)
    // AbstractFileSystem.renameInternal deletes the pointer and then
    // renames, so a crash can leave the pointer absent. The .tmp
    // fallback in lastBatchId closes that window, and the one of the
    // explicit delete+rename below, used when FileContext is
    // unavailable for the scheme.
    try {
      org.apache.hadoop.fs.FileContext
        .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, pointer(dir),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        f.delete(pointer(dir), false)
        // rename can fail by RETURNING false (no exception) on some
        // filesystems — surface it: a silently-absent pointer would
        // leave only the .tmp fallback guarding replay
        if (!f.rename(tmp, pointer(dir)))
          throw new java.io.IOException(
            s"matview pointer swap failed: rename($tmp -> ${pointer(dir)}) " +
              "returned false; the .tmp fallback still records the batch")
    }
  }
}

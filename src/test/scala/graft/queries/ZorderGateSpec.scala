package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** r73's skipping contract (round-16 VERDICT #4): the gate + oracle
  * prove the z-ordered layout is answer-invariant; THIS spec proves it
  * actually skips — each probe must decode a bounded fraction of the
  * table's rows, because the Morton-clustered write gives every file a
  * tight (user_id, event_id) bounding box and parquet row-group stats
  * prune on whichever dimension the predicate names. A linear
  * single-key sort would pass only one of the two probes; an
  * unclustered write would pass neither.
  */
class ZorderGateSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"

  test("r73: both z-order probes decode a bounded fraction of the table") {
    val path = RefQueries.zorderedFor(spark, dir) // build untimed
    val total = spark.read.parquet(path).count()
    val b = graft.Tables.load(spark, dir, "events")
      .agg(max("user_id"), min("event_id")).first()
    val (pu, eHi) = (b.getLong(0), b.getLong(1) + 999L)
    def metered(pred: org.apache.spark.sql.Column): Long = {
      val (rows, read) = inputRecords(spark.read.parquet(path).filter(pred)
        .agg(count(lit(1)).as("n")).first().getLong(0))
      assert(rows > 0, "vacuous probe — the bound would hold trivially")
      read
    }
    // bound = 60%: at 32 files the z-curve bounds each probe to the
    // files whose box admits it (~1/√32 of the span per dimension in
    // the balanced case — measured ~20-40% at sf0.01 including the
    // box-edge overlap); 60% holds headroom for data-shape drift
    // while still failing hard if clustering is lost (a probe over
    // an unclustered layout decodes ~100%)
    val uRows = metered(col("user_id") === pu)
    assert(uRows.toDouble < total * 0.6,
      s"user-point probe decoded $uRows of $total rows — the " +
        "z-order layout is not pruning on user_id")
    val eRows = metered(col("event_id") <= eHi)
    assert(eRows.toDouble < total * 0.6,
      s"event-range probe decoded $eRows of $total rows — the " +
        "z-order layout is not pruning on event_id")
  }
}

package graft.ingest

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** File-pipeline state operators (SURVEY A1/A2/A23). The hour-count
  * test is the counterpart of the reference's single unit test
  * (reference: test/app/service/file_processor.test.ts:12-20).
  */
class FilePipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("A1: one path per hour, correct format, leap year handled") {
    val hours = FilePipeline.enumerateHours("2015-01-01 00:00:00", "2015-01-02 00:00:00")
    assert(hours.length === 24)
    assert(hours.head._1 === "2015/01/01/2015-01-01-0.json.gz")
    assert(hours.last._1 === "2015/01/01/2015-01-01-23.json.gz")
    assert(hours.head._2 === 2015010100L)
    // leap day exists
    val feb = FilePipeline.enumerateHours("2016-02-28 00:00:00", "2016-03-01 00:00:00").length
    assert(feb === 48) // 28th + 29th
  }

  test("A2: discover marks unknown files NeedDownload") {
    val expected = FilePipeline.enumerateHours("2015-01-01 00:00:00", "2015-01-01 03:00:00")
    val discovered = FilePipeline.discover(expected, Set("2015/01/01/2015-01-01-0.json.gz"))
    assert(discovered.length === 2)
    assert(discovered.forall(_._3 === FilePipeline.Status.NeedDownload))
  }

  test("A23: reconcile resets imported-but-absent hours to Verified") {
    val meta = Seq(
      ("2015/01/01/2015-01-01-0.json.gz", 2015010100L, FilePipeline.Status.Imported),
      ("2015/01/01/2015-01-01-1.json.gz", 2015010101L, FilePipeline.Status.Imported))
      .toDF("path", "hour_key", "status")
    // events contain only hour 0
    val events = Seq("2015-01-01 00:30:00").toDF("s")
      .select(to_timestamp(col("s")).as("created_at"))
    val reset = FilePipeline.reconcile(meta, events).collect()
    assert(reset.length === 1)
    assert(reset(0).getAs[String]("path").endsWith("-1.json.gz"))
    assert(reset(0).getAs[Int]("status") === FilePipeline.Status.Verified)
  }
}

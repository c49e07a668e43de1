package graft.ingest

import graft.SparkTestBase
import java.io.{File, FileOutputStream}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.functions._

/** File-pipeline state operators (SURVEY A1/A2/A4/A23). The hour-count
  * test is the counterpart of the reference's single unit test
  * (reference: test/app/service/file_processor.test.ts:12-20).
  */
class FilePipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val good =
    """{"id":"1","type":"WatchEvent","actor":{"id":1,"login":"a"},"repo":{"id":2,"name":"r"},"created_at":"2015-01-01T00:00:00Z","payload":{"action":"started"}}"""

  /** A gzip hour file holding `lines` joined by newlines. */
  private def hourFile(lines: Seq[String]): String = {
    val f = File.createTempFile("hour", ".json.gz")
    val out = new GZIPOutputStream(new FileOutputStream(f))
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    f.getAbsolutePath
  }

  /** `validate` on one file holding `good`, `line` and `good` again:
    * (total_lines, corrupt_lines, valid).
    */
  private def validated(line: String): (Long, Long, Boolean) = {
    val r = FilePipeline.validate(spark, Seq(hourFile(Seq(good, line, good)))).collect()
    assert(r.length === 1)
    (r(0).getAs[Long]("total_lines"), r(0).getAs[Long]("corrupt_lines"),
      r(0).getAs[Boolean]("valid"))
  }

  test("A4: a truncated line makes its file corrupt") {
    assert(validated("""{"id":"2","type":"Wat""") === ((3L, 1L, false)))
  }

  test("A4: a non-JSON line makes its file corrupt") {
    assert(validated("not json at all") === ((3L, 1L, false)))
  }

  test("A4: {} is corrupt: id, type and created_at are all null") {
    assert(validated("{}") === ((3L, 1L, false)))
  }

  test("A4: a blank line in the middle of a file is a corrupt line") {
    assert(validated("") === ((3L, 1L, false)))
  }

  test("A4: a nested type mismatch leaves the line valid") {
    val mismatch =
      """{"id":"3","type":"IssuesEvent","actor":{"id":1,"login":"a"},"repo":{"id":2,"name":"r"},"created_at":"2015-01-01T00:00:00Z","payload":{"issue":{"id":1,"number":"abc"}}}"""
    assert(validated(mismatch) === ((3L, 0L, true)))
  }

  test("A4: an empty hour file gets no row, so it is never marked valid") {
    assert(FilePipeline.validate(spark, Seq(hourFile(Nil))).count() === 0L)
  }

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

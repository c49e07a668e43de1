package graft.pipeline

import graft.SparkTestBase
import graft.ingest.FilePipeline.Status

/** Pins `Downloader`'s selection policy: NeedDownload only, a
  * six-calendar-month cutoff, a limit, and a seeded shuffle.
  */
class DownloaderSpec extends SparkTestBase {
  import spark.implicits._

  private def meta(rows: (Long, Int)*) =
    rows.map { case (hk, st) => (s"h$hk.json.gz", hk, st) }
      .toDF("path", "hour_key", "status")

  private def paths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("path").as[String].collect().toSeq

  test("select keeps only NeedDownload rows") {
    val m = meta(2015010100L -> Status.NeedDownload, 2015010101L -> Status.Downloaded,
      2015010102L -> Status.Verified, 2015010103L -> Status.Imported,
      2015010104L -> Status.NeedDownload)
    assert(paths(Downloader.select(m, 2015010200L)).sorted ===
      Seq("h2015010100.json.gz", "h2015010104.json.gz"))
  }

  test("select drops hours more than 6 calendar months back and keeps the boundary hour") {
    val mid = meta(2014121512L -> Status.NeedDownload, 2014121511L -> Status.NeedDownload)
    assert(paths(Downloader.select(mid, 2015061512L)) === Seq("h2014121512.json.gz"))
    // March 31 minus 6 months clamps to September 30
    val endOfMonth = meta(2014093012L -> Status.NeedDownload,
      2014093011L -> Status.NeedDownload, 2014100100L -> Status.NeedDownload)
    assert(paths(Downloader.select(endOfMonth, 2015033112L)).sorted ===
      Seq("h2014093012.json.gz", "h2014100100.json.gz"))
  }

  private val twenty =
    meta((0 until 20).map(h => (2015010100L + h) -> Status.NeedDownload): _*)

  test("select returns at most limit rows") {
    assert(Downloader.select(twenty, 2015010200L, limit = 5).count() === 5)
    assert(Downloader.select(twenty, 2015010200L, limit = 50).count() === 20)
  }

  test("select shuffles the candidates in the same order for the same seed") {
    val a = paths(Downloader.select(twenty, 2015010200L, seed = 7L))
    assert(a.size === 20)
    assert(a !== a.sorted)
    assert(paths(Downloader.select(twenty, 2015010200L, seed = 7L)) === a)
  }

  test("download returns Downloaded rows only for the paths the fetcher accepted") {
    val m = meta(2015010100L -> Status.NeedDownload, 2015010101L -> Status.NeedDownload,
      2015010102L -> Status.NeedDownload, 2015010103L -> Status.Imported)
    var asked = Set.empty[String]
    val fetch: Downloader.Fetcher = p => { asked += p; p != "h2015010101.json.gz" }
    val got = Downloader.download(m, 2015010200L, fetch)
      .select("path", "hour_key", "status").as[(String, Long, Int)].collect().toSeq
    assert(asked === Set("h2015010100.json.gz", "h2015010101.json.gz", "h2015010102.json.gz"))
    assert(got.sortBy(_._1) === Seq(("h2015010100.json.gz", 2015010100L, Status.Downloaded),
      ("h2015010102.json.gz", 2015010102L, Status.Downloaded)))
  }
}

package graft.serve

import graft.SparkTestBase
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** HTTP surface (SURVEY A32) driven over a real socket. */
class HttpServeSpec extends SparkTestBase {

  private def get(port: Int, path: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("db_schema, status, POST /query, and SQL-error path") {
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "name").createOrReplaceTempView("serve_t")
    val srv = new HttpServe(spark, 0)
    try {
      srv.start()
      val port = srv.boundPort

      val (c1, schema) = get(port, "/query/db_schema")
      assert(c1 === 200)
      assert(schema.contains(""""key":"actor_login"""") && schema.startsWith("["))

      val (c2, status) = get(port, "/status")
      assert(c2 === 200 && status.contains("ok"))

      // the CH health probe returns the literal Ok.
      val (cp, ping) = get(port, "/ping")
      assert(cp === 200 && ping === "Ok.\n")

      val (c3, rows) = post(port, "/query",
        "SELECT id, name FROM serve_t ORDER BY id")
      assert(c3 === 200)
      assert(rows.contains(""""id":1""") && rows.contains(""""name":"b""""))
      assert(rows.contains("time_ms"))

      val (c4, err) = post(port, "/query", "SELECT * FROM no_such_table")
      assert(c4 === 400 && err.contains("error"))

      // ClickHouse dialect runs verbatim over HTTP (LIMIT BY + bare
      // count() through the ChCompat.sql front-end)
      val (c5, ch) = post(port, "/query",
        "SELECT name, count() AS c FROM serve_t GROUP BY name " +
          "ORDER BY name LIMIT 1 BY name")
      assert(c5 === 200, ch)
      assert(ch.contains(""""name":"a"""") && ch.contains(""""c":1"""))
    } finally srv.stop()
  }

  test("README example endpoints: record_count, most_used_label, repo_activity") {
    import spark.implicits._
    // Minimal GH-shaped fixture: only the columns the example queries touch.
    Seq(
      // repo 1: actor 10 comments twice, opens an issue; actor 11's merged
      // PR is attributed to its author (issue_author_id = 10)
      (1L, "IssueCommentEvent", "created", false, 0L, 10L, Seq.empty[String]),
      (1L, "IssueCommentEvent", "created", false, 0L, 10L, Seq.empty[String]),
      (1L, "IssuesEvent", "opened", false, 0L, 10L, Seq.empty[String]),
      (1L, "PullRequestEvent", "closed", true, 10L, 11L, Seq("bug", "ci")),
      // repo 2: actor 20 opens a PR but never comments → dropped by the
      // LEFT-JOIN-from-comments row set
      (2L, "PullRequestEvent", "opened", false, 0L, 20L, Seq.empty[String]),
      (2L, "IssuesEvent", "closed", false, 0L, 21L, Seq("bug")))
      .toDF("repo_id", "type", "action", "pull_merged", "issue_author_id",
        "actor_id", "label_names")
      .selectExpr("repo_id", "type", "action", "pull_merged",
        "issue_author_id", "actor_id",
        "transform(label_names, n -> named_struct('name', n, 'color', '', " +
          "'default', false, 'description', '')) AS issue_labels")
      .createOrReplaceTempView("gh_fixture")

    val srv = new HttpServe(spark, 0)
    try {
      srv.start()
      val port = srv.boundPort

      val (c1, cnt) = get(port, "/query/record_count?table=gh_fixture")
      assert(c1 === 200)
      assert(cnt.contains(""""count":6""") && cnt.contains("time_ms")
        && cnt.contains("SELECT COUNT"))

      // closed IssuesEvent/PullRequestEvent rows carry labels bug,ci + bug
      val (c2, labels) = get(port, "/query/most_used_label?table=gh_fixture&topN=1")
      assert(c2 === 200)
      assert(labels.contains(""""label":"bug""""))
      assert(labels.contains(""""count":2"""))
      assert(!labels.contains(""""label":"ci"""")) // topN=1 honored

      // repo 1 / actor 10: icc=2, oic=1, mpc=1 → score 2+2+5=9 → sqrt=3.0;
      // repo 2 has no commenting actor → absent entirely
      val (c3, act) = get(port, "/query/repo_activity?table=gh_fixture")
      assert(c3 === 200)
      assert(act.contains(""""repo_id":1""") && act.contains(""""repo_activity":3.0"""))
      assert(!act.contains(""""repo_id":2"""))

      val (c4, bad) = get(port, "/query/record_count?table=no_such;drop")
      assert(c4 === 400 && bad.contains("invalid table"))
    } finally srv.stop()
  }

  test("computed /status document matches the reference formulas exactly") {
    import spark.implicits._
    import graft.ingest.FilePipeline.Status._
    // 2 NeedDownload, 1 Downloaded, 1 Verified, 4 Imported → total 8,
    // importFail = 8-4-2 = 2, missing = 2, missingRate = (8-4)/8 = 0.5
    val meta = Seq(
      ("2015/01/01/2015-01-01-1.json.gz", NeedDownload),
      ("2015/01/01/2015-01-01-0.json.gz", NeedDownload),
      ("2015/01/01/2015-01-01-2.json.gz", Downloaded),
      ("2015/01/01/2015-01-01-3.json.gz", Verified),
      ("2015/01/01/2015-01-01-4.json.gz", Imported),
      ("2015/01/01/2015-01-01-5.json.gz", Imported),
      ("2015/01/01/2015-01-01-6.json.gz", Imported),
      ("2015/01/01/2015-01-01-7.json.gz", Imported)).toDF("path", "status")

    val srv = new HttpServe(spark, 0, statusMeta = Some(() => meta))
    try {
      srv.start()
      val (code, body) = get(srv.boundPort, "/status")
      assert(code === 200)
      assert(body.contains(""""total":8"""))
      assert(body.contains(""""imported":4"""))
      assert(body.contains(""""importFail":2"""))
      assert(body.contains(""""missing":2"""))
      assert(body.contains(""""missingRate":0.5"""))
      // basenames only, sorted
      assert(body.contains(""""missingArr":["2015-01-01-0.json.gz","2015-01-01-1.json.gz"]"""))
      assert(body.contains("updateTime"))
    } finally srv.stop()
  }

  test("Serve.start: /status reads <meta>.old when a pass stopped between " +
      "the checkpoint's two renames") {
    import spark.implicits._
    import graft.ingest.FilePipeline.Status._
    val dir = java.nio.file.Files.createTempDirectory("serve").toFile
    val metaPath = new java.io.File(dir, "meta").getAbsolutePath
    // only `<meta>.old` on disk: `<meta>` was renamed away, the new
    // table not yet renamed into place
    Seq(("2015/01/01/2015-01-01-0.json.gz", 0L, Imported),
      ("2015/01/01/2015-01-01-1.json.gz", 1L, Imported),
      ("2015/01/01/2015-01-01-2.json.gz", 2L, NeedDownload))
      .toDF("path", "hour_key", "status").write.parquet(metaPath + ".old")
    val srv = Serve.start(spark, new java.io.File(dir, "tables").getAbsolutePath,
      Some(metaPath), 0)
    try {
      val (code, body) = get(srv.boundPort, "/status")
      assert(code === 200, body)
      assert(body.contains(""""total":3""") && body.contains(""""imported":2"""), body)
      assert(body.contains(""""missingArr":["2015-01-01-2.json.gz"]"""), body)
    } finally srv.stop()
  }

  test("POST /query accepts the CH data-bearing INSERT protocol") {
    spark.sql("DROP TABLE IF EXISTS serve_ins")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("spark-warehouse/serve_ins"))
    spark.sql(
      "CREATE TABLE serve_ins (id BIGINT, v DOUBLE) USING parquet")
    val srv = new HttpServe(spark, 0)
    try {
      srv.start()
      val port = srv.boundPort
      val (c1, r1) = post(port, "/query",
        "INSERT INTO serve_ins FORMAT JSONEachRow\n" +
          "{\"id\": 1, \"v\": 1.5}\n{\"id\": 2, \"v\": 2.5}")
      assert(c1 === 200 && r1.contains("\"written\":2"))
      val (c2, r2) = post(port, "/query",
        "SELECT sum(v) AS s FROM serve_ins")
      assert(c2 === 200 && r2.contains("\"s\":4.0"))
      // malformed insert reports an error, not a silent 200
      val (c3, _) = post(port, "/query",
        "INSERT INTO no_such_table FORMAT JSONEachRow\n{\"id\":1}")
      assert(c3 === 400)
    } finally srv.stop()
  }

  test("POST /query streams with a row cap") {
    val srv = new HttpServe(spark, 0, maxRows = 3)
    try {
      srv.start()
      val (code, body) = post(srv.boundPort, "/query",
        "SELECT id FROM range(10) ORDER BY id")
      assert(code === 200)
      assert(body.contains(""""truncated":true"""))
      assert(body.split("""\{"id":""", -1).length - 1 === 3)

      val (c2, small) = post(srv.boundPort, "/query",
        "SELECT id FROM range(2) ORDER BY id")
      assert(c2 === 200 && small.contains(""""truncated":false"""))
    } finally srv.stop()
  }
}

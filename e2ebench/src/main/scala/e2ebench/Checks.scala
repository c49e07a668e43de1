package e2ebench

import java.math.RoundingMode

/** The requests the benchmark sends, each paired with the check of its
  * answer against the expected-answer model.
  */
final case class Request(kind: String, method: String, path: String, body: String,
    check: (Http.Resp, Model) => Boolean)

object Checks {
  private def round2(v: Double): Double =
    new java.math.BigDecimal(v).setScale(2, RoundingMode.HALF_UP).doubleValue

  private def single(r: Http.Resp, col: String): Long = r.rows.head.get(col).asLong

  val recordCount = Request("record_count", "GET", "/query/record_count?table=events", "",
    (r, m) => r.code == 200 && single(r, "count") == m.recordCount)

  def mostUsedLabel(n: Int) = Request("most_used_label", "GET",
    s"/query/most_used_label?table=events&topN=$n", "",
    (r, m) => r.code == 200 &&
      r.rows.map(x => (x.get("label").asText, x.get("count").asLong)) == m.mostUsedLabel(n))

  /** Floating sums depend on addition order, so values match to the cent and
    * the top-n set may differ only among repos within a cent of the cut.
    */
  def repoActivity(n: Int) = Request("repo_activity", "GET",
    s"/query/repo_activity?table=events&topN=$n", "", (r, m) => r.code == 200 && {
      val want = m.repoActivity
      val got = r.rows.map(x => (x.get("repo_id").asLong, x.get("repo_activity").asDouble))
      val ranked = want.values.toSeq.sorted(Ordering[Double].reverse)
      val cut = if (ranked.size >= n) ranked(n - 1) else Double.NegativeInfinity
      got.size == math.min(n, want.size) &&
        got.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)) &&
        got.forall { case (repo, v) =>
          want.get(repo).exists(w => math.abs(v - round2(w)) <= 0.011 && w >= cut - 0.02)
        } &&
        want.forall { case (repo, w) => w <= cut + 0.02 || got.exists(_._1 == repo) }
    })

  val dbSchema = Request("db_schema", "GET", "/query/db_schema", "",
    (r, _) => r.code == 200 &&
      r.json.size == graft.ingest.EventsSchema.dbSchema.size &&
      r.json.get(0).get("key").asText == "id")

  val finalCount = Request("final_count", "POST", "/query",
    "SELECT count() AS c FROM events FINAL",
    (r, m) => r.code == 200 && single(r, "c") == m.recordCount)

  /** Per type, the row count and the sum of the surviving ids: a wrong
    * Replacing winner changes the sum.
    */
  val typeCounts = Request("type_counts", "POST", "/query",
    "SELECT type, count() AS c, sum(id) AS s FROM events GROUP BY type ORDER BY type",
    (r, m) => r.code == 200 &&
      r.rows.map(x => x.get("type").asText -> (x.get("c").asLong, x.get("s").asLong)).toMap ==
        m.typeCounts)

  def limitBy(maxRepo: Long) = Request("limit_by", "POST", "/query",
    s"""SELECT repo_id, id FROM events WHERE repo_id <= $maxRepo
       |ORDER BY repo_id, id DESC LIMIT 1 BY repo_id""".stripMargin,
    (r, m) => r.code == 200 &&
      r.rows.map(x => x.get("repo_id").asLong -> x.get("id").asLong).toMap ==
        m.maxIdByRepo.filter(_._1 <= maxRepo))

  def createdRange(from: Long, to: Long) = Request("created_range", "POST", "/query",
    s"""SELECT count() AS c FROM events
       |WHERE created_at >= '${GhEvents.hourArg(from)}' AND created_at < '${GhEvents.hourArg(to)}'""".stripMargin,
    (r, m) => r.code == 200 &&
      single(r, "c") == m.countWhere(e => e.createdAt >= from && e.createdAt < to))

  def repoLookup(repo: Long) = Request("repo_lookup", "POST", "/query",
    s"SELECT count() AS c FROM events WHERE repo_id = $repo",
    (r, m) => r.code == 200 && single(r, "c") == m.countWhere(_.repoId == repo))

  /** One of each CH-SQL statement the dashboard POSTs, over a table whose
    * events start at `firstHour` and span `hours` hours.
    */
  def statements(firstHour: Long, hours: Int): Seq[String] =
    Seq(finalCount, typeCounts, limitBy(30),
      createdRange(firstHour, firstHour + math.min(2, hours) * 3600L), repoLookup(7)).map(_.body)

  def send(port: Int, q: Request): Http.Resp =
    if (q.method == "GET") Http.get(port, q.path) else Http.post(port, q.path, q.body)

  /** Sends `q` and checks the answer; an exception counts as a wrong answer. */
  def run(port: Int, q: Request, model: Model, report: Report): (Boolean, Option[Http.Resp]) =
    try {
      val r = send(port, q)
      val ok = try q.check(r, model) catch { case _: Exception => false }
      (report.check(ok, s"${q.kind}: HTTP ${r.code} ${r.body.take(200)}"), Some(r))
    } catch {
      case e: Exception =>
        (report.check(ok = false, s"${q.kind}: $e"), None)
    }
}

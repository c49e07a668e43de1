package e2ebench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.zip.GZIPOutputStream
import scala.collection.mutable

/** One generated GH Archive event, reduced to the fields the expected-answer
  * model needs. `json` renders it in the hour-file layout the importer reads.
  */
final case class Ev(id: Long, tpe: String, action: String, actorId: Long,
    repoId: Long, orgId: Long, createdAt: Long, issueId: Long,
    issueAuthorId: Long, commentId: Long, reviewCommentId: Long,
    pushId: Long, labels: Seq[String], merged: Boolean) {

  /** The Replacing dedup key: `EventsSchema.orderByKey` with the derived
    * month and the ids the generator never sets (review, commit comment,
    * release) left at their dense default of 0.
    */
  def key: (Long, Long, Long, String, String, Int, Long, Long, Long, Long) =
    (orgId, repoId, actorId, tpe, action, GhEvents.monthKey(createdAt),
      issueId, commentId, reviewCommentId, pushId)

  def json: String = {
    val ts = GhEvents.iso(createdAt)
    def user(id: Long) = s"""{"id":$id,"login":"u$id","type":"User"}"""
    val org = if (orgId == 0) "" else s""","org":{"id":$orgId,"login":"org$orgId"}"""
    val env = s""""id":"$id","type":"$tpe","actor":{"id":$actorId,"login":"u$actorId"},""" +
      s""""repo":{"id":$repoId,"name":"o$repoId/r$repoId"}$org,"created_at":"$ts""""
    val labelJson = labels.map(l =>
      s"""{"name":"$l","color":"ededed","default":false,"description":"$l label"}""")
      .mkString("[", ",", "]")
    def issue(number: Long) =
      s"""{"id":$issueId,"number":$number,"title":"issue $issueId","body":"text of $issueId",""" +
        s""""labels":$labelJson,"user":${user(issueAuthorId)},"author_association":"NONE",""" +
        s""""comments":1,"created_at":"$ts","updated_at":"$ts"}"""
    def pull(number: Long) =
      s"""{"id":$issueId,"number":$number,"title":"pull $issueId","body":"change $issueId",""" +
        s""""labels":$labelJson,"user":${user(issueAuthorId)},"author_association":"CONTRIBUTOR",""" +
        s""""comments":0,"created_at":"$ts","updated_at":"$ts","commits":1,"additions":3,""" +
        s""""deletions":1,"changed_files":1,"merged":$merged,"merge_commit_sha":"",""" +
        s""""review_comments":0,"base":{"ref":"main"},"head":{"ref":"feat","repo":""" +
        s"""{"id":$repoId,"full_name":"o$repoId/r$repoId"}}}"""
    def comment(cid: Long) =
      s"""{"id":$cid,"body":"comment $cid","path":"a.txt","position":1,""" +
        s""""created_at":"$ts","updated_at":"$ts","user":${user(actorId)},"author_association":"NONE"}"""
    val payload = tpe match {
      case "WatchEvent" => """{"action":"started"}"""
      case "PushEvent" =>
        s"""{"push_id":$pushId,"size":1,"distinct_size":1,"ref":"refs/heads/main","head":"h$pushId",""" +
          s""""commits":[{"author":{"name":"u$actorId","email":"u$actorId@x.org"},"message":"m$pushId"}]}"""
      case "ForkEvent" =>
        s"""{"forkee":{"id":${id + 1},"full_name":"u$actorId/r$repoId","owner":${user(actorId)}}}"""
      case "IssuesEvent" => s"""{"action":"$action","issue":${issue(issueId % 9973)}}"""
      case "IssueCommentEvent" =>
        s"""{"action":"$action","issue":${issue(issueId % 9973)},"comment":${comment(commentId)}}"""
      case "PullRequestEvent" => s"""{"action":"$action","pull_request":${pull(issueId % 9973)}}"""
      case "PullRequestReviewCommentEvent" =>
        s"""{"action":"$action","pull_request":${pull(issueId % 9973)},"comment":${comment(reviewCommentId)}}"""
    }
    s"""{$env,"payload":$payload}"""
  }
}

/** Seeded GH Archive hour-file generator plus the plain-Scala expected-answer
  * model the benchmark checks every import and every HTTP answer against.
  *
  * Hours are `yyyy/MM/dd/yyyy-MM-dd-H.json.gz` files under a base directory,
  * every event timestamped inside its hour. Actors, repos and issues come
  * from small skewed pools so that same-key events recur within a month and
  * collapse under the Replacing merge.
  */
object GhEvents {
  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private val pathFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd/yyyy-MM-dd-")
  private val hourArgFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def iso(epochS: Long): String =
    LocalDateTime.ofEpochSecond(epochS, 0, ZoneOffset.UTC).format(isoFmt)

  def monthKey(epochS: Long): Int = {
    val t = LocalDateTime.ofEpochSecond(epochS, 0, ZoneOffset.UTC)
    t.getYear * 100 + t.getMonthValue
  }

  /** Relative hour-file path in the GH Archive layout (unpadded hour). */
  def hourPath(hourStart: Long): String = {
    val t = LocalDateTime.ofEpochSecond(hourStart, 0, ZoneOffset.UTC)
    t.format(pathFmt) + t.getHour + ".json.gz"
  }

  /** `Orchestrator.runOnce` hour bound argument. */
  def hourArg(hourStart: Long): String =
    LocalDateTime.ofEpochSecond(hourStart, 0, ZoneOffset.UTC).format(hourArgFmt)

  def epoch(iso: String): Long = Instant.parse(iso).getEpochSecond

  val labelNames: Seq[String] = Seq("bug", "enhancement", "question",
    "documentation", "good first issue", "help wanted", "wontfix",
    "duplicate", "performance", "security", "ci", "dependencies")

  /** Events of one hour. Ids are unique across the whole run: `idBase`
    * reserves a block per hour.
    */
  def hour(seed: Long, hourStart: Long, n: Int, idBase: Long): Vector[Ev] = {
    val rnd = new scala.util.Random(seed * 1000003L + hourStart)
    def skewed(size: Int): Long = {
      val u = rnd.nextDouble()
      1L + (size * u * u).toLong
    }
    Vector.tabulate(n) { i =>
      val id = idBase + i
      val ts = hourStart + rnd.nextInt(3600)
      val actor = skewed(600)
      val repo = skewed(120)
      val org = if (repo % 3 == 0) 9000 + repo % 7 else 0L
      def issueOf = repo * 1000 + rnd.nextInt(40)
      def labels = rnd.shuffle(labelNames.take(4 + (repo % 8).toInt)).take(rnd.nextInt(3))
      def ev(tpe: String, action: String, issue: Long = 0, author: Long = 0,
          comment: Long = 0, rc: Long = 0, push: Long = 0,
          ls: Seq[String] = Nil, merged: Boolean = false) =
        Ev(id, tpe, action, actor, repo, org, ts, issue, author, comment, rc,
          push, ls, merged)
      rnd.nextInt(100) match {
        case r if r < 24 => ev("WatchEvent", "started")
        case r if r < 40 => ev("PushEvent", "", push = id * 7)
        case r if r < 46 => ev("ForkEvent", "")
        case r if r < 58 =>
          ev("IssuesEvent", if (rnd.nextInt(5) < 3) "opened" else "closed",
            issue = issueOf, author = skewed(600), ls = labels)
        case r if r < 72 =>
          ev("IssueCommentEvent", "created", issue = issueOf,
            author = skewed(600), comment = id * 3)
        case r if r < 90 =>
          val opened = rnd.nextBoolean()
          ev("PullRequestEvent", if (opened) "opened" else "closed",
            issue = issueOf + 500, author = skewed(600), ls = labels,
            merged = !opened && rnd.nextInt(10) < 7)
        case _ =>
          ev("PullRequestReviewCommentEvent", "created", issue = issueOf + 500,
            author = skewed(600), rc = id * 5)
      }
    }
  }

  def writeHour(baseDir: File, hourStart: Long, events: Seq[Ev],
      corruptLines: Int = 0): File = {
    val f = new File(baseDir, hourPath(hourStart))
    f.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new GZIPOutputStream(new FileOutputStream(f)), 1 << 16)
    try {
      events.foreach { e => out.write(e.json.getBytes("UTF-8")); out.write('\n') }
      (0 until corruptLines).foreach { i =>
        out.write(s"""{"id":"x$i","type":"PushEvent","payload":{""".getBytes("UTF-8"))
        out.write('\n')
      }
    } finally out.close()
    f
  }
}

/** Expected answers for the events table after a set of hours has been
  * imported: the Replacing merge keeps, per key, the row with the largest
  * event id (every log row has `from_api = false`).
  */
final class Model {
  private val rows = mutable.HashMap.empty[Any, Ev]

  def add(events: Iterable[Ev]): Unit = events.foreach { e =>
    rows.get(e.key) match {
      case Some(old) if old.id >= e.id =>
      case _ => rows(e.key) = e
    }
  }

  def recordCount: Long = rows.size.toLong

  /** Per type: surviving rows and the sum of their ids. */
  def typeCounts: Map[String, (Long, Long)] =
    rows.values.groupBy(_.tpe).map { case (k, v) => k -> (v.size.toLong, v.map(_.id).sum) }

  def mostUsedLabel(topN: Int): Seq[(String, Long)] =
    rows.values.iterator
      .filter(e => (e.tpe == "IssuesEvent" || e.tpe == "PullRequestEvent") && e.action == "closed")
      .flatMap(_.labels).toSeq
      .groupBy(identity).map { case (l, v) => l -> v.size.toLong }.toSeq
      .sortBy { case (l, c) => (-c, l) }.take(topN)

  /** Per repo, the unrounded sum of sqrt(score) of its (repo, actor) groups
    * with at least one issue comment — the README's repo_activity formula.
    */
  def repoActivity: Map[Long, Double] = {
    def actorKey(e: Ev) =
      if (e.tpe == "PullRequestEvent" && e.action == "closed" && e.merged) e.issueAuthorId
      else e.actorId
    rows.values.groupBy(e => (e.repoId, actorKey(e))).toSeq.flatMap { case ((repo, _), es) =>
      def n(p: Ev => Boolean) = es.count(p).toLong
      val icc = n(e => e.tpe == "IssueCommentEvent" && e.action == "created")
      val score = icc +
        2 * n(e => e.tpe == "IssuesEvent" && e.action == "opened") +
        3 * n(e => e.tpe == "PullRequestEvent" && e.action == "opened") +
        4 * n(e => e.tpe == "PullRequestReviewCommentEvent" && e.action == "created") +
        5 * n(e => e.tpe == "PullRequestEvent" && e.action == "closed" && e.merged)
      if (icc > 0) Some(repo -> math.sqrt(score.toDouble)) else None
    }.groupBy(_._1).map { case (r, v) => r -> v.map(_._2).sum }
  }

  def countWhere(p: Ev => Boolean): Long = rows.values.count(p).toLong

  /** Per repo, the largest surviving event id (`LIMIT 1 BY repo_id`). */
  def maxIdByRepo: Map[Long, Long] =
    rows.values.groupBy(_.repoId).map { case (r, v) => r -> v.map(_.id).max }
}

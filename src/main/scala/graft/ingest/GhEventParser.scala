package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flattening projection: raw GH Archive events → the wide `events`
  * relation (SURVEY A5–A18; reference: app/parser.js:13-277 +
  * app/importer_worker.js:31-39).
  *
  * One declarative `select` implements all eleven per-type parsers at
  * once: every output column is an expression conditioned on the event
  * type, so Catalyst sees a single narrow projection over the JSON scan
  * — one pass over the input, whole-stage-codegen'd, no per-type
  * re-reads and no UDFs. Rows the reference would drop (unknown type;
  * a required payload object missing, which throws inside the
  * reference's parser and skips the line) are dropped by one filter.
  *
  * Default discipline (SURVEY §1.2): ClickHouse densifies absent
  * non-Nullable fields to 0 / '' / false / []; we apply the same
  * defaults explicitly so the relation is value-identical to the
  * post-insert ClickHouse table. Declared `Nullable(DateTime)` columns
  * keep real nulls. Timestamps are UTC, truncated to seconds
  * (reference: app/parser.js:6-11).
  */
object GhEventParser {

  import EventsSchema.Enums

  /** Event types the log pipeline ingests (reference: app/parser.js:266-277
    * — the two *ReactionEvent enum members are API-side only).
    */
  val supportedTypes: Seq[String] = Seq(
    "IssuesEvent", "IssueCommentEvent", "PullRequestEvent",
    "PullRequestReviewEvent", "PullRequestReviewCommentEvent",
    "PushEvent", "ForkEvent", "WatchEvent", "ReleaseEvent",
    "CommitCommentEvent")

  private val issueFamily = Seq(
    "IssuesEvent", "IssueCommentEvent", "PullRequestEvent",
    "PullRequestReviewEvent", "PullRequestReviewCommentEvent")
  private val pullFamily = Seq(
    "PullRequestEvent", "PullRequestReviewEvent",
    "PullRequestReviewCommentEvent")

  /** UTC second-precision timestamp from an ISO-8601 string column.
    * try_to_timestamp: under ANSI mode a plain cast THROWS on one
    * malformed value and kills the whole job — here a malformed
    * nested timestamp nulls out (→ dense default), and a malformed
    * envelope `created_at` drops the row (the reference's dateformat
    * throws there, skipping the line — app/importer_worker.js:36-38).
    */
  private def ts(c: Column): Column = date_trunc("second", try_to_timestamp(c))

  private val epoch = to_timestamp(lit("1970-01-01 00:00:00"))

  private def sDef(c: Column): Column = coalesce(c, lit(""))
  private def lDef(c: Column): Column = coalesce(c, lit(0L))
  private def iDef(c: Column): Column = coalesce(c, lit(0))
  private def bDef(c: Column): Column = coalesce(c, lit(false))

  /** The lines of hour files (gzip NDJSON) as (`path`, `value`), `path`
    * being the file's URI. The one reader of hour files: [[readRaw]],
    * [[readLanded]] and the validator ([[FilePipeline.validate]]) all go
    * through it.
    *
    * Parallelism policy: gzip is not splittable, so the decompression is
    * capped at #files tasks. For a large batch (full import: thousands of
    * hour files) that is exactly right — file-level parallelism saturates
    * the cluster and nothing is shuffled. For a SMALL batch (the hourly
    * cron: one or a few files) it leaves most cores idle, so the lines are
    * redistributed across the cluster, and what runs on them (the JSON
    * parse and the wide projection, the validator's check) runs
    * #cores-way — the shuffle moves compressed-text-sized data once.
    * Measured on a 1M-event 8-file batch at local[32]: the
    * line-repartition path is what takes ingest from ~9.5k to >20k
    * records/sec.
    */
  def readLines(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val lines = spark.read.text(paths: _*)
      .select(input_file_name().as("path"), col("value"))
    if (paths.size >= cores) lines else lines.repartition(cores)
  }

  /** Raw envelope rows of hour-file lines (a `value` column), read with
    * the fixed schema, keeping corrupt lines in `_corrupt_record`
    * (tolerant parse — SURVEY A5). The JSON datasource, NOT from_json:
    * downstream field expansion collapses into the projection and
    * re-parses the line once per referenced column.
    */
  def readJson(lines: DataFrame): DataFrame =
    lines.sparkSession.read
      .schema(GhArchiveSchema.envelope)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(lines.select("value").as(Encoders.STRING))

  /** Raw envelope rows of hour files: [[readJson]] over [[readLines]]. */
  def readRaw(spark: SparkSession, paths: Seq[String]): DataFrame =
    readJson(readLines(spark, paths))

  /** One pipeline pass's read of the hour files it may import: their
    * [[readLines]], materialized once (`localCheckpoint`), with the
    * validator's verdict on each file observed while they materialize
    * (`Dataset.observe`, the corrupt predicate of
    * [[FilePipeline.flagCorrupt]]), so each file is decompressed once
    * and checked on every core. Returns the lines and, for every file
    * holding at least one line, URI → valid (no corrupt line). A file
    * with no line is absent, so it is never valid, as in
    * [[FilePipeline.validate]]. The caller frees the lines with
    * `Dedup.unpersistCheckpoint`.
    */
  def readLanded(spark: SparkSession, paths: Seq[String]): (DataFrame, Map[String, Boolean]) = {
    val observed = FilePipeline.flagCorrupt(readLines(spark, paths))
      .observe("files", collect_set(col("path")),
        collect_set(when(col("corrupt"), col("path"))))
      .drop("corrupt")
    val lines = observed.localCheckpoint()
    val files = observed.queryExecution.observedMetrics("files")
    val corrupt = files.getSeq[String](1).toSet
    (lines, files.getSeq[String](0).map(p => p -> !corrupt(p)).toMap)
  }

  /** The A6–A18 projection. Input: raw envelope rows ([[readRaw]]).
    * Output: rows conforming to [[EventsSchema.schema]].
    */
  def parse(raw: DataFrame): DataFrame = {
    val t = col("type")
    def isType(name: String): Column = t === name
    val inIssueFam = t.isin(issueFamily: _*)
    val inPullFam = t.isin(pullFamily: _*)

    // `payload.issue ?? payload.pull_request` (app/parser.js:36) —
    // identical struct types, so a struct-level coalesce.
    val issue = coalesce(col("payload.issue"), col("payload.pull_request"))
    val pull = col("payload.pull_request")
    val cmt = col("payload.comment")
    val review = col("payload.review")
    val release = col("payload.release")
    val forkee = col("payload.forkee")

    // Rows the reference drops: unknown types (dispatch miss,
    // app/importer_worker.js:34); issue-family rows with no
    // issue/pull_request (parser returns null, app/parser.js:38-40);
    // rows whose parser dereferences a missing required object and
    // throws (caught + skipped, app/importer_worker.js:36-38).
    val keep = t.isin(supportedTypes: _*) &&
      (col("created_at").isNull || ts(col("created_at")).isNotNull) &&
      (!inIssueFam || issue.isNotNull) &&
      (!t.isin("IssueCommentEvent", "PullRequestReviewCommentEvent",
        "CommitCommentEvent") || cmt.isNotNull) &&
      (!inPullFam || pull.isNotNull) &&
      (!isType("PullRequestReviewEvent") || review.isNotNull) &&
      (!isType("ForkEvent") || forkee.isNotNull) &&
      (!isType("ReleaseEvent") || release.isNotNull)

    // Guarded field access: only read group g's fields on rows of the
    // right type (elsewhere the dense default applies).
    def when_(cond: Column, value: Column, default: Column): Column =
      when(cond, coalesce(value, default)).otherwise(default)
    def whenNullable(cond: Column, value: Column): Column =
      when(cond, value).otherwise(lit(null).cast(TimestampType))

    // body is the one column written by five different parsers
    // (app/parser.js:44,85,131,159,246): last writer wins per type.
    val body =
      when(isType("IssueCommentEvent") || isType("PullRequestReviewCommentEvent"),
        sDef(cmt.getField("body")))
        .when(isType("PullRequestReviewEvent"), sDef(review.getField("body")))
        .when(isType("CommitCommentEvent"), sDef(cmt.getField("body")))
        .when(inIssueFam, sDef(issue.getField("body")))
        .otherwise(lit(""))

    // pull_review_id comes from the review (if >0, app/parser.js:132-134)
    // or the review comment's parent id (if >0, app/parser.js:143-145).
    val pullReviewId =
      when(isType("PullRequestReviewEvent") && review.getField("id") > 0,
        review.getField("id"))
        .when(isType("PullRequestReviewCommentEvent")
          && cmt.getField("pull_request_review_id") > 0,
          cmt.getField("pull_request_review_id"))
        .otherwise(lit(0L))

    val emptyLabels = array()
      .cast(ArrayType(EventsSchema.issueLabel, containsNull = false))
    val labels = when(inIssueFam,
      transform(coalesce(issue.getField("labels"),
        array().cast(ArrayType(GhArchiveSchema.label))), l =>
        struct(
          sDef(l.getField("name")).as("name"),
          sDef(l.getField("color")).as("color"),
          bDef(l.getField("default")).as("default"),
          sDef(l.getField("description")).as("description"))))
      .otherwise(emptyLabels)

    val emptyAssignees = array()
      .cast(ArrayType(EventsSchema.issueAssignee, containsNull = false))
    val assignees = when(inIssueFam,
      transform(coalesce(issue.getField("assignees"),
        array().cast(ArrayType(GhArchiveSchema.user))), a =>
        struct(
          sDef(a.getField("login")).as("login"),
          lDef(a.getField("id")).as("id"))))
      .otherwise(emptyAssignees)

    val emptyPushCommits = array()
      .cast(ArrayType(EventsSchema.pushCommit, containsNull = false))
    // (c.author ? c.author.name : '') ?? '' (app/parser.js:179-181)
    val pushCommits = when(isType("PushEvent"),
      transform(coalesce(col("payload.commits"),
        array().cast(ArrayType(GhArchiveSchema.pushCommit))), c =>
        struct(
          sDef(c.getField("author").getField("name")).as("name"),
          sDef(c.getField("author").getField("email")).as("email"),
          sDef(c.getField("message")).as("message"))))
      .otherwise(emptyPushCommits)

    val emptyAssets = array()
      .cast(ArrayType(EventsSchema.releaseAsset, containsNull = false))
    val assets = when(isType("ReleaseEvent"),
      transform(coalesce(release.getField("assets"),
        array().cast(ArrayType(GhArchiveSchema.releaseAsset))), a =>
        struct(
          sDef(a.getField("name")).as("name"),
          sDef(a.getField("uploader").getField("login")).as("uploader_login"),
          lDef(a.getField("uploader").getField("id")).as("uploader_id"),
          sDef(a.getField("content_type")).as("content_type"),
          sDef(a.getField("state")).as("state"),
          lDef(a.getField("size")).as("size"),
          iDef(a.getField("download_count")).as("download_count"))))
      .otherwise(emptyAssets)

    val rvwr = element_at(pull.getField("requested_reviewers"), 1) // first only (app/parser.js:98)

    // Corrupt lines carry a null `type`, so `keep` drops them without
    // referencing the internal corrupt-record column (which Spark
    // disallows in raw-file queries).
    raw
      .filter(keep)
      .select(
        col("id").cast(LongType).as("id"),
        lit("GitHub").as("platform"),
        t.as("type"),
        sDef(col("payload.action")).as("action"),
        lDef(col("actor.id")).as("actor_id"),
        sDef(col("actor.login")).as("actor_login"),
        lDef(col("repo.id")).as("repo_id"),
        sDef(col("repo.name")).as("repo_name"),
        lDef(col("org.id")).as("org_id"),
        sDef(col("org.login")).as("org_login"),
        coalesce(ts(col("created_at")), epoch).as("created_at"),
        // issues family (app/parser.js:34-79)
        when_(inIssueFam, issue.getField("id"), lit(0L)).as("issue_id"),
        when_(inIssueFam, issue.getField("number"), lit(0)).as("issue_number"),
        when_(inIssueFam, issue.getField("title"), lit("")).as("issue_title"),
        body.as("body"),
        labels.as("issue_labels"),
        when_(inIssueFam, issue.getField("user").getField("id"), lit(0L)).as("issue_author_id"),
        when_(inIssueFam, issue.getField("user").getField("login"), lit("")).as("issue_author_login"),
        when_(inIssueFam, issue.getField("user").getField("type"), lit("")).as("issue_author_type"),
        // author_association ?? 'NONE' (app/parser.js:57) — issue-family only
        when_(inIssueFam, issue.getField("author_association"), lit("NONE"))
          .as("issue_author_association"),
        when_(inIssueFam, issue.getField("assignee").getField("id"), lit(0L)).as("issue_assignee_id"),
        when_(inIssueFam, issue.getField("assignee").getField("login"), lit("")).as("issue_assignee_login"),
        assignees.as("issue_assignees"),
        whenNullable(inIssueFam, ts(issue.getField("created_at"))).as("issue_created_at"),
        whenNullable(inIssueFam, ts(issue.getField("updated_at"))).as("issue_updated_at"),
        when_(inIssueFam, issue.getField("comments"), lit(0)).as("issue_comments"),
        whenNullable(inIssueFam, ts(issue.getField("closed_at"))).as("issue_closed_at"),
        // API-side column, never populated by the log path (SURVEY §1.2)
        array().cast(ArrayType(IntegerType, containsNull = false))
          .as("issue_closed_by_pull_request_numbers"),
        // issue comment (app/parser.js:81-93)
        when_(isType("IssueCommentEvent"), cmt.getField("id"), lit(0L)).as("issue_comment_id"),
        whenNullable(isType("IssueCommentEvent"), ts(cmt.getField("created_at"))).as("issue_comment_created_at"),
        whenNullable(isType("IssueCommentEvent"), ts(cmt.getField("updated_at"))).as("issue_comment_updated_at"),
        when_(isType("IssueCommentEvent"), cmt.getField("author_association"), lit("NONE"))
          .as("issue_comment_author_association"),
        when_(isType("IssueCommentEvent"), cmt.getField("user").getField("id"), lit(0L)).as("issue_comment_author_id"),
        when_(isType("IssueCommentEvent"), cmt.getField("user").getField("login"), lit("")).as("issue_comment_author_login"),
        when_(isType("IssueCommentEvent"), cmt.getField("user").getField("type"), lit("")).as("issue_comment_author_type"),
        // pull request (app/parser.js:95-126)
        when_(inPullFam, pull.getField("commits"), lit(0)).as("pull_commits"),
        when_(inPullFam, pull.getField("additions"), lit(0)).as("pull_additions"),
        when_(inPullFam, pull.getField("deletions"), lit(0)).as("pull_deletions"),
        when_(inPullFam, pull.getField("changed_files"), lit(0)).as("pull_changed_files"),
        when_(inPullFam, pull.getField("merged"), lit(false)).as("pull_merged"),
        when_(inPullFam, pull.getField("merge_commit_sha"), lit("")).as("pull_merge_commit_sha"),
        whenNullable(inPullFam, ts(pull.getField("merged_at"))).as("pull_merged_at"),
        when_(inPullFam, pull.getField("merged_by").getField("id"), lit(0L)).as("pull_merged_by_id"),
        when_(inPullFam, pull.getField("merged_by").getField("login"), lit("")).as("pull_merged_by_login"),
        when_(inPullFam, pull.getField("merged_by").getField("type"), lit("")).as("pull_merged_by_type"),
        when_(inPullFam, rvwr.getField("id"), lit(0L)).as("pull_requested_reviewer_id"),
        when_(inPullFam, rvwr.getField("login"), lit("")).as("pull_requested_reviewer_login"),
        when_(inPullFam, rvwr.getField("type"), lit("")).as("pull_requested_reviewer_type"),
        when_(inPullFam, pull.getField("review_comments"), lit(0)).as("pull_review_comments"),
        when_(inPullFam, pull.getField("base").getField("ref"), lit("")).as("pull_base_ref"),
        when_(inPullFam, pull.getField("head").getField("repo").getField("id"), lit(0L)).as("pull_head_repo_id"),
        when_(inPullFam, pull.getField("head").getField("repo").getField("full_name"), lit("")).as("pull_head_repo_name"),
        when_(inPullFam, pull.getField("head").getField("ref"), lit("")).as("pull_head_ref"),
        // review / review comment (app/parser.js:128-167)
        when_(isType("PullRequestReviewEvent"), review.getField("state"), lit("")).as("pull_review_state"),
        when_(isType("PullRequestReviewEvent"), review.getField("author_association"), lit("NONE"))
          .as("pull_review_author_association"),
        pullReviewId.as("pull_review_id"),
        when_(isType("PullRequestReviewCommentEvent"), cmt.getField("id"), lit(0L)).as("pull_review_comment_id"),
        when_(isType("PullRequestReviewCommentEvent"), cmt.getField("path"), lit("")).as("pull_review_comment_path"),
        // integer position → string (app/parser.js:151)
        when_(isType("PullRequestReviewCommentEvent"),
          cmt.getField("position").cast(StringType), lit("")).as("pull_review_comment_position"),
        when_(isType("PullRequestReviewCommentEvent"), cmt.getField("user").getField("id"), lit(0L))
          .as("pull_review_comment_author_id"),
        when_(isType("PullRequestReviewCommentEvent"), cmt.getField("user").getField("login"), lit(""))
          .as("pull_review_comment_author_login"),
        when_(isType("PullRequestReviewCommentEvent"), cmt.getField("user").getField("type"), lit(""))
          .as("pull_review_comment_author_type"),
        when_(isType("PullRequestReviewCommentEvent"), cmt.getField("author_association"), lit("NONE"))
          .as("pull_review_comment_author_association"),
        whenNullable(isType("PullRequestReviewCommentEvent"), ts(cmt.getField("created_at")))
          .as("pull_review_comment_created_at"),
        whenNullable(isType("PullRequestReviewCommentEvent"), ts(cmt.getField("updated_at")))
          .as("pull_review_comment_updated_at"),
        // push (app/parser.js:169-183)
        when_(isType("PushEvent"), col("payload.push_id"), lit(0L)).as("push_id"),
        when_(isType("PushEvent"), col("payload.size"), lit(0)).as("push_size"),
        when_(isType("PushEvent"), col("payload.distinct_size"), lit(0)).as("push_distinct_size"),
        when_(isType("PushEvent"), col("payload.ref"), lit("")).as("push_ref"),
        when_(isType("PushEvent"), col("payload.head"), lit("")).as("push_head"),
        pushCommits.as("push_commits"),
        // fork (app/parser.js:185-196)
        when_(isType("ForkEvent"), forkee.getField("id"), lit(0L)).as("fork_forkee_id"),
        when_(isType("ForkEvent"), forkee.getField("full_name"), lit("")).as("fork_forkee_full_name"),
        when_(isType("ForkEvent"), forkee.getField("owner").getField("id"), lit(0L)).as("fork_forkee_owner_id"),
        when_(isType("ForkEvent"), forkee.getField("owner").getField("login"), lit("")).as("fork_forkee_owner_login"),
        when_(isType("ForkEvent"), forkee.getField("owner").getField("type"), lit("")).as("fork_forkee_owner_type"),
        // release (app/parser.js:202-234)
        when_(isType("ReleaseEvent"), release.getField("id"), lit(0L)).as("release_id"),
        when_(isType("ReleaseEvent"), release.getField("tag_name"), lit("")).as("release_tag_name"),
        when_(isType("ReleaseEvent"), release.getField("target_commitish"), lit("")).as("release_target_commitish"),
        when_(isType("ReleaseEvent"), release.getField("name"), lit("")).as("release_name"),
        when_(isType("ReleaseEvent"), release.getField("draft"), lit(false)).as("release_draft"),
        when_(isType("ReleaseEvent"), release.getField("author").getField("id"), lit(0L)).as("release_author_id"),
        when_(isType("ReleaseEvent"), release.getField("author").getField("login"), lit("")).as("release_author_login"),
        when_(isType("ReleaseEvent"), release.getField("author").getField("type"), lit("")).as("release_author_type"),
        when_(isType("ReleaseEvent"), release.getField("prerelease"), lit(false)).as("release_prerelease"),
        whenNullable(isType("ReleaseEvent"), ts(release.getField("created_at"))).as("release_created_at"),
        whenNullable(isType("ReleaseEvent"), ts(release.getField("published_at"))).as("release_published_at"),
        when_(isType("ReleaseEvent"), release.getField("body"), lit("")).as("release_body"),
        assets.as("release_assets"),
        // commit comment (app/parser.js:236-264)
        when_(isType("CommitCommentEvent"), cmt.getField("id"), lit(0L)).as("commit_comment_id"),
        when_(isType("CommitCommentEvent"), cmt.getField("user").getField("id"), lit(0L)).as("commit_comment_author_id"),
        when_(isType("CommitCommentEvent"), cmt.getField("user").getField("login"), lit("")).as("commit_comment_author_login"),
        when_(isType("CommitCommentEvent"), cmt.getField("user").getField("type"), lit("")).as("commit_comment_author_type"),
        when_(isType("CommitCommentEvent"), cmt.getField("author_association"), lit("NONE"))
          .as("commit_comment_author_association"),
        when_(isType("CommitCommentEvent"), cmt.getField("path"), lit("")).as("commit_comment_path"),
        when_(isType("CommitCommentEvent"), cmt.getField("position").cast(StringType), lit(""))
          .as("commit_comment_position"),
        when_(isType("CommitCommentEvent"), cmt.getField("line").cast(StringType), lit(""))
          .as("commit_comment_line"),
        when_(isType("CommitCommentEvent"), cmt.getField("commit_id"), lit("")).as("commit_comment_sha"),
        whenNullable(isType("CommitCommentEvent"), ts(cmt.getField("created_at"))).as("commit_comment_created_at"),
        whenNullable(isType("CommitCommentEvent"), ts(cmt.getField("updated_at"))).as("commit_comment_updated_at"),
        // provenance: log-sourced rows (app/importer_worker.js:35)
        lit(false).as("from_api"))
  }

  /** End-to-end hour-file ingest: read → project → from_api=false rows
    * matching [[EventsSchema.schema]].
    */
  def ingest(spark: SparkSession, paths: Seq[String]): DataFrame =
    parse(readRaw(spark, paths))
}

package graft.ingest

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental file-ingest pipeline state (SURVEY A1/A2/A4/A23/A31):
  * hourly path enumeration, the per-file status state machine, the
  * gzip/JSON validator, the DB-vs-meta reconciler, and the status
  * document. The state is driver-side, as the reference's in-memory
  * `meta.json` (reference: app/service/file_utils.ts:16-45): one row per
  * GH Archive hour file, about 8.8k a year, so enumeration and discovery
  * are plain Scala. The validator's corrupt predicate runs on the lines
  * of [[GhEventParser.readLines]], the one reader of hour files; a
  * pipeline pass observes it while materializing the lines it imports
  * from, so hour files are not read a second time to validate them. The
  * reconciler collects the events table's hour keys to the driver.
  */
object FilePipeline {

  /** FileStatus enum (reference: app/types.ts:1-6). */
  object Status {
    val NeedDownload = 0
    val Downloaded = 1
    val Verified = 2
    val Imported = 3
  }

  private val pathFormat = DateTimeFormatter.ofPattern("yyyy/MM/dd/yyyy-MM-dd-")
  private val keyFormat = DateTimeFormatter.ofPattern("yyyyMMddHH")

  /** A1 — hourly-file enumerator (reference: app/service/file_utils.ts:56-107,
    * which hand-rolls the calendar incl. leap years). Bounds are UTC wall
    * clock, `yyyy-MM-dd HH:mm:ss`; `java.time` supplies the calendar.
    * Returns (path, hour_key) where hour_key = yyyyMMddHH as long (the
    * reference's `year*1000000+month*10000+day*100+hour` encoding,
    * app/service/log_importer_status_checker.ts:18).
    */
  def enumerateHours(startInclusive: String, endExclusive: String): Seq[(String, Long)] = {
    def parse(s: String) = LocalDateTime.parse(s.replace(' ', 'T'))
    val end = parse(endExclusive)
    Iterator.iterate(parse(startInclusive))(_.plusHours(1)).takeWhile(_.isBefore(end))
      // GH Archive hour component is unpadded (…-H.json.gz)
      .map(h => (h.format(pathFormat) + h.getHour + ".json.gz", h.format(keyFormat).toLong))
      .toSeq
  }

  /** A2 — expected-vs-known diff: new files enter the state machine as
    * NeedDownload (reference: app/service/log_exist_checker.ts:8-19).
    * `known` holds the checkpoint table's paths. Returns
    * (path, hour_key, status).
    */
  def discover(expected: Seq[(String, Long)], known: String => Boolean): Seq[(String, Long, Int)] =
    expected.collect { case (path, key) if !known(path) => (path, key, Status.NeedDownload) }

  /** What the corrupt predicate reads of a line: the three fields whose
    * joint absence marks it corrupt. A type mismatch below them never
    * nulls a line (the tolerant parse keeps partial results), so the
    * rest of the envelope cannot change the verdict; the JSON tokenizer
    * still checks the whole line's syntax, and skips the rest unparsed.
    */
  private val envelopeKeys = org.apache.spark.sql.types.StructType(
    GhArchiveSchema.envelope.filter(f => Set("id", "type", "created_at")(f.name)))

  /** A4 — the corrupt-line predicate: adds a boolean `corrupt` column to
    * hour-file lines (a `value` column): the line is not a JSON object,
    * or its id, type and created_at are all null. from_json rather than
    * the JSON datasource: Spark disallows referencing the file source's
    * internal corrupt-record column (SPARK-21610), and from_json yields
    * an all-null struct for a corrupt line.
    */
  def flagCorrupt(lines: DataFrame): DataFrame = {
    val r = col("__r")
    lines.withColumn("__r", from_json(col("value"), envelopeKeys))
      .withColumn("corrupt", r.isNull ||
        (r("id").isNull && r("type").isNull && r("created_at").isNull))
      .drop("__r")
  }

  /** A4/A5 — validator: count corrupt lines per input file; any
    * corruption ⇒ the whole file is quarantined for re-download,
    * mirroring the reference's delete-and-reset (reference:
    * app/checker_worker.js:8-51, app/service/log_valid_checker.ts:9-42).
    * Returns (path, total_lines, corrupt_lines, valid); a file with no
    * line gets no row. The pipeline pass does not call it: it observes
    * the same predicate over the lines it imports from
    * ([[GhEventParser.readLanded]]).
    */
  def validate(spark: SparkSession, files: Seq[String]): DataFrame =
    flagCorrupt(GhEventParser.readLines(spark, files))
      .groupBy("path")
      .agg(count(lit(1)).as("total_lines"),
        sum(col("corrupt").cast("long")).as("corrupt_lines"))
      .withColumn("valid", col("corrupt_lines") === 0)

  /** A23 — import-status reconciler: the hours of `imported` that are
    * absent from the events table, whose `created_at` column is read
    * (the reference issues a NOT-IN-subquery over arrayJoin'd hour keys,
    * reference: app/service/log_importer_status_checker.ts:23-26). The
    * table's distinct hour keys are collected to the driver, one set per
    * task, and subtracted there: one Spark job, no join. It still scans
    * the table's whole `created_at` column on every call.
    */
  def absentHours(imported: Seq[Long], events: DataFrame): Set[Long] =
    if (imported.isEmpty) Set.empty
    else {
      val present = events.where(col("created_at").isNotNull)
        .select(date_format(col("created_at"), "yyyyMMddHH").cast("long"))
        .as(Encoders.scalaLong)
        .mapPartitions(keys => keys.toSet.iterator)(Encoders.scalaLong)
        .collect().toSet
      imported.toSet -- present
    }

  /** [[absentHours]] over a meta table: its Imported rows whose hour is
    * absent from `events`, with status reset to Verified (re-import).
    */
  def reconcile(meta: DataFrame, events: DataFrame): DataFrame = {
    val imported = meta.filter(col("status") === Status.Imported)
    val absent = absentHours(
      imported.select("hour_key").as(Encoders.scalaLong).collect().toSeq, events)
    imported.filter(col("hour_key").isin(absent.toSeq: _*))
      .withColumn("status", lit(Status.Verified))
  }

  /** The reference's status document, field-for-field (reference:
    * app/service/update_status.ts:20-39):
    *
    *   total       = needDownload + downloaded + imported + verified
    *   imported    = imported
    *   importFail  = total - imported - needDownload
    *   missing     = needDownload
    *   missingRate = (total - imported) / total
    *   missingArr  = basenames of NeedDownload files, sorted
    *   updateTime  = "yyyy-MM-dd HH:mm:ss"
    *
    * Note missingArr lists only NeedDownload files (not every
    * not-yet-Imported file) — the Downloaded/Verified backlog shows up
    * in missingRate but not in the array, exactly as the reference.
    */
  final case class StatusDoc(total: Long, imported: Long, importFail: Long,
      missing: Long, missingRate: Double, missingArr: Seq[String],
      updateTime: String) {
    def toJson: String = {
      val arr = missingArr.map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ",", "]")
      s"""{"total":$total,"imported":$imported,"importFail":$importFail,""" +
        s""""missing":$missing,"missingRate":$missingRate,""" +
        s""""missingArr":$arr,"updateTime":"$updateTime"}"""
    }
  }

  def statusDocument(meta: DataFrame, updateTime: String): StatusDoc = {
    // meta is checkpoint-table scale (one row per hour file); ONE
    // aggregation pass serves both the counts and the missing list —
    // the NeedDownload group's rows carry their basenames into a
    // sorted collect_list (null for every other status, so imported
    // paths never travel), where the previous shape scanned meta twice.
    val rows = meta.groupBy("status").agg(
        count(lit(1)).as("n"),
        sort_array(collect_list(when(col("status") === Status.NeedDownload,
          element_at(split(col("path"), "/"), -1)))).as("basenames"))
      .collect()
    val counts = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    def c(s: Int) = counts.getOrElse(s, 0L)
    val total = c(Status.NeedDownload) + c(Status.Downloaded) +
      c(Status.Verified) + c(Status.Imported)
    val missingArr = rows.find(_.getInt(0) == Status.NeedDownload)
      .map(_.getSeq[String](2)).getOrElse(Seq.empty)
    StatusDoc(
      total = total,
      imported = c(Status.Imported),
      importFail = total - c(Status.Imported) - c(Status.NeedDownload),
      missing = c(Status.NeedDownload),
      missingRate =
        if (total == 0) 0.0 else (total - c(Status.Imported)).toDouble / total,
      missingArr = missingArr,
      updateTime = updateTime)
  }
}

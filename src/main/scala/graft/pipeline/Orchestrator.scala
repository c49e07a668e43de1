package graft.pipeline

import graft.ingest._
import graft.operators.Dedup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Batch pipeline orchestrator (SURVEY A30; reference:
  * app/schedule/update_log.ts:10-52): the hourly cron body as one
  * idempotent run over a checkpoint table —
  *   enumerate → discover → validate → import → reconcile → status.
  *
  * The downloader (A3) is a deployment concern (no egress here): this
  * orchestrator treats "downloaded" as "file exists under baseDir",
  * exactly what the reference's exist-checker establishes
  * (app/service/log_exist_checker.ts:8-19). State is the reference's
  * `meta.json`: one (path, hour_key, status) row per hour file, about
  * 8.8k a year, persisted as a small parquet table. A pass collects it
  * into a driver-side map, walks the state machine there, and writes it
  * back once. Each Downloaded or Verified hour file is decompressed once
  * per pass: the validator's verdict is observed while its lines
  * materialize ([[GhEventParser.readLanded]]), and only the lines of
  * files that import are parsed and merged. Reconciliation collects the
  * table's hour keys to the driver and subtracts them there. Both tables
  * are read with their known schemas, so no job infers one. A pass that
  * changes no status does not rewrite the checkpoint table.
  */
object Orchestrator {

  import FilePipeline.Status

  private val metaSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("hour_key", LongType),
    StructField("status", IntegerType)))

  /** The events table as stored: read with it, no job infers the schema
    * from parquet footers.
    */
  private val eventsSchema =
    EventsSchema.schema.add(EventsWriter.partitionCol, IntegerType)

  private def metaFrame(spark: SparkSession, rows: Iterable[(String, Long, Int)]): DataFrame =
    spark.createDataFrame(rows.map { case (p, k, s) => Row(p, k, s) }.toSeq.asJava, metaSchema)

  /** The checkpoint table; `<meta>.old` when `<meta>` is missing (a
    * [[saveMeta]] stopped between its two renames); empty when neither
    * exists.
    */
  def loadMeta(spark: SparkSession, metaPath: String): DataFrame =
    readMeta(spark, metaPath)._1

  /** [[loadMeta]], and whether the table came from `<meta>` itself. */
  private def readMeta(spark: SparkSession, metaPath: String): (DataFrame, Boolean) = {
    def read(path: String) =
      try Some(spark.read.schema(metaSchema).parquet(path))
      catch { case _: AnalysisException => None }
    read(metaPath).map(_ -> true)
      .orElse(read(metaPath + ".old").map(_ -> false))
      .getOrElse(metaFrame(spark, Nil) -> false)
  }

  /** One Spark write into a sibling temp directory, renamed into place:
    * a reader of `metaPath` sees the old table, the new one or, between
    * the two renames, `<meta>.old`, which [[loadMeta]] falls back to —
    * never a half-written or empty one. `<meta>.old` is only replaced
    * when `<meta>` exists to take its place.
    */
  def saveMeta(meta: DataFrame, metaPath: String): Unit = {
    val target = new Path(metaPath)
    val tmp = new Path(metaPath + ".tmp")
    val old = new Path(metaPath + ".old")
    val fs = target.getFileSystem(meta.sparkSession.sessionState.newHadoopConf())
    fs.delete(tmp, true) // a crashed pass's partial write
    meta.coalesce(1).write.parquet(tmp.toString)
    def fail() = throw new java.io.IOException(s"could not move $tmp into place at $metaPath")
    if (fs.exists(target)) {
      fs.delete(old, true)
      if (!fs.rename(target, old)) fail()
    }
    if (!fs.rename(tmp, target)) fail()
    fs.delete(old, true)
  }

  /** One full pipeline pass over the hours in [startHour, endHour)
    * (`yyyy-MM-dd HH:mm:ss`, UTC). Returns the updated meta table.
    */
  def runOnce(spark: SparkSession, baseDir: String, tablePath: String,
      metaPath: String, startHour: String, endHour: String): DataFrame = {
    // path → (hour_key, status)
    val state = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Int)]
    val (stored, inPlace) = readMeta(spark, metaPath)
    stored.collect().foreach(r => state(r.getString(0)) = (r.getLong(1), r.getInt(2)))
    val loaded = state.toMap
    def having(status: Int): Seq[String] =
      state.collect { case (p, (_, `status`)) => p }.toSeq
    def set(paths: Seq[String], status: Int): Unit =
      paths.foreach(p => state(p) = (state(p)._1, status))
    val prefix = baseDir + "/"

    // 1. enumerate + discover (A1/A2)
    FilePipeline.discover(FilePipeline.enumerateHours(startHour, endHour), state.contains)
      .foreach { case (p, k, s) => state(p) = (k, s) }

    // 2. exist-check: NeedDownload files present on disk ⇒ Downloaded
    set(having(Status.NeedDownload).filter(p => new java.io.File(prefix + p).exists),
      Status.Downloaded)

    // 3. read every Downloaded and Verified file once (A4/A5): the
    // validator's verdict is observed while the lines materialize, so
    // valid Downloaded files become Verified without a second read;
    // corrupt ones stay Downloaded.
    val landed = having(Status.Downloaded) ++ having(Status.Verified)
    if (landed.nonEmpty) {
      // the reader reports URIs (file:///...); relativize at the literal
      // baseDir prefix, robust to the slash count
      val (lines, files) = GhEventParser.readLanded(spark, landed.map(prefix + _))
      try {
        val uri = files.keys.map(u => u.substring(u.indexOf(prefix) + prefix.length) -> u).toMap
        set(having(Status.Downloaded).filter(p => uri.get(p).exists(files)), Status.Verified)

        // 4. import Verified files (A5–A19): only their lines are parsed.
        // The merge overwrites every month it touches, so files do not
        // pile up across passes; compact rewrites a month only when this
        // one merge wrote it as more range partitions than its file limit.
        val toImport = having(Status.Verified)
        if (toImport.nonEmpty) {
          val batch = lines.filter(col("path").isin(toImport.flatMap(uri.get): _*))
          EventsWriter.merge(GhEventParser.parse(GhEventParser.readJson(batch)), tablePath)
          EventsWriter.compact(spark, tablePath)
        }
        set(toImport, Status.Imported)
      } finally Dedup.unpersistCheckpoint(lines)
    }

    // 5. reconcile imported hours against the table (A23); with no
    // table yet, every Imported row resets (nothing is present)
    val imported = having(Status.Imported)
    val keys = imported.map(state(_)._1)
    val absent =
      (try Some(spark.read.schema(eventsSchema).parquet(tablePath))
       catch { case _: AnalysisException => None })
        .fold(keys.toSet)(FilePipeline.absentHours(keys, _))
    set(imported.filter(p => absent(state(p)._1)), Status.Verified)

    // a pass that changed no status leaves `<meta>` as it was; one that
    // read `<meta>.old` still writes, to put `<meta>` back
    val meta = metaFrame(spark, state.map { case (p, (k, s)) => (p, k, s) })
    if (!inPlace || state.toMap != loaded) saveMeta(meta, metaPath)
    meta
  }

  /** Non-reentrant wrapper — the reference's in-flight guard
    * (app cache `updating` flag, app/schedule/update_log.ts:14-18):
    * a second invocation while one is running returns None and does
    * nothing. The flag is a lock file next to the checkpoint table
    * holding an OWNER TOKEN, so the guard also holds across driver
    * processes sharing the meta path; a crashed run's stale lock is
    * reclaimed after `staleLockMs`.
    *
    * Races handled explicitly:
    *  - two contenders reclaiming the same stale lock: reclaim is an
    *    atomic RENAME of the stale file to a per-contender name — only
    *    one rename can succeed, the loser backs off;
    *  - a run outliving `staleLockMs` whose lock was reclaimed by a
    *    newer run: release deletes the lock only if it still carries
    *    THIS run's token, so the old run cannot delete the new
    *    holder's lock.
    */
  def runGuarded(spark: SparkSession, baseDir: String, tablePath: String,
      metaPath: String, startHour: String, endHour: String,
      staleLockMs: Long = 6 * 60 * 60 * 1000L): Option[DataFrame] = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val lock = Paths.get(metaPath + ".lock")
    Option(lock.getParent).foreach(p => Files.createDirectories(p))
    val token = java.util.UUID.randomUUID().toString
    def createWithToken(): Boolean =
      try {
        // CREATE_NEW is O_EXCL-atomic; a reader in the create→write gap
        // sees an empty token, which matches no contender's
        Files.write(lock, token.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def reclaimStale(): Boolean =
      try {
        val stale = Files.getLastModifiedTime(lock).toMillis
        System.currentTimeMillis() - stale > staleLockMs && {
          // atomic rename: exactly one contender wins the stale file
          val trash = Paths.get(s"$lock.$token.reclaim")
          Files.move(lock, trash, StandardCopyOption.ATOMIC_MOVE)
          Files.deleteIfExists(trash)
          createWithToken()
        }
      } catch { case _: java.io.IOException => false }
    def ownsLock(): Boolean =
      try new String(Files.readAllBytes(lock), "UTF-8") == token
      catch { case _: java.io.IOException => false }

    if (!(createWithToken() || reclaimStale())) None
    else
      try Some(runOnce(spark, baseDir, tablePath, metaPath, startHour, endHour))
      finally if (ownsLock()) Files.deleteIfExists(lock)
  }
}

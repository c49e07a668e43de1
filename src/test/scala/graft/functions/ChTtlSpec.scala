package graft.functions

import graft.SparkTestBase
import java.io.File

/** ChTtl: ClickHouse `TTL ts + INTERVAL n DELETE` as an explicit
  * maintenance pass — fully-expired partitions drop PHYSICALLY
  * (directory gone, rows never decoded), the boundary partition goes
  * through the bucket-preserving DELETE rewrite, and everything past
  * the cutoff is untouched byte for byte.
  */
class ChTtlSpec extends SparkTestBase {

  private def partDir(name: String, day: Int) =
    new File(s"spark-warehouse/$name/day_key=$day")

  private def md5s(name: String, day: Int): Map[String, String] =
    Option(partDir(name, day).listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
        f.getName -> h.map("%02x".format(_)).mkString
      }.toMap

  test("partitioned + bucketed: expired days drop physically, the " +
      "boundary day rewrites keeping buckets, later days are " +
      "byte-identical") {
    import spark.implicits._
    val name = "mut_ttl"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new File(s"spark-warehouse/$name"))
    spark.sql(s"""CREATE TABLE $name
      (id INT, user_id BIGINT, v DOUBLE, ts TIMESTAMP, day_key INT)
      USING parquet PARTITIONED BY (day_key)
      CLUSTERED BY (user_id) SORTED BY (user_id) INTO 4 BUCKETS""")
    // four days, rows at 06:00 and 18:00 each — the noon cutoff lands
    // INSIDE day 11, so both TTL grains must fire
    val rows = for {
      d <- 10 to 13; h <- Seq(6, 18); i <- 1 to 10
    } yield (d * 1000 + h * 100 + i, (i % 7).toLong, i.toDouble,
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00"),
      20240100 + d)
    rows.toDF("id", "user_id", "v", "ts", "day_key")
      .repartition(4, $"user_id").sortWithinPartitions("user_id")
      .write.mode("append").insertInto(name)
    val (before12, before13) = (md5s(name, 20240112), md5s(name, 20240113))
    assert(before12.nonEmpty && before13.nonEmpty)
    // asOf 01-13 12:00, INTERVAL 2 DAY → cutoff 01-11 12:00:
    // day 10 fully expired, day 11 straddles, days 12/13 survive whole
    val (dropped, rewritten) =
      ChTtl.applyTtl(spark, name, "ts", "2 DAY", "2024-01-13 12:00:00")
    assert(dropped === 1, s"expected 1 dropped partition, got $dropped")
    assert(rewritten === 1, s"expected 1 rewritten partition, got $rewritten")
    // physical reclaim: the expired day's DIRECTORY is gone (an
    // external-table DROP PARTITION alone would only deregister it)
    assert(!partDir(name, 20240110).exists(),
      "expired partition directory still on disk — TTL did not reclaim")
    // untouched days: byte-identical files
    assert(md5s(name, 20240112) === before12 &&
      md5s(name, 20240113) === before13,
      "TTL touched partitions past the cutoff")
    // boundary day: one bucket-id-named file PER SURVIVING BUCKET
    // (a bucket whose users all expired writes no file)
    val bFiles = md5s(name, 20240111).keySet
    assert(bFiles.nonEmpty && bFiles.size <= 4,
      s"expected <=4 bucket files, got $bFiles")
    assert(bFiles.flatMap(
        "_(\\d{5})\\.".r.findFirstMatchIn(_).map(_.group(1)))
        .size === bFiles.size,
      s"more than one file per bucket id: $bFiles")
    // survivor set exact: everything at/after the cutoff, nothing else
    val got = spark.table(name).select("id")
      .collect().map(_.getInt(0)).toSet
    val cutoff = java.sql.Timestamp.valueOf("2024-01-11 12:00:00")
    val want = rows.collect { case (id, _, _, ts, _) if !ts.before(cutoff) => id }.toSet
    assert(got === want)
    // the bucketed read path survived both TTL grains
    val fmt = spark.table(name).groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)))
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(fmt.contains("Bucketed: true") && !fmt.contains("hashpartitioning"),
      "bucket layout lost through the TTL pass")
  }

  test("the TTL pass decodes O(stats + boundary): straddling " +
      "partitions are handed to the mutation, no rediscovery scan") {
    import spark.implicits._
    val name = "mut_ttl_bound"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new File(s"spark-warehouse/$name"))
    spark.sql(s"""CREATE TABLE $name
      (id INT, ts TIMESTAMP, day_key INT)
      USING parquet PARTITIONED BY (day_key)""")
    // ten days × 100 rows; asOf 01-19 12:00 INTERVAL 2 DAY → cutoff
    // 01-17 12:00: days 10–16 fully expired (700 rows), day 17
    // straddles, 18/19 survive whole
    val rows = for {
      d <- 10 to 19; h <- Seq(6, 18); i <- 1 to 50
    } yield (d * 10000 + h * 100 + i,
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00"),
      20240100 + d)
    rows.toDF("id", "ts", "day_key").write.mode("append").insertInto(name)
    val ((dropped, rewritten), read) = inputRecords(
      ChTtl.applyTtl(spark, name, "ts", "2 DAY", "2024-01-19 12:00:00"))
    assert(dropped === 7 && rewritten === 1, s"($dropped, $rewritten)")
    // accounting: the stats pass reads every row's ts once (1000);
    // the restricted rewrite reads the boundary day's 100 rows to
    // stage, its 50 staged survivors to insert, and 50 again for the
    // emptied-partition probe — ~1200 total. The OLD rediscovery scan
    // (predicate over the whole surviving table) would add the
    // unexpired days' 300 rows on top; the bound sits between.
    assert(read <= 1300L,
      s"TTL pass decoded $read rows — a rediscovery scan over the " +
        "unexpired body is back")
    val got = spark.table(name).count()
    assert(got === 250L) // 50 (day17 evening) + 200 (days 18/19)
  }

  test("a partition whose ts values are all NULL neither NPEs nor " +
      "expires, under either timestamp API") {
    import spark.implicits._
    val name = "mut_ttl_nullts"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new File(s"spark-warehouse/$name"))
    spark.sql(s"""CREATE TABLE $name
      (id INT, ts TIMESTAMP, day_key INT)
      USING parquet PARTITIONED BY (day_key)""")
    Seq((1, null, 1), (2, null, 1),
      (3, "2024-01-10 06:00:00", 2), (4, "2024-01-13 06:00:00", 3))
      .map { case (i, t, d) =>
        (i, Option(t).map(java.sql.Timestamp.valueOf).orNull, d) }
      .toDF("id", "ts", "day_key").write.mode("append").insertInto(name)
    // java8API on: collect would return Instant, not Timestamp — the
    // engine-side boolean comparison must not care (round-17 ADVICE)
    val prev = spark.conf.get("spark.sql.datetime.java8API.enabled", "false")
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try {
      val (dropped, rewritten) =
        ChTtl.applyTtl(spark, name, "ts", "2 DAY", "2024-01-13 12:00:00")
      // day 2 expires; the NULL-ts partition is KEPT (ts < cutoff is
      // never true for NULL, CH semantics), day 3 survives
      assert(dropped === 1 && rewritten === 0, s"($dropped, $rewritten)")
      assert(spark.table(name).select("id")
        .collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 4))
    } finally
      spark.conf.set("spark.sql.datetime.java8API.enabled", prev)
  }

  test("MODIFY TTL declares, MATERIALIZE TTL applies at the conf " +
      "instant — the full statement surface") {
    import spark.implicits._
    val name = "mut_ttl_stmt"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new File(s"spark-warehouse/$name"))
    spark.sql(s"""CREATE TABLE $name
      (id INT, ts TIMESTAMP, day_key INT)
      USING parquet PARTITIONED BY (day_key)""")
    Seq((1, "2024-01-10 06:00:00", 10), (2, "2024-01-12 06:00:00", 12),
      (3, "2024-01-13 06:00:00", 13))
      .map { case (i, t, d) => (i, java.sql.Timestamp.valueOf(t), d) }
      .toDF("id", "ts", "day_key").write.mode("append").insertInto(name)
    // no declaration yet → MATERIALIZE refuses
    val e0 = intercept[IllegalArgumentException](
      ChCompat.sql(spark, s"ALTER TABLE $name MATERIALIZE TTL"))
    assert(e0.getMessage.contains("no TTL declared"))
    // declaration-only: MODIFY TTL must not delete anything by itself
    ChCompat.sql(spark,
      s"ALTER TABLE $name MODIFY TTL ts + INTERVAL 2 DAY DELETE")
    assert(spark.table(name).count() === 3)
    assert(ChTtl.declaredTtl(name) === Some(ChTtl.TtlDecl("ts", "2 DAY")))
    // materialize at a pinned instant
    spark.conf.set(ChTtl.asOfConfKey, "2024-01-13 12:00:00")
    try ChCompat.sql(spark, s"ALTER TABLE $name MATERIALIZE TTL")
    finally spark.conf.unset(ChTtl.asOfConfKey)
    assert(spark.table(name).select("id")
      .collect().map(_.getInt(0)).sorted.toSeq === Seq(2, 3))
    // unsupported TTL shapes refuse loudly instead of misapplying
    val e1 = intercept[IllegalArgumentException](ChCompat.sql(spark,
      s"ALTER TABLE $name MODIFY TTL ts + INTERVAL 1 DAY TO DISK 'cold'"))
    assert(e1.getMessage.contains("unsupported TTL"))
  }

  test("parseTtlExpr: both CH spellings, quarter normalization, " +
      "richer shapes refused") {
    assert(ChTtl.parseTtlExpr("ts + INTERVAL 16 DAY DELETE")
      === Some(ChTtl.TtlDecl("ts", "16 DAY")))
    assert(ChTtl.parseTtlExpr("`created_at` + INTERVAL 3 MONTHS")
      === Some(ChTtl.TtlDecl("created_at", "3 MONTH")))
    assert(ChTtl.parseTtlExpr("ts + toIntervalDay(90) DELETE")
      === Some(ChTtl.TtlDecl("ts", "90 DAY")))
    assert(ChTtl.parseTtlExpr("ts + INTERVAL 2 QUARTER")
      === Some(ChTtl.TtlDecl("ts", "6 MONTH")))
    assert(ChTtl.parseTtlExpr("ts + INTERVAL 1 DAY TO DISK 'cold'").isEmpty)
    assert(ChTtl.parseTtlExpr(
      "ts + INTERVAL 1 DAY, v + INTERVAL 2 DAY").isEmpty)
    assert(ChTtl.parseTtlExpr(
      "ts + INTERVAL 1 DAY GROUP BY k SET v = max(v)").isEmpty)
  }

  test("unpartitioned table: TTL degrades to the plain DELETE") {
    import spark.implicits._
    val name = "mut_ttl_flat"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new File(s"spark-warehouse/$name"))
    spark.sql(
      s"CREATE TABLE $name (id INT, ts TIMESTAMP) USING parquet")
    Seq((1, "2024-01-10 06:00:00"), (2, "2024-01-12 06:00:00"),
      (3, "2024-01-13 06:00:00"))
      .map { case (i, t) => (i, java.sql.Timestamp.valueOf(t)) }
      .toDF("id", "ts").write.mode("append").insertInto(name)
    ChTtl.applyTtl(spark, name, "ts", "2 DAY", "2024-01-13 12:00:00")
    assert(spark.table(name).select("id")
      .collect().map(_.getInt(0)).sorted.toSeq === Seq(2, 3))
  }
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry gate's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Order-independent equality hash of a gate result: columns sorted
    * by name (the driver's compare convention), rows xxhash64'd, then
    * combined with order-insensitive aggregates (count + exact DECIMAL
    * sum + xor) — so the hash is a pure function of the result SET and
    * two runs compare without materializing either.
    */
  private[graft] def resultHash(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sorted
      .map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df
      .select(xxhash64(concat_ws("\u0001", cols: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")),
        expr("bit_xor(h)"))
      .first()
    s"n=${r.get(0)} sum=${r.get(1)} xor=${r.get(2)}"
  }

  /** `--twice <sfDir> [names...]`: run every gate TWICE in one JVM and
    * compare result hashes — the double-run determinism gate (VERDICT
    * r10 #7). Catches what the single-pass driver structurally cannot:
    * scratch-dir reuse (r53/r57 streaming state dirs), persisted-index
    * clobbering (s03 centroids, s04 codebooks), temp-view collisions,
    * and any accumulated-state dependence. Exit 1 on any mismatch or
    * error.
    */
  private def runTwice(sfDir: String, names: Seq[String]): Unit = {
    val selected = SparkEntry.select(names)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    graft.functions.ChCompat.registerAll(spark)
    spark.sparkContext.setLogLevel("WARN")
    var bad = List.empty[String]
    selected.sortBy(_.name).foreach { case SparkEntry.Gate(name, fn, _) =>
      try {
        val h1 = resultHash(fn(spark, sfDir))
        val h2 = resultHash(fn(spark, sfDir))
        if (h1 != h2) {
          bad ::= name
          System.err.println(s"[twice] MISMATCH $name: [$h1] vs [$h2]")
        } else println(s"[twice] ok $name $h1")
      } catch { case e: Throwable =>
        bad ::= name
        System.err.println(s"[twice] ERROR $name: ${e.getMessage}")
      }
    }
    println(s"""{"twice_total":${selected.size},"twice_bad":${bad.size},""" +
      s""""bad":[${bad.sorted.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--twice")) {
      require(args.length >= 2, "usage: Verify --twice <sfDir> [names...]")
      runTwice(args(1), args.drop(2)); return
    }
    val Array(sfDir, outDir, rest @ _*) = args
    // optional extra args = subset of query names (dev iteration);
    // the driver passes two args and gets the full dump
    val selected = SparkEntry.select(rest)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    graft.functions.ChCompat.registerAll(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // stale-artifact guard: a /tmp survivor with this SF's basename but
    // from differently-generated test data would feed the artifact-
    // probing oracles (d11/p12/p13/g10, s03/s04/d09, t21/t23) a false
    // pass/fail. Delete every per-SF artifact root up front; this run's
    // gates rebuild them before any oracle reads them.
    graft.queries.PipelineQueries.artifactPaths(sfDir).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    // …and drop the same-JVM memos over those paths, so a second pass
    // in this JVM rebuilds instead of trusting a memo whose backing
    // parquet the line above just deleted
    graft.queries.PipelineQueries.clearArtifactMemos()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case SparkEntry.Gate(name, fn, _) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // artifact-path injection: the oracle SQL bodies name the per-SF
    // persisted artifacts with the canonical sf0.01 basename (the
    // driver's verify SF). Rewrite that basename to THIS run's SF dir
    // at dump time, so verification against any other dir reads the
    // artifact the run actually wrote — never a stale sf0.01 survivor.
    val sfBase = new java.io.File(sfDir).getName
    def inject(sql: String): String =
      sql.replaceAll("(/tmp/graft_[a-z0-9_]+/)sf0\\.01", "$1" +
        java.util.regex.Matcher.quoteReplacement(sfBase))
    // escape guard: after injection, every /tmp/graft_* reference a
    // query-oracle still carries must sit under one of THIS run's
    // artifact roots — an oracle authored against a different
    // basename (or a future root with characters the rewrite regex
    // misses) fails loudly here instead of silently reading a stale
    // artifact, exactly the failure the injection exists to prevent.
    val artifactRoots = graft.queries.PipelineQueries.artifactPaths(sfDir)
    val pathRe = "/tmp/graft_[^'\"\\s]+".r
    val injected = SparkEntry.oracleSql.map { case (k, v) => k -> inject(v) }
    injected.foreach { case (k, sql) =>
      pathRe.findAllIn(sql).foreach { pth =>
        require(artifactRoots.exists(r => pth.startsWith(r + "/") || pth == r),
          s"oracle $k references artifact path $pth outside this run's " +
            s"roots ${artifactRoots.mkString(", ")} — injection escape")
      }
    }
    val json = injected
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A gate that failed to execute leaves no parquet dir; a runner that
    // only globs output dirs would silently drop it from the round's
    // artifact. Record failures explicitly so a dropped gate reads as an
    // error, never as absence.
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size}/${selected.size} gates FAILED: " +
          failed.keys.mkString(", "))
    spark.stop()
  }
}

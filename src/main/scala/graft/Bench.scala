package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A failed query is reported per-name in "errors"
  * (never a fake timing) and flips the exit code — the driver still gets
  * parseable JSON either way.
  *
  * Headline semantics (round-17 VERDICT #1): `value` = the sum of
  * per-gate MINIMA over the session's same-source samples (this run's
  * per-gate min-of-two included) — the reproducible capability, stable
  * across ambient-load swings because each sample can only tighten it.
  * `fresh_total` is this run's raw sample; `gate_min_runs` says how
  * many samples the minima fold over. Single samples on this box swing
  * up to 4× with background load, so the raw total is an honest
  * measurement of the RUN but not of the CODE.
  */
object Bench {

  /** Deterministic CPU+shuffle calibration micro-job (round-15 VERDICT
    * #1): identical code swung 83→180 s across same-commit runs purely
    * on background host load, so raw suite totals are not comparable
    * round-over-round. This probe — a seeded 10 M-row hash-aggregate
    * into 1 M groups with a top-k sort-merge, no input tables, no RNG —
    * costs the same work every run by construction; its wall-clock is
    * therefore a pure host-speed sample. Timed immediately before and
    * after each suite pass; `normalized_total = fresh_total ×
    * (PROBE_REF / probe_now)` rescales the suite total to the
    * reference host speed, so a noisy-host sample stops masquerading
    * as a code regression.
    */
  private def calibrationProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 10L * 1000 * 1000, 1L, 32)
      .select(pmod(xxhash64(col("id")), lit(1000000L)).as("k"), col("id"))
      .groupBy("k")
      .agg(sum("id").as("s"), count(lit(1)).as("c"))
      .orderBy(col("s").desc, col("k").asc)
      .limit(1000)
      .collect()
    ((System.nanoTime() - t0) / 1e7).round / 100.0
  }

  /** The probe's wall-clock on THIS box at the round-16 measurement
    * basis (min of 6 back-to-back samples, local[32], moderate ambient
    * load: 0.82–1.04 s) — the fixed denominator that makes normalized
    * totals comparable across rounds. The absolute value is arbitrary
    * (it defines the reference host speed, nothing else); what matters
    * is that it never silently changes. If the hardware changes,
    * re-measure and bump WITH a round note.
    */
  private val ProbeRef = 0.82

  def main(args: Array[String]): Unit = {
    // optional args = subset of query names to run (dev iteration);
    // the driver passes none and gets the full suite
    val selected = SparkEntry.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    graft.functions.ChCompat.registerAll(spark)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT + parquet footer caches, so the first timed
    // query isn't charged for JVM cold start
    try SparkEntry.queries("r01_count")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // calibration probe: one untimed run (codegen/JIT warm), then the
    // timed before-suite sample
    calibrationProbe(spark)
    val probeBefore = calibrationProbe(spark)
    // Min of two passes: single-run numbers on this box swing 4× with
    // background load; the min is the reproducible capability. The second
    // pass ALWAYS runs — a first pass inflated by a load spike is exactly
    // the case where the retry matters (round 3 recorded 158 s for a query
    // that reproducibly runs in 8 s because a >60 s first pass used to skip
    // the retry). If the two passes still disagree by >3× the run was noisy
    // on both sides of the spike, so take one more sample; min of all.
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Mid-suite probe samples (round-16 VERDICT #5): the before/after
    // brackets correct level shifts but miss a load swing that rises
    // and falls INSIDE a ~150 s suite (observed same-code normalized
    // spread 18%). Two extra samples per pass (at 1/3 and 2/3 of the
    // gate list) shrink the window a swing can hide in; probeNow stays
    // the MIN over all samples — the ambient-floor estimate, whose
    // failure mode is EVERY probe instant landing on load while the
    // gates between them ran quiet (observed once with a single
    // mid-probe: two same-code runs 2% apart raw normalized 28% apart
    // because one run's three probes all caught spikes). More instants
    // = better odds one catches the true floor; ~1 s each against a
    // ~150 s suite.
    val probeMids = scala.collection.mutable.ArrayBuffer.empty[Double]
    def suitePass(): Unit = {
      val ordered = selected.sortBy(_.name)
      val midAts = Set(ordered.size / 3, 2 * ordered.size / 3)
      ordered.zipWithIndex.foreach { case (SparkEntry.Gate(name, fn, _), idx) =>
        if (midAts(idx) && ordered.size >= 8)
          probeMids += calibrationProbe(spark)
        def once(): Option[Double] = {
          // settle allocation debt from the previous query so its GC
          // doesn't bleed into this one's wall-clock
          System.gc()
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
          catch {
            case e: Throwable =>
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
              None
          }
        }
        once().foreach { first =>
          val second = once().getOrElse(first)
          var best = math.min(first, second)
          if (math.max(first, second) > 3.0 * best && best > 0.5)
            best = once().fold(best)(math.min(best, _))
          timings(name) = math.min(timings.getOrElse(name, best), best)
        }
      }
    }
    suitePass()
    // Suite-level noise guard (round 12's process finding): a recorded
    // full run totalled 1.8× an identical run 23 minutes earlier —
    // uniform box-noise inflation the per-gate min-of-two cannot see
    // when the WHOLE pass sits inside the load spike. If the durable
    // history holds same-gate-count runs and this total is > 1.5× their
    // median, re-run the suite once and keep per-gate mins — the
    // per-gate discipline applied at suite level. History-less sizes
    // (first run after adding gates) pass through unguarded.
    // Session-best must be keyed to the CODE VERSION, not just the gate
    // set: multiple commits land within one round, and a mid-session
    // perf regression would otherwise inherit an older commit's faster
    // total as its "session best" (round-14 ADVICE). Stamp every history
    // line with the git commit; a dirty tree gets "-dirty" and is never
    // considered comparable (same hash, unknown code).
    // Porcelain dirt, split into the two questions the two stamps ask
    // (round-16 VERDICT #1: the driver writes its round artifacts —
    // CORRECTNESS_r17.json, BENCH_r17.json, LEAKCHECK.json — into the
    // working copy BEFORE running this bench, so at driver artifact
    // time the tree was ALWAYS dirty, the srctree key degraded to
    // "unknown" in exactly the run that ships, and BENCH_r16 shipped a
    // loaded-host 194 s when a same-source 154.7 s sample existed).
    //  - `dirtyAny`: anything not owned by the bench itself or the
    //    driver's round machinery → the COMMIT stamp gets "-dirty"
    //    (commit identity covers the whole tree).
    //  - `dirtySource`: dirt under src/, build.sbt or project/ → the
    //    SOURCE-TREE stamp degrades to "unknown" (a dirty working copy
    //    of source may differ from HEAD's tree; non-source dirt cannot
    //    alter HEAD's source tree, so srctree stays valid through it).
    val (dirtyAny, dirtySource): (Boolean, Boolean) = try {
      import scala.sys.process._
      // bench's own outputs (history append, artifact overwrite) and
      // the driver's per-round artifacts: excusing them is what lets
      // the shipped run share a clean stamp with the session's earlier
      // samples. Exact-name / exact-pattern match on the porcelain
      // PATH FIELD (an endsWith would also excuse e.g.
      // old_bench_history.jsonl — review finding). Renames: BOTH sides
      // must be owned to be excused (round-15 ADVICE).
      def owned(p: String): Boolean =
        Set("bench_history.jsonl", "bench_out.json", "derby.log",
          "LEAKCHECK.json", "COPYCHECK.json", "VERDICT.md",
          "ADVICE.md").contains(p) ||
          p.matches("(BENCH|CORRECTNESS)_r[0-9]+\\.json")
      def src(p: String): Boolean =
        p.startsWith("src/") || p == "build.sbt" || p.startsWith("project/")
      val sides = Seq("git", "status", "--porcelain").!!.linesIterator
        .map(_.trim).filter(_.nonEmpty)
        .map(_.drop(2).trim.split(" -> ").toSeq).toSeq
      (sides.exists(!_.forall(owned)), sides.exists(_.exists(src)))
    } catch { case scala.util.control.NonFatal(_) => (true, true) }
    val gitCommit: String = try {
      import scala.sys.process._
      val h = Seq("git", "rev-parse", "HEAD").!!.trim
      if (h.matches("[0-9a-f]{40}")) (if (dirtyAny) h + "-dirty" else h)
      else "unknown"
    } catch { case scala.util.control.NonFatal(_) => "unknown" }
    // The SOURCE-TREE hash — the session-best key that survives
    // doc/bench-sample commits (round-15 VERDICT note: the
    // commit-keyed guard correctly refused cross-commit inheritance,
    // but round-close doc commits churn the commit hash without
    // touching code, resetting the comparable window each time and
    // shipping an understated artifact). Covers ALL engine source —
    // `HEAD:src/main/scala` (graft AND the org.apache.spark bridge
    // package) plus `HEAD:build.sbt` (perf-relevant build config) —
    // because a graft-only key would let a bridge/build change inherit
    // a session best from genuinely different code (round-16 ADVICE).
    // 20 hex chars of each tree id, concatenated: still 40 hex, so the
    // history-matching regex and validity check are unchanged.
    // Only meaningful when the SOURCE portion of the tree is clean.
    val srcTree: String = try {
      import scala.sys.process._
      val t1 = Seq("git", "rev-parse", "HEAD:src/main/scala").!!.trim
      val t2 = Seq("git", "rev-parse", "HEAD:build.sbt").!!.trim
      if (t1.matches("[0-9a-f]{40}") && t2.matches("[0-9a-f]{40}") &&
          !dirtySource) t1.take(20) + t2.take(20)
      else "unknown"
    } catch { case scala.util.control.NonFatal(_) => "unknown" }
    // History runs comparable to THIS suite: matched by the exact
    // gate-NAME set inside the queries object (a colon-count proxy
    // would accept a differently-composed suite of equal size, and
    // any history format drift would silently disable the guard —
    // round-13 ADVICE). Returns (ts, total, commit) per matching line.
    // A non-empty history where ZERO lines parse means the guard and
    // session-best are silently off — make that loud (round-14 ADVICE).
    final case class HistRun(ts: String, value: Double, commit: String,
      srctree: String, normalized: Double, freshTotal: Double,
      gates: Map[String, Double])
    def comparableHistory(): Vector[HistRun] = {
      val vRe = """"value":([0-9.eE+-]+)""".r
      val qRe = """"queries":\{([^}]*)\}""".r
      val tsRe = """"ts":"([^"]+)"""".r
      val cRe = """"commit":"([^"]+)"""".r
      val stRe = """"srctree":"([^"]+)"""".r
      val ntRe = """"normalized_total":([0-9.eE+-]+)""".r
      val ftRe = """"fresh_total":([0-9.eE+-]+)""".r
      val sfRe = """"sf":"([^"]+)"""".r
      val pairRe = """"([A-Za-z0-9_]+)":([0-9.eE+-]+)""".r
      val want = timings.keySet.toSet
      val f = new java.io.File("bench_history.jsonl")
      if (!f.exists() || f.length() == 0L) Vector.empty
      else try {
        var parsed = 0
        val out = scala.io.Source.fromFile(f).getLines().flatMap { line =>
          val vq = for {
            v <- vRe.findFirstMatchIn(line)
            q <- qRe.findFirstMatchIn(line)
          } yield (v, q)
          if (vq.isDefined) parsed += 1
          vq.flatMap { case (v, q) =>
            val gates = pairRe.findAllMatchIn(q.group(1))
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
            // the SF must match too (round-17 finding): a full-suite
            // run at a SMALLER sf (a dev smoke at sf0.001) has the
            // same gate-name set but incomparable totals — without
            // this filter its faster total would be inherited as the
            // sf0.1 artifact's "session best" and skew the noise
            // guard's median
            val sfOk = sfRe.findFirstMatchIn(line).exists(_.group(1) == sfDir)
            if (gates.keySet != want || !sfOk) None
            else {
              val value = v.group(1).toDouble
              Some(HistRun(
                tsRe.findFirstMatchIn(line).fold("")(_.group(1)),
                value,
                cRe.findFirstMatchIn(line).fold("")(_.group(1)),
                stRe.findFirstMatchIn(line).fold("")(_.group(1)),
                // normalized_total absent on pre-probe lines → NaN
                // (excluded from the normalized session-best)
                ntRe.findFirstMatchIn(line)
                  .fold(Double.NaN)(_.group(1).toDouble),
                // fresh_total falls back to value for pre-r18 lines,
                // where the two were the same number
                ftRe.findFirstMatchIn(line).fold(value)(_.group(1).toDouble),
                gates))
            }
          }
        }.toVector
        if (parsed == 0) System.err.println(
          "[bench] bench_history.jsonl is non-empty but ZERO lines " +
            "parsed — noise guard and session-best are DISABLED " +
            "(history format drift?)")
        out
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[bench] failed reading bench_history.jsonl " +
              s"(${e.getClass.getSimpleName}) — noise guard and " +
              "session-best are DISABLED")
          Vector.empty
      }
    }
    // parse once; the guard and the session-best both read this
    val history = comparableHistory()
    if (args.isEmpty && errors.isEmpty) {
      val total = timings.values.sum
      // the guard compares raw suite totals — fresh_total on both
      // sides (the headline `value` is per-gate minima from round 18
      // on, a different quantity)
      val hist = history.map(_.freshTotal).sorted
      if (hist.nonEmpty) {
        val med = hist(hist.size / 2)
        if (total > 1.5 * med) {
          System.err.println(
            f"[bench] total $total%.1f s is ${total / med}%.2f× the " +
              f"history median $med%.1f s — box-noise signature; " +
              "re-running the suite once and keeping per-gate mins")
          suitePass()
          errors.filterInPlace((k, _) => !timings.contains(k))
        }
      }
    }
    // after-suite probe sample. probe_now = MIN over all samples
    // (before, per-pass mid, after), not the mean: a transient load
    // spike that lands exactly on one probe (observed: 0.94 s before /
    // 4.41 s after around a 163 s suite) would otherwise halve the
    // normalized total — an over-correction worse than the noise it
    // fixes. The min corrects only the slowdown EVERY sample agrees is
    // ambient; a spike confined to a probe moment is ignored
    // (conservative: normalized stays closer to raw). All raw samples
    // ship in the line, so a reader can see the disagreement.
    val probeAfter = calibrationProbe(spark)
    val probeNow =
      (Seq(probeBefore, probeAfter) ++ probeMids).min
    def jmap(m: scala.collection.Map[String, String]): String =
      m.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val qs = timings.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val total = timings.values.sum
    val normalizedTotal =
      ((total * ProbeRef / probeNow) * 100).round / 100.0
    // capability vs sample (round-13 process finding): the driver's
    // artifact keeps whatever THIS run sampled, but the durable history
    // may hold a cleaner run of the identical suite from the same
    // session. Ship both: value/fresh_total is this run's honest
    // sample; session_best_total/_ts is the best comparable history
    // run (including this one), so a noise-inflated sample can never
    // masquerade as a capability regression. "Session" is a 6-hour
    // horizon: an OLDER round's faster run must not mask a genuine
    // regression in a round that kept the same gate set — only runs
    // close enough to be this session's own samples count.
    // Same-CODE only (round-14 ADVICE, widened round 16): a history
    // run is a valid session-best candidate if it ran the same code —
    // matched by the source-TREE hash when both sides carry one (so
    // doc/bench-sample commits inherit instead of resetting the
    // window), falling back to the exact commit hash for older lines
    // that predate the srctree stamp; "unknown" and "-dirty" stamps
    // never match on either key.
    val nowStamp = java.time.Instant.now().toString
    val horizon = java.time.Instant.now().minusSeconds(6L * 3600)
    val recent = history.filter { r =>
      val sameCode =
        (r.srctree == srcTree && r.srctree.matches("[0-9a-f]{40}")) ||
          (r.commit == gitCommit && r.commit.matches("[0-9a-f]{40}"))
      sameCode &&
        (try !java.time.Instant.parse(r.ts).isBefore(horizon)
         catch { case scala.util.control.NonFatal(_) => false })
    }
    val best = (recent.map(r => (r.ts, r.freshTotal)) :+
      (nowStamp -> total)).minBy(_._2)
    // normalized session-best (round-16 VERDICT #1): the raw
    // session-best still carries the ambient level of its own run; the
    // normalized one is the round-over-round comparable number. Min
    // over the same comparable window, NaN-lines (pre-probe format)
    // excluded.
    val bestNorm =
      (recent.map(_.normalized).filterNot(_.isNaN) :+ normalizedTotal).min
    // THE HEADLINE (round-17 VERDICT #1): the sum of per-gate MINIMA
    // across this session's same-source samples, this run included —
    // bench_trend.py's stable capability read promoted to the shipped
    // number. Each extra sample can only tighten it, so two
    // back-to-back same-code runs converge instead of swinging with
    // ambient load (observed same-code fresh totals 144.9→180.7 s,
    // ~17% normalized spread; the per-gate-min totals of those same
    // samples agree within ~1%). `fresh_total` stays this run's honest
    // raw sample alongside.
    val gateMinTotal = (timings.map { case (k, v) =>
      (recent.flatMap(_.gates.get(k)) :+ v).min
    }.sum * 100).round / 100.0
    val gateMinRuns = recent.size + 1
    // per-family subtotals (round-16 VERDICT #5): the gate families
    // (d/g/m/p/r/s/t/…) run in sorted order, so a mid-suite load swing
    // hits a contiguous family span — family subtotals localize WHICH
    // span moved, where a single total only says THAT something moved.
    val families = timings.toSeq
      .groupBy { case (k, _) => k.takeWhile(!_.isDigit) match {
        case "" => "?"; case f => f } }
      .toSeq.sortBy(_._1)
      .map { case (f, ts) =>
        s""""$f":${(ts.map(_._2).sum * 100).round / 100.0}""" }
      .mkString("{", ",", "}")
    val probeMidJson = probeMids.mkString("[", ",", "]")
    // `value` IS the gate-min headline when a full suite ran (dev
    // subsets keep the raw total — their gate set wouldn't match the
    // history anyway, so gateMinTotal would just equal total)
    val headline = if (args.isEmpty) gateMinTotal else total
    val line =
      s"""{"metric":"total","value":$headline,"unit":"sec","queries":$qs,""" +
      s""""gate_min_total":$gateMinTotal,"gate_min_runs":$gateMinRuns,""" +
      s""""fresh_total":$total,"session_best_total":${best._2},""" +
      s""""session_best_ts":"${best._1}","commit":"$gitCommit",""" +
      s""""srctree":"$srcTree",""" +
      s""""probe_sec_before":$probeBefore,"probe_sec_mid":$probeMidJson,""" +
      s""""probe_sec_after":$probeAfter,""" +
      s""""probe_ref":$ProbeRef,"normalized_total":$normalizedTotal,""" +
      s""""session_best_normalized":$bestNorm,"families":$families,""" +
      s""""errors":${jmap(errors)},"n_failed":${errors.size},"sf":"$sfDir"}"""
    println(line)
    // also land the line in a file: sbt interleaves its own [info]
    // prefixes and Spark logs on stdout, so a tail-parse of the build
    // output is fragile — the file parses structurally every time
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    // bench_out.json is OVERWRITTEN every run and the driver's per-round
    // BENCH_rNN.json keeps only the tail of the stdout line (~65 of 141
    // gates survived in r11) — so round-over-round trending was losing
    // the first half of the suite. Append every FULL-suite run (not dev
    // subsets) to a durable history file, stamped, so any two rounds can
    // be diffed gate-by-gate from the repo alone.
    if (args.isEmpty) {
      val hist = s"""{"ts":"$nowStamp",${line.drop(1)}""" + "\n"
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_history.jsonl"), hist.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}

package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every gate query to a markdown
  * file — the plan-review artifact: verifies pushed filters, pruned
  * schemas, broadcast choices, and the absence of nested-loop joins
  * without re-running the bench.
  *
  * Usage: runMain graft.ExplainPlans [sfDir] [outFile] [onlyQuery...]
  * (trailing args restrict the dump to named gates — the form used to
  * inspect ONE gate's plan against a rehearsal-scale work dir, where
  * file-size statistics differ from gate SF and join regimes can flip)
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val selected = SparkEntry.select(args.drop(2).toSeq)
    val spark = GraftSession.getOrCreate("8")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append(s"# Physical plans (sf dir: $sfDir)\n\n")
    sb.append("Generated by `runMain graft.ExplainPlans`. Things to check per plan:\n")
    sb.append("`PushedFilters` reaching the scan, `ReadSchema` pruned to used\n")
    sb.append("columns, broadcast on small sides, no BroadcastNestedLoopJoin\n")
    sb.append("(intended exceptions = PlanContractSpec's allowedCross set —\n")
    sb.append("s01/s06/s10 brute-force ANN scans against the tiny broadcast\n")
    sb.append("query set, s05's per-query distance tables, p07's scalar\n")
    sb.append("fan-in), wide `WholeStageCodegen` spans.\n")
    // eager-stage plans (optimization r18): the reusing/withPairsOnce
    // gates materialize their expensive subtrees at construction, so
    // the final frame's plan is just a scan of the result RDD — the
    // interesting plans are the recorded STAGE plans, appended per
    // gate below the presentation plan.
    graft.queries.PipelineQueries.recordStagePlans = true
    def compactPlan(plan: String): String =
      "0x[0-9A-Fa-f]{64,}".r.replaceAllIn(plan,
        m => s"0x…<${(m.matched.length - 2) / 2} bytes>")
    selected.sortBy(_.name).foreach { case SparkEntry.Gate(name, fn, _) =>
      graft.queries.PipelineQueries.stagePlans.clear()
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      // collapse giant binary literals (e.g. r28's serialized bloom
      // filter) — the plan SHAPE is the artifact, not the constant
      sb.append(s"\n## $name\n\n```\n${compactPlan(plan)}\n```\n")
      import scala.jdk.CollectionConverters._
      graft.queries.PipelineQueries.stagePlans.asScala.foreach {
        case (label, p) =>
          sb.append(s"\n### $name eager stage: $label\n\n```\n" +
            s"${compactPlan(p)}\n```\n")
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}

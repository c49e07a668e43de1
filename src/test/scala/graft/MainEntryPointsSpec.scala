package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `src/main` holds the engine and its driver contract: a new `main`
  * there (a probe, a rehearsal, a one-off measurement) has to be added
  * to this list on purpose, or it belongs in a separate build beside
  * `e2ebench/`. The same holds for a new environment variable, system
  * property or `spark.graft.*` setting that `src/main` reads.
  */
class MainEntryPointsSpec extends AnyFunSuite {

  /** The text of every `.scala` file under `src/main/scala`. */
  private def sources: Seq[String] =
    Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map((f: Path) => new String(Files.readAllBytes(f), "UTF-8"))

  /** Each object under `src/main/scala` that declares `def main(`, as
    * its fully qualified name without the `graft.` prefix.
    */
  private def entryPoints: Set[String] =
    sources.flatMap { src =>
      val pkg = """(?m)^package\s+([\w.]+)""".r.findAllMatchIn(src)
        .map(_.group(1)).mkString(".")
      val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(src).toSeq
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        val owner = objects.takeWhile(_.start < m.start).lastOption
          .fold("?")(_.group(1))
        s"$pkg.$owner".stripPrefix("graft.")
      }
    }.toSet

  test("src/main's mains are exactly the driver contract, the server and CorpusRun") {
    assert(entryPoints ===
      Set("Verify", "Bench", "ExplainPlans", "serve.Serve", "pipeline.CorpusRun"))
  }

  /** Every string-literal key matching `re`'s one group, over `src/main`. */
  private def literalKeys(re: scala.util.matching.Regex): Set[String] =
    sources.flatMap(re.findAllMatchIn(_).map(_.group(1))).toSet

  test("src/main reads exactly the pinned environment, property and spark.graft.* keys") {
    val envAndProps = literalKeys(
      """(?:sys\.(?:env|props)(?:\.\w+)?|System\.(?:getenv|getProperty))\s*\(\s*"([^"]+)"""".r)
    assert(envAndProps === Set("SPARK_GRAFT_SF_DIR", "GRAFT_PORT", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_STATE_PARTITIONS", "graft.stream.trackRows"))
    assert(literalKeys(""""(spark\.graft\.[\w.]+)"""".r) ===
      Set("spark.graft.ttl.asOf", "spark.graft.projections.auto"))
  }
}

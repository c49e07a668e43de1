package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `src/main` holds the engine and its driver contract: a new `main`
  * there (a probe, a rehearsal, a one-off measurement) has to be added
  * to this list on purpose, or it belongs in a separate build beside
  * `e2ebench/`.
  */
class MainEntryPointsSpec extends AnyFunSuite {

  /** Each object under `src/main/scala` that declares `def main(`, as
    * its fully qualified name without the `graft.` prefix.
    */
  private def entryPoints: Set[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f: Path =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      val pkg = """(?m)^package\s+([\w.]+)""".r.findAllMatchIn(src)
        .map(_.group(1)).mkString(".")
      val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(src).toSeq
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        val owner = objects.takeWhile(_.start < m.start).lastOption
          .fold("?")(_.group(1))
        s"$pkg.$owner".stripPrefix("graft.")
      }
    }.toSet
  }

  test("src/main's mains are exactly the driver contract, the server and CorpusRun") {
    assert(entryPoints ===
      Set("Verify", "Bench", "ExplainPlans", "serve.Serve", "pipeline.CorpusRun"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level hygiene guards for anti-patterns that type-check fine
  * and pass correctness but regress at scale.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def mainSources: Seq[(String, String)] = sources("src/main/scala")

  private def sources(dir: String): Seq[(String, String)] = {
    val root = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p)))
      .toSeq
  }

  test("no wide-decimal aggregation buffers: sum over a .cast(\"decimal\") column") {
    // sum(decimal(p,s)) allocates a precision p+10 BigDecimal buffer per
    // group — the 5-10x slower path ExactSums exists to avoid. The
    // DuckDB oracle strings legitimately use `sum(CAST(x AS DECIMAL))`
    // (that IS the oracle's exact form); this regex matches only the
    // Scala Column API spelling.
    val re = """sum\([^)]*\.cast\("decimal""".r
    val hits = mainSources.flatMap { case (path, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$path:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"wide-decimal sum buffers found — use ExactSums:\n${hits.mkString("\n")}")
  }

  test("one session factory: sessions are built only in GraftSession.scala") {
    // every session is built by graft.GraftSession, so the bench, the
    // verifier, the specs and the probes all run one engine config
    // (perfbench/ keeps its own session: it is the benchmark's build)
    val re = """SparkSession\s*\.\s*builder""".r
    val hits = (sources("src/main/scala") ++ sources("src/test/scala"))
      .filterNot { case (path, _) => path.endsWith("/GraftSession.scala") }
      .flatMap { case (path, text) =>
        text.linesIterator.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined => s"$path:${i + 1}: ${line.trim}"
        }
      }
    assert(hits.isEmpty, s"build sessions through GraftSession.build:\n${hits.mkString("\n")}")
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint over the shipped library (`src/main/scala`), the design
  * rule in ROADMAP aim 2: the only entry points are `Bench`, `Verify`
  * and `PlanDump`, and only `Bench` and `Verify` read the environment —
  * no dev-only `main`s, no environment switches on a hot path. A new one
  * fails here; a spec- or study-only main belongs in `src/test`. It also
  * keeps one memo: state keyed by session goes through [[SessionMemo]].
  */
class LibraryLintSpec extends AnyFunSuite {

  private val mains = Set("Bench.scala", "Verify.scala", "PlanDump.scala")
  private val envReaders = Set("Bench.scala", "Verify.scala")

  /** (file, line number, line) of every line under src/main/scala that
    * matches `pat`. */
  private def hits(pat: scala.util.matching.Regex): Seq[(Path, Int, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.sorted.flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if pat.findFirstIn(l).isDefined => (f, i + 1, l.trim)
        }
      }
    finally files.close()
  }

  private def outside(allowed: Set[String],
      found: Seq[(Path, Int, String)]): Seq[String] =
    found.collect {
      case (f, n, l) if !allowed(f.getFileName.toString) => s"$f:$n: $l"
    }

  test("the shipped library's only mains are Bench, Verify and PlanDump") {
    val bad = outside(mains, hits("""def main\(|extends App\b""".r))
    assert(bad.isEmpty, "\nmains outside Bench/Verify/PlanDump (move " +
      "spec-only ones to src/test):\n  " + bad.mkString("\n  "))
  }

  test("session-keyed state lives in SessionMemo alone") {
    val bad = outside(Set("SessionMemo.scala"),
      hits("""GraftBridge\.sessionUUID\(""".r))
    assert(bad.isEmpty, "\nsession-keyed state outside SessionMemo (use a " +
      "SessionMemo):\n  " +
      bad.mkString("\n  "))
  }

  test("only Bench and Verify read the environment") {
    val bad = outside(envReaders, hits("""sys\.env\b|System\.getenv""".r))
    assert(bad.isEmpty, "\nenvironment reads outside Bench/Verify (pass " +
      "a parameter or a Spark conf instead):\n  " + bad.mkString("\n  "))
  }
}

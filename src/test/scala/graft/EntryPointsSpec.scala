package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The program has a fixed set of runnable entry points; a one-off
  * measurement goes through the perfbench harness (`graftbench.Main
  * --workload queries`), not a new `main` in `src/main`. */
class EntryPointsSpec extends AnyFunSuite {

  private val Expected =
    Set("graft.Bench", "graft.Verify", "ClusterSmoke")

  private val Modifiers =
    """(?m)^[ \t]*(?:(?:private|protected|final|case|override)(?:\[\w+\])?\s+)*"""

  /** Fully-qualified object declaring each `def main(` / `extends App`. */
  private def entryPoints(root: Path): Set[String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      val src = Files.readString(f)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1))
      // declarations start a line (after modifiers), so prose in comments
      // ("the object emits ...") never counts
      val objects = (Modifiers + """object\s+(\w+)""").r.findAllMatchIn(src).toList
      def owner(at: Int): String = {
        val name = objects.takeWhile(_.start < at).lastOption.map(_.group(1))
          .getOrElse(fail(s"$f: entry point at offset $at outside any object"))
        pkg.fold(name)(p => s"$p.$name")
      }
      val mains = (Modifiers + """def\s+main\s*\(""").r.findAllMatchIn(src)
        .map(m => owner(m.start))
      val apps = (Modifiers + """object\s+(\w+)[^{]*\bextends\s+App\b""").r.findAllMatchIn(src)
        .map(m => owner(m.end))
      mains ++ apps
    }.toSet
  }

  test("src/main declares exactly the pinned entry points") {
    val found = entryPoints(Paths.get("src/main/scala"))
    assert(found == Expected,
      s"unexpected: ${found -- Expected}; missing: ${Expected -- found}")
  }
}

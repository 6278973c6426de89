package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The caller rule for `src/main`: a module stays only if an engine
  * path, a query face or a benchmark workload calls it. A file is live
  * when one of its top-level `object`/`class`/`trait` names appears,
  * comments stripped, in another live file under `src/main/scala` or
  * `perfbench/src`. Liveness is taken to a fixed point, so a module
  * whose only caller is itself dead is dead too. The roots are the
  * allow-listed files below. Tests run with cwd = the project root
  * (forked JVM). */
class CallerRuleSpec extends AnyFunSuite {

  /** Top-level names whose files count as live without a caller. */
  private val allowed = Map(
    "Smoke" -> "runMain entry point",
    "Explain" -> "runMain entry point",
    "EtlDemo" -> "runMain entry point",
    "Prof" -> "runMain entry point",
    "ScaleUp" -> "runMain entry point",
    "Verify" -> "runMain entry point",
    "GraftExtensions" -> "named by string in spark.sql.extensions",
    "EventStream" -> "its streaming gates wait for the gate harness (ROADMAP item 4)")

  private val comment =
    """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r
  private val topLevel =
    """(?m)^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|case\s+|implicit\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val ident = """\w+""".r

  private def scalaFiles(dir: String): Seq[Path] =
    scala.util.Using.resource(Files.walk(Paths.get(dir))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }

  /** The source with comments blanked; string literals are kept. */
  private def code(p: Path): String =
    comment.replaceAllIn(new String(Files.readAllBytes(p), "UTF-8"), m =>
      if (m.matched.startsWith("/")) " "
      else scala.util.matching.Regex.quoteReplacement(m.matched))

  test("every src/main module is named by another live module, perfbench or the allow-list") {
    val main = scalaFiles("src/main/scala")
    val sources = main ++ scalaFiles("perfbench/src")
    val text = sources.map(p => p -> code(p)).toMap
    val idents = text.map { case (p, t) => p -> ident.findAllIn(t).toSet }
    val names = main.map(p => p -> topLevel.findAllMatchIn(text(p)).map(_.group(1)).toSet).toMap

    val unknown = allowed.keySet -- names.values.flatten
    assert(unknown.isEmpty, s"allow-listed names no file declares: $unknown")

    def dead(live: Set[Path]): Set[Path] = main.filter { p =>
      live(p) && (names(p) & allowed.keySet).isEmpty &&
        !live.exists(q => q != p && (names(p) & idents(q)).nonEmpty)
    }.toSet
    var live = sources.toSet
    var next = dead(live)
    while (next.nonEmpty) { live --= next; next = dead(live) }
    val uncalled = main.filterNot(live).map(_.toString.replace('\\', '/')).sorted
    assert(uncalled.isEmpty, uncalled.mkString("no caller:\n", "\n", ""))
  }
}

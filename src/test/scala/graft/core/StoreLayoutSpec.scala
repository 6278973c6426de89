package graft.core

import graft.SparkTestBase
import graft.queries.SemanticIndex
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The store layer's two structural promises: it is the ONLY code
  * under `queries/` and `operators/` that names a store marker or sig
  * file or calls the publish protocol, and no publish leaves a staging
  * sibling behind on any exit path. Tests run with cwd = the project
  * root (forked JVM). */
class StoreLayoutSpec extends SparkTestBase {

  test("only StoreLayout names store files or publishes under queries/ and operators/") {
    val storeIo = """"_GRAFT_|CommitProtocol\s*\.\s*publish\s*\(""".r
    val hits = Seq("queries", "operators").flatMap { pkg =>
      scala.util.Using.resource(
          Files.walk(Paths.get("src/main/scala/graft", pkg))) {
        _.iterator().asScala
          .filter(p => p.toString.endsWith(".scala") &&
            p.getFileName.toString != "StoreLayout.scala")
          .flatMap { p =>
            val txt = new String(Files.readAllBytes(p), "UTF-8")
            storeIo.findAllMatchIn(txt).map(m => s"$p: ${m.matched}")
          }.toList
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("base and delta publishes leave no staging sibling on any exit path") {
    import spark.implicits._
    val root = Paths.get(tempDir("storelayout"), "cells")
    def residue(): Seq[Path] = Seq("-staging", "-delta-staging")
      .map(s => root.resolveSibling(root.getFileName.toString + s))
      .filter(Files.exists(_))
    val noTombs = spark.emptyDataset[Long].toDF("vec_id")
    // a frame with no columns fails a stage body on the driver in its
    // SECOND write, after the first part is already staged
    val noColumns = spark.emptyDataFrame

    // success paths
    SemanticIndex.writeBase(spark, root, Seq((1L, 0L), (2L, 0L)).toDF("vec_id", "cell"))
    assert(residue().isEmpty)
    SemanticIndex.applyMaintenance(spark, root,
      Seq((3L, 1L)).toDF("vec_id", "cell"), noTombs, epoch = Some(5L))
    assert(residue().isEmpty)
    // the replay-skip path
    SemanticIndex.applyMaintenance(spark, root,
      Seq((4L, 1L)).toDF("vec_id", "cell"), noTombs, epoch = Some(5L))
    assert(residue().isEmpty)
    assert(StoreLayout.committedDeltaCount(root) == 1)

    // throwing stage bodies: nothing commits, nothing is left behind
    intercept[Exception](SemanticIndex.applyMaintenance(spark, root,
      Seq((9L, 1L)).toDF("vec_id", "cell"), noColumns))
    assert(residue().isEmpty, residue())
    assert(StoreLayout.committedDeltaCount(root) == 1)
    intercept[Exception](SemanticIndex.writeBase(spark, root,
      Seq((9L, 1L)).toDF("vec_id", "cell"), model = Some(noColumns)))
    assert(residue().isEmpty, residue())
    assert(StoreLayout.currentBaseDir(root).map(_.getFileName.toString)
      .contains("base-1"))
    intercept[IllegalStateException](
      StoreLayout.publishDelta(root, None)(_ => throw new IllegalStateException))
    intercept[IllegalStateException](
      StoreLayout.publishBase(root, carryEpochs = true)(_ =>
        throw new IllegalStateException))
    assert(residue().isEmpty, residue())
    assert(StoreLayout.committedDeltaCount(root) == 1)
    assert(SemanticIndex.cells(spark, root).as[(Long, Long)].collect().toSet ==
      Set((1L, 0L), (2L, 0L), (3L, 1L)))
  }
}

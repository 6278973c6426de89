package graft.sources

import java.nio.file.{Files, Paths, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables

/** Hive-partitioned mirror of the documents corpus.
  *
  * The testdata ships `documents` as a single flat parquet file; a 100 TB
  * corpus would never be laid out that way — it lands partitioned by its
  * natural pruning keys (crawl source, ingest day) so that per-source
  * curation, decontamination sweeps and dashboard queries read only the
  * directories they touch (partition pruning at PLAN time, the same
  * mechanism the shift warehouse's `batch=` layout uses).
  *
  * [[documentsPartitioned]] materializes a `source=<s>/` layout once per
  * corpus (idempotent, atomic publish via temp-dir rename) and reads it
  * back through partition discovery. Queries that filter on `source`
  * then show `PartitionFilters` on the scan instead of scan-and-discard
  * (pinned in PlanQualitySpec) while returning byte-identical results to
  * the flat layout — which is exactly what the driver's oracle checks,
  * since the oracle SQL runs against the FLAT file.
  */
object PartitionedCorpus {

  /** Mirror root: one directory per distinct corpus, content-addressed by
    * the corpus path (testdata corpora are immutable, so staleness is not
    * a concern; a mutable corpus would key on a snapshot id instead).
    * Lives under the build's target/ dir when the process runs from the
    * project root (repo-local scratch, cleaned with the build); any
    * other launch directory falls back to the system temp dir — a bare
    * relative path would scatter mirrors into whatever cwd the launcher
    * happened to use (review r6). */
  private def mirrorDir(sfDir: String): Path =
    graft.core.Scratch.dir("corpus-mirror", sfDir, hashLen = 32)
      .resolve("documents")

  def documentsPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val dest = mirrorDir(sfDir)
    this.synchronized {
      if (!Files.exists(dest.resolve("_SUCCESS"))) {
        val tmp = dest.resolveSibling(s"${dest.getFileName}.tmp${System.nanoTime()}")
        Tables.documents(spark, sfDir)
          .write.mode("overwrite")
          .partitionBy("source")
          .parquet(tmp.toString)
        Files.createDirectories(dest.getParent)
        try Files.move(tmp, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // lost a cross-process race: someone else published a complete
          // mirror first — use theirs, drop ours
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException =>
            graft.core.CommitProtocol.deleteRecursively(tmp)
        }
      }
    }
    // partition discovery appends `source`; restore the flat column order
    // so downstream code and the oracle compare see the same schema
    spark.read.parquet(dest.toString)
      .select("doc_id", "text", "lang", "source", "n_chars")
  }
}

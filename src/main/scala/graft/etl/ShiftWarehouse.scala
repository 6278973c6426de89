package graft.etl

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.CommitProtocol.deleteRecursively

/** Transactional batch warehouse over parquet.
  *
  * Reproduces the reference's per-page all-or-nothing load semantics
  * (`process_and_insert_data`, shift_data_processor.py:154-183: one DB
  * transaction covering 4 bulk inserts, rollback on any failure — exercised
  * by the duplicate-PK test, tests:242-300).
  *
  * Spark has no cross-table/cross-partition transaction, so atomicity is a
  * sink-side pattern (SURVEY §4): stage → validate → move → commit marker.
  * A batch is visible iff `_commits/<batchId>` exists; the marker is written
  * last, so a crash at any earlier point leaves garbage in `_staging/` or
  * unreferenced batch dirs but never a partially visible batch. Readers list
  * commit markers and read exactly those batch directories.
  *
  * Scale: batches are append-only directories (`<table>/batch=<id>`) — no
  * rewrite of existing data on ingest. PK validation runs on the driver
  * and adds no Spark job: each staged write observes its own keys
  * (`Dataset.observe`), which are checked for NULLs, within-batch
  * duplicates and duplicates against a committed-key set this instance
  * keeps current (see [[keysFor]]). That set costs driver memory of one
  * string per committed PK.
  */
final class ShiftWarehouse(spark: SparkSession, root: String) {

  import ShiftWarehouse._

  private def rootPath: Path = Paths.get(root)
  private def commitsDir: Path = rootPath.resolve("_commits")
  private def stagingDir(batchId: String): Path = rootPath.resolve("_staging").resolve(batchId)

  /** Commit markers are `<seq>.<batchId>` with a zero-padded monotonic
    * sequence assigned at commit time: COMMIT order, not batch-id
    * lexicographic order, defines the history. (Round-4 review finding:
    * id schemes like `run-p00001`/`run-kpis` don't sort in commit order.)
    * A marker outside this grammar is an error, never guessed at. New
    * ids that would collide with the grammar are rejected at append
    * time. */
  private def committedMarkers(): Seq[(String, String)] =
    listDir(commitsDir).map(_.getFileName.toString).sorted.map(parseMarker)

  private def parseMarker(n: String): (String, String) = n.split("\\.", 2) match {
    case Array(seq, id) if seq.length == 8 && seq.forall(_.isDigit) => (seq, id)
    case _ => throw new IllegalStateException(
      s"commit marker '$n' in $commitsDir is not <8-digit seq>.<batch id>")
  }

  /** List a directory's entries (empty for a non-directory), with the
    * stream closed — the marker listing and compact both need it. */
  private def listDir(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** Keep the marker grammar unambiguous: an id whose prefix reads as a
    * `<8-digit-seq>.` would collide with sequenced marker names. */
  private def validateBatchId(batchId: String): Unit =
    require(!batchId.matches("""\d{8}\..*"""),
      s"batch id '$batchId' collides with the <seq>.<id> marker grammar")

  /** Next commit sequence number: max committed + 1 (single-writer). */
  private def nextSeq(markers: Seq[(String, String)] = committedMarkers()): Long =
    markers.map(_._1.toLong).maxOption.getOrElse(0L) + 1

  /** Committed batch ids, in commit order. */
  private[graft] def committedBatches: Seq[String] = committedMarkers().map(_._2)

  /** Read one normalized table (committed batches only). Empty-but-typed
    * DataFrame when nothing has been committed. */
  def table(name: String): DataFrame = {
    val schema = tableSchemas(name)
    val dirs = committedBatches
      .map(b => rootPath.resolve(name).resolve(s"batch=$b"))
      .filter(Files.isDirectory(_))
      .map(_.toString)
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  def shifts: DataFrame = table("shifts")
  def breaks: DataFrame = table("breaks")
  def allowances: DataFrame = table("allowances")
  def awardInterpretations: DataFrame = table("award_interpretations")
  def kpis: DataFrame = table("kpis")

  def normalized: NormalizedShifts =
    NormalizedShifts(shifts, breaks, allowances, awardInterpretations)

  /** Atomically append one batch across the four normalized tables.
    * Validates the PKs (not NULL, unique within the batch and against
    * committed data) before anything becomes visible; any failure
    * discards the staging area — the reference's rollback. */
  def appendBatch(batch: NormalizedShifts, batchId: String): Unit = {
    val tables = Seq(
      "shifts" -> batch.shifts,
      "breaks" -> batch.breaks,
      "allowances" -> batch.allowances,
      "award_interpretations" -> batch.awardInterpretations)
    appendTables(tables, batchId)
  }

  /** Append KPI rows as their own committed batch. */
  def appendKpis(kpiRows: DataFrame, batchId: String): Unit =
    appendTables(Seq("kpis" -> kpiRows), batchId)

  private def appendTables(tables: Seq[(String, DataFrame)], batchId: String): Unit = {
    validateBatchId(batchId)
    // one listing serves the already-committed check, the key-set
    // catch-up and the marker's sequence (single writer)
    val markers = committedMarkers()
    require(!markers.exists(_._2 == batchId), s"batch $batchId already committed")
    val marker = (f"${nextSeq(markers)}%08d", batchId)
    val staging = stagingDir(batchId)
    val validated = try {
      val observed = tables.flatMap { case (name, df) =>
        val obs = pkColumns.get(name).map(_ -> Observation())
        obs.fold(df) { case (pk, o) =>
          df.observe(o, collect_list(col(pk)).as("keys"),
            count(when(col(pk).isNull, 1)).as("nulls"))
        }.write.mode("overwrite").parquet(staging.resolve(name).toString)
        obs.map { case (pk, o) => (name, pk, o) }
      }
      if (observed.isEmpty) None
      else {
        val committed = keysFor(markers)
        Some(committed -> observed.map { case (name, pk, o) =>
          name -> checkedKeys(name, pk, o, committed(name), batchId)
        })
      }
    } catch {
      // a stage/validate failure discards the staging area — nothing
      // was ever visible (the reference's rollback)
      case e: Throwable => deleteRecursively(staging); throw e
    }
    // Publish through the shared protocol: move staged dirs into
    // place, then the commit marker last (single-writer, like the
    // reference's one ETL process). Rollback of moved-but-unmarked
    // dirs lives in CommitProtocol.
    graft.core.CommitProtocol.publish(staging,
      tables.map { case (name, _) =>
        staging.resolve(name) -> rootPath.resolve(name).resolve(s"batch=$batchId")
      }) {
      Files.createDirectories(commitsDir)
      Files.createFile(commitsDir.resolve(s"${marker._1}.$batchId"))
      ()
    }
    validated.foreach { case (committed, batchKeys) =>
      knownKeys = committed.plus(Seq(marker), batchKeys)
    }
  }

  /** Committed PKs as of the last [[keysFor]] or commit of this instance. */
  @volatile private var knownKeys = CommittedKeys.empty

  /** Every committed PK per table, for the commit listing `markers`. The
    * held set is reused while every marker it covers is still listed; a
    * covered marker that is gone (`clear`, `compact`, an external
    * change) discards it. Markers not yet covered — first use on an
    * existing root, batches another writer committed — are read with
    * one PK-column scan of only their batch dirs. */
  private def keysFor(markers: Seq[(String, String)]): CommittedKeys = {
    val held = Some(knownKeys).filter(_.covered.subsetOf(markers.toSet))
      .getOrElse(CommittedKeys.empty)
    val missing = markers.filterNot(held.covered)
    val scans = pkColumns.toSeq.flatMap { case (name, pk) =>
      val dirs = missing.map(m => rootPath.resolve(name).resolve(s"batch=${m._2}"))
        .filter(Files.isDirectory(_)).map(_.toString)
      if (dirs.isEmpty) None
      else Some(spark.read.schema(tableSchemas(name)).parquet(dirs: _*)
        .where(col(pk).isNotNull).select(lit(name), col(pk)))
    }
    val found = scans.reduceOption(_ union _).toSeq.flatMap(_.collect())
      .groupMap(_.getString(0))(_.getString(1))
    knownKeys = held.plus(missing, found)
    knownKeys
  }

  /** A staged write's observed keys, checked the way the reference's
    * `PRIMARY KEY` columns are: not NULL, unique within the batch and
    * not already committed. */
  private def checkedKeys(name: String, pk: String, obs: Observation,
      committed: Set[String], batchId: String): Seq[String] = {
    // bounded: an observation whose listener event is lost must fail the
    // page, not hang the writer
    val m = Await.result(obs.future, ObservationWait)
    if (m.getAs[Long]("nulls") > 0)
      throw new IllegalStateException(
        s"""null value in column "$pk" of relation "$name" violates not-null constraint (batch $batchId)""")
    val keys = m.getAs[scala.collection.Seq[String]]("keys").toSeq
    val seen = scala.collection.mutable.HashSet.empty[String]
    keys.find(k => !seen.add(k)).orElse(keys.find(committed))
      .foreach(v => throw new IllegalStateException(
        s"duplicate key value violates unique constraint: $name.$pk = $v (batch $batchId)"))
    keys
  }

  /** Compact the committed history into ONE batch per table — the
    * small-files maintenance a long ingest needs: per-page commits
    * accumulate a directory (and shuffle-partition-many files) per
    * batch, and scan planning degrades with file count long before data
    * size matters. A bag fold: every table's rows, unioned over its
    * committed batches. Semantics:
    *
    *  - Equivalent reads: `table(name)` returns the same rows before and
    *    after (asserted in the spec); files collapse to `numFiles` per
    *    table.
    *  - History REWRITE: like VACUUM/OPTIMIZE in table formats, prior
    *    batch ids disappear.
    *  - Crash-safe ordering (review r6): stage → publish new dirs →
    *    marker swap → GC old dirs. A crash before the marker swap
    *    leaves reads untouched (new dirs are unmarked orphans, cleaned
    *    by the next compact); a crash after it leaves reads correct
    *    with orphaned history dirs. Old data is never deleted before
    *    its replacement is durable. The only unsafe window is the
    *    two-file marker swap itself (reads see empty tables; all data
    *    still on disk).
    *  - Single-writer, like append: the marker swap is not atomic for
    *    concurrent READERS; the reference's one-ETL-process discipline
    *    applies. A table-format transaction log would make it a single
    *    swap — out of scope for a parquet warehouse.
    *
    * Returns the committed compacted batch id (unique per run, so
    * periodic re-compaction works).
    */
  def compact(numFiles: Int = 1): String = {
    // unique id per run so compaction is re-runnable (a fixed id would
    // collide with its own previous output — review r6 #2). Derived from
    // nextSeq but probed against the COMMITTED ids: the marker swap
    // resets the sequence to 1, so a bare `compacted-${nextSeq()}` can
    // regenerate a still-live earlier compaction's id — back-to-back
    // compaction of a one-batch warehouse threw "already committed"
    // (review r7; pinned in the re-compaction spec).
    val base = nextSeq()
    val committed = committedBatches.toSet
    val batchId = Iterator.from(0).map(k => s"compacted-${base + k}")
      .find(id => !committed.contains(id)).get
    val liveTables = tableSchemas.keys.toSeq.sorted
      .map(n => n -> table(n))
      .filter(_._2.take(1).nonEmpty)
    if (liveTables.isEmpty) return batchId
    val staging = stagingDir(batchId)
    try {
      // 1. stage the union of every committed batch, coalesced
      liveTables.foreach { case (name, df) =>
        df.coalesce(numFiles).write.mode("overwrite")
          .parquet(staging.resolve(name).toString)
      }
      // 2. PUBLISH through the shared protocol: move staged dirs into
      // place while the old markers (and old dirs) are untouched — a
      // crash anywhere up to the marker leaves reads exactly as they
      // were, and the new dirs are invisible orphans the protocol (or
      // the next compaction) clears. Old data is never deleted before
      // the replacement is durable (review r6 #1/#3).
      require(!committedBatches.contains(batchId),
        s"batch $batchId already committed")
      val oldMarkers = listDir(commitsDir)
      graft.core.CommitProtocol.publish(staging,
        liveTables.map { case (name, _) =>
          staging.resolve(name) -> rootPath.resolve(name).resolve(s"batch=$batchId")
        }) {
        // 3. marker swap: retire old markers, then commit the new one.
        // The only non-crash-safe window is between these two marker
        // ops (reads see EMPTY tables, all data still on disk) — the
        // documented single-writer caveat, a two-file window.
        oldMarkers.foreach(Files.deleteIfExists(_))
        Files.createDirectories(commitsDir)
        Files.createFile(commitsDir.resolve(f"${nextSeq()}%08d.$batchId"))
        ()
      }
      // 4. garbage-collect LAST: every batch dir not owned by the new
      // marker is retired history or an orphan from a prior crash —
      // both invisible to readers by now.
      liveTables.foreach { case (name, _) =>
        val dest = rootPath.resolve(name).resolve(s"batch=$batchId")
        listDir(rootPath.resolve(name))
          .filter(p => p.getFileName.toString.startsWith("batch=") && p != dest)
          .foreach(deleteRecursively)
      }
      batchId
    } finally deleteRecursively(staging)
  }

  /** `clear_data` (shift_data_processor.py:300-326): DELETE ... CASCADE ≡
    * dropping parent and all derived child tables + kpis. */
  def clear(): Unit = deleteRecursively(rootPath)
}

object ShiftWarehouse {

  val tableSchemas: Map[String, StructType] = Map(
    "shifts" -> ShiftSchemas.shiftsTable,
    "breaks" -> ShiftSchemas.breaksTable,
    "allowances" -> ShiftSchemas.allowancesTable,
    "award_interpretations" -> ShiftSchemas.awardsTable,
    "kpis" -> ShiftSchemas.kpisTable)

  /** PKs per initdb.sql:4,12,22,31. */
  val pkColumns: Map[String, String] = Map(
    "shifts" -> "shift_id",
    "breaks" -> "break_id",
    "allowances" -> "allowance_id",
    "award_interpretations" -> "award_id")

  private val ObservationWait = 2.minutes

  /** Committed PKs per table, and the commit markers (seq, id) whose
    * batches they include. */
  private final case class CommittedKeys(
      covered: Set[(String, String)], keys: Map[String, Set[String]]) {
    def apply(table: String): Set[String] = keys.getOrElse(table, Set.empty)
    def plus(markers: Seq[(String, String)],
        batch: Iterable[(String, Iterable[String])]): CommittedKeys =
      CommittedKeys(covered ++ markers, batch.foldLeft(keys) { case (m, (t, ks)) =>
        m.updated(t, m.getOrElse(t, Set.empty[String]) ++ ks)
      })
  }

  private object CommittedKeys {
    val empty: CommittedKeys = CommittedKeys(Set.empty, Map.empty)
  }
}

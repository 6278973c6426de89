package graft.etl

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
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
  * Layout: a page batch is ONE directory of nested shift rows
  * (`nested/batch=<id>`, [[ShiftSchemas.nestedShiftRow]]), children
  * stored inside their parent row, so a page commit is one write job;
  * `shifts`, `breaks`, `allowances` and `award_interpretations` are
  * read-time projections of it ([[NormalizedShifts]]). KPI batches are
  * flat (`kpis/batch=<id>`). Batches are append-only — no rewrite of
  * existing data on ingest.
  *
  * PK validation runs on the driver and adds no Spark job: the page
  * write observes all four tables' keys and NULL-key counts in one
  * `Dataset.observe`, and they are checked, in table order, for NULLs,
  * within-batch duplicates and duplicates against a committed-key set
  * this instance keeps current (see [[keysFor]]). That set costs driver
  * memory of one string per committed PK.
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

  private def batchDir(dir: String, batchId: String): Path =
    rootPath.resolve(dir).resolve(s"batch=$batchId")

  /** Every committed batch's data dir as (dir, path), in commit order. A
    * batch has exactly one: `nested` for a page, `kpis` for KPI rows. A
    * marker with none fails the read by name, like the marker grammar. */
  private def committedDirs(): Seq[(String, Path)] = committedMarkers().map { case (seq, id) =>
    Seq(NestedDir, KpisDir).map(d => d -> batchDir(d, id)).filter(d => Files.isDirectory(d._2)) match {
      case Seq(one) => one
      case found => throw new IllegalStateException(
        s"commit marker '$seq.$id' in $commitsDir has ${found.size} data dirs, " +
          s"expected one of $NestedDir/batch=$id and $KpisDir/batch=$id")
    }
  }

  /** The committed batches of one dir kind, read with its explicit
    * schema; empty-but-typed when there are none. */
  private def read(dir: String, schema: StructType): DataFrame = {
    val dirs = committedDirs().collect { case (`dir`, p) => p.toString }
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Read one normalized table (committed batches only): `kpis` as
    * stored, the four reference tables as projections of the committed
    * nested shift rows. Empty-but-typed when nothing has been committed. */
  def table(name: String): DataFrame =
    if (name == KpisDir) read(KpisDir, ShiftSchemas.kpisTable) else normalized.table(name)

  def shifts: DataFrame = table("shifts")
  def breaks: DataFrame = table("breaks")
  def allowances: DataFrame = table("allowances")
  def awardInterpretations: DataFrame = table("award_interpretations")
  def kpis: DataFrame = table(KpisDir)

  /** The four reference tables as projections of one read of the
    * committed nested rows. */
  def normalized: NormalizedShifts = NormalizedShifts(read(NestedDir, ShiftSchemas.nestedShiftRow))

  /** Atomically append one batch of the four normalized tables: one write
    * of its nested rows, which observes every table's keys. Validates the
    * PKs (not NULL, unique within the batch and against committed data)
    * before anything becomes visible; any failure discards the staging
    * area — the reference's rollback. */
  def appendBatch(batch: NormalizedShifts, batchId: String): Unit = {
    val obs = Observation()
    val observed = batch.rows.observe(obs, keyAggregates.head, keyAggregates.tail: _*)
    appendTables(NestedDir, observed, batchId) { markers =>
      // bounded: an observation whose listener event is lost must fail the
      // page, not hang the writer
      val m = Await.result(obs.future, ObservationWait)
      val committed = keysFor(markers)
      Some(committed.plus(Nil, pkColumns.toSeq.map { case (name, pk) =>
        name -> checkedKeys(name, pk, m, committed(name), batchId)
      }))
    }
  }

  /** Append KPI rows as their own committed batch. */
  def appendKpis(kpiRows: DataFrame, batchId: String): Unit =
    appendTables(KpisDir, kpiRows, batchId)(_ => None)

  /** Stage `frame` as `<dir>/batch=<batchId>`, validate it, then publish
    * with the commit marker last. `validate` gets the commit listing and
    * returns the committed keys including this batch's (None: the frame
    * has no PKs), or throws to roll the batch back. */
  private def appendTables(dir: String, frame: DataFrame, batchId: String)(
      validate: Seq[(String, String)] => Option[CommittedKeys]): Unit = {
    validateBatchId(batchId)
    // one listing serves the already-committed check, the key-set
    // catch-up and the marker's sequence (single writer)
    val markers = committedMarkers()
    require(!markers.exists(_._2 == batchId), s"batch $batchId already committed")
    val marker = (f"${nextSeq(markers)}%08d", batchId)
    val staging = stagingDir(batchId)
    val validated = try {
      frame.write.mode("overwrite").parquet(staging.resolve(dir).toString)
      validate(markers)
    } catch {
      // a stage/validate failure discards the staging area — nothing
      // was ever visible (the reference's rollback)
      case e: Throwable => deleteRecursively(staging); throw e
    }
    // Publish through the shared protocol: move the staged dir into
    // place, then the commit marker last (single-writer, like the
    // reference's one ETL process). Rollback of a moved-but-unmarked
    // dir lives in CommitProtocol.
    graft.core.CommitProtocol.publish(staging,
      Seq(staging.resolve(dir) -> batchDir(dir, batchId))) {
      Files.createDirectories(commitsDir)
      Files.createFile(commitsDir.resolve(s"${marker._1}.$batchId"))
      ()
    }
    validated.foreach(keys => knownKeys = keys.plus(Seq(marker), Nil))
  }

  /** Committed PKs as of the last [[keysFor]] or commit of this instance. */
  @volatile private var knownKeys = CommittedKeys.empty

  /** Every committed PK per table, for the commit listing `markers`. The
    * held set is reused while every marker it covers is still listed; a
    * covered marker that is gone (`clear`, `compact`, an external
    * change) discards it. Markers not yet covered — first use on an
    * existing root, batches another writer committed — are read with
    * one key scan of only their nested dirs. */
  private def keysFor(markers: Seq[(String, String)]): CommittedKeys = {
    val held = Some(knownKeys).filter(_.covered.subsetOf(markers.toSet))
      .getOrElse(CommittedKeys.empty)
    val missing = markers.filterNot(held.covered)
    val dirs = missing.map(m => batchDir(NestedDir, m._2)).filter(Files.isDirectory(_))
      .map(_.toString)
    val found = if (dirs.isEmpty) Nil else {
      val m = spark.read.schema(ShiftSchemas.nestedShiftRow).parquet(dirs: _*)
        .agg(keyAggregates.head, keyAggregates.tail: _*).head()
      pkColumns.keys.map(name => name -> keyList(m, name).filter(_ != null))
    }
    knownKeys = held.plus(missing, found)
    knownKeys
  }

  /** Observed keys, checked the way the reference's `PRIMARY KEY`
    * columns are: not NULL, unique within the batch and not already
    * committed. */
  private def checkedKeys(name: String, pk: String, m: Row,
      committed: Set[String], batchId: String): Seq[String] = {
    if (m.getAs[Long](s"${name}_nulls") > 0)
      throw new IllegalStateException(
        s"""null value in column "$pk" of relation "$name" violates not-null constraint (batch $batchId)""")
    val keys = keyList(m, name)
    val seen = scala.collection.mutable.HashSet.empty[String]
    keys.find(k => !seen.add(k)).orElse(keys.find(committed))
      .foreach(v => throw new IllegalStateException(
        s"duplicate key value violates unique constraint: $name.$pk = $v (batch $batchId)"))
    keys
  }

  /** Compact the committed history into ONE batch per dir kind: the
    * nested shift rows fold into one batch, the KPI rows into another —
    * the small-files maintenance a long ingest needs: per-page commits
    * accumulate a directory (and its files) per batch, and scan planning
    * degrades with file count long before data size matters. A bag
    * fold: every dir kind's rows, unioned over its committed batches.
    * Semantics:
    *
    *  - Equivalent reads: `table(name)` returns the same rows before and
    *    after (asserted in the spec); files collapse to `numFiles` per
    *    dir kind.
    *  - History REWRITE: like VACUUM/OPTIMIZE in table formats, prior
    *    batch ids disappear.
    *  - Crash-safe ordering (review r6): stage → publish new dirs →
    *    marker swap → GC old dirs. A crash before the marker swap
    *    leaves reads untouched (new dirs are unmarked orphans, cleaned
    *    by the next compact); a crash after it leaves reads correct
    *    with orphaned history dirs. Old data is never deleted before
    *    its replacement is durable. The only unsafe window is the
    *    marker swap itself (reads see empty tables; all data still on
    *    disk).
    *  - Single-writer, like append: the marker swap is not atomic for
    *    concurrent READERS; the reference's one-ETL-process discipline
    *    applies. A table-format transaction log would make it a single
    *    swap — out of scope for a parquet warehouse.
    *
    * Returns the compacted batch id (unique per run, so periodic
    * re-compaction works): the nested rows commit under it, and the KPI
    * rows, if any, under `<id>-kpis`.
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
      .find(id => !committed(id) && !committed(s"$id-kpis")).get
    val live = Seq(
      (NestedDir, batchId, read(NestedDir, ShiftSchemas.nestedShiftRow)),
      (KpisDir, s"$batchId-kpis", read(KpisDir, ShiftSchemas.kpisTable)))
      .filter(_._3.take(1).nonEmpty)
    if (live.isEmpty) return batchId
    val staging = stagingDir(batchId)
    try {
      // 1. stage the union of every committed batch, coalesced
      live.foreach { case (dir, _, df) =>
        df.coalesce(numFiles).write.mode("overwrite").parquet(staging.resolve(dir).toString)
      }
      // 2. PUBLISH through the shared protocol: move staged dirs into
      // place while the old markers (and old dirs) are untouched — a
      // crash anywhere up to the marker leaves reads exactly as they
      // were, and the new dirs are invisible orphans the protocol (or
      // the next compaction) clears. Old data is never deleted before
      // the replacement is durable (review r6 #1/#3).
      require(!live.exists(l => committedBatches.contains(l._2)),
        s"batch $batchId already committed")
      val oldMarkers = listDir(commitsDir)
      graft.core.CommitProtocol.publish(staging,
        live.map { case (dir, id, _) => staging.resolve(dir) -> batchDir(dir, id) }) {
        // 3. marker swap: retire old markers, then commit the new ones.
        // The only non-crash-safe window is between these marker ops
        // (reads see EMPTY tables, all data still on disk) — the
        // documented single-writer caveat.
        oldMarkers.foreach(Files.deleteIfExists(_))
        Files.createDirectories(commitsDir)
        live.foreach { case (_, id, _) =>
          Files.createFile(commitsDir.resolve(f"${nextSeq()}%08d.$id"))
        }
      }
      // 4. garbage-collect LAST: every batch dir not owned by a new
      // marker is retired history or an orphan from a prior crash —
      // both invisible to readers by now.
      live.foreach { case (dir, id, _) =>
        val dest = batchDir(dir, id)
        listDir(rootPath.resolve(dir))
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

  /** The dir that holds each page batch: nested shift rows. */
  private val NestedDir = "nested"
  /** The dir that holds each KPI batch, named after its table. */
  private val KpisDir = "kpis"

  val tableSchemas: Map[String, StructType] = Map(
    "shifts" -> ShiftSchemas.shiftsTable,
    "breaks" -> ShiftSchemas.breaksTable,
    "allowances" -> ShiftSchemas.allowancesTable,
    "award_interpretations" -> ShiftSchemas.awardsTable,
    KpisDir -> ShiftSchemas.kpisTable)

  /** PKs per initdb.sql:4,12,22,31, in the order a commit checks them. */
  val pkColumns: ListMap[String, String] = ListMap(
    "shifts" -> "shift_id",
    "breaks" -> "break_id",
    "allowances" -> "allowance_id",
    "award_interpretations" -> "award_id")

  /** Per reference table, its key list (`<table>_keys`, NULLs kept) and
    * NULL-key count (`<table>_nulls`) over a frame of nested shift rows:
    * the aggregates a page write observes and the key catch-up scans. */
  private val keyAggregates: Seq[Column] = pkColumns.toSeq.flatMap { case (name, pk) =>
    val ids = if (name == "shifts") array(col(pk)) else transform(col(name), _.getField(pk))
    Seq(flatten(collect_list(ids)).as(s"${name}_keys"),
      coalesce(sum(array_size(filter(ids, _.isNull))), lit(0L)).as(s"${name}_nulls"))
  }

  private def keyList(m: Row, name: String): Seq[String] =
    m.getAs[scala.collection.Seq[String]](s"${name}_keys").toSeq

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

package graft.etl

import java.time.LocalDate

import graft.SparkTestBase

class ShiftWarehouseSpec extends SparkTestBase {

  test("committed batch is visible with correct counts") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-commit"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    assert(wh.shifts.count() === 2)
    assert(wh.breaks.count() === 2)
    assert(wh.allowances.count() === 3)
    assert(wh.awardInterpretations.count() === 2)
  }

  test("duplicate PK within a batch rolls back the whole batch (tests:242-300)") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-dup"))
    val page = PageSource.parsePage(spark, ShiftFixtures.dupPkPage)
    val e = intercept[IllegalStateException] {
      wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    }
    assert(e.getMessage.contains("duplicate key"))
    // all-or-nothing: NOTHING visible, not even the valid shifts rows
    assert(wh.shifts.count() === 0)
    assert(wh.breaks.count() === 0)
    assert(wh.allowances.count() === 0)
    assert(wh.awardInterpretations.count() === 0)
  }

  test("duplicate PK against an earlier committed batch also rolls back") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-dup2"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    intercept[IllegalStateException] {
      wh.appendBatch(ShiftNormalizer.normalize(page), "b1") // same ids again
    }
    assert(wh.shifts.count() === 2) // first batch intact, second invisible
  }

  test("a NULL primary key rolls the whole batch back as a not-null violation") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-null-pk"))
    def rejected(json: String, id: String): String = {
      val e = intercept[IllegalStateException] {
        wh.appendBatch(ShiftNormalizer.normalize(PageSource.parsePage(spark, json)), id)
      }
      assert(wh.committedBatches.isEmpty && wh.shifts.count() == 0 && wh.breaks.count() == 0)
      e.getMessage
    }
    def page(shifts: String*) = s"""{"results": [${shifts.mkString(", ")}]}"""
    // one NULL key: the reference's UUID PRIMARY KEY rejects it
    val noShiftId = ShiftFixtures.shiftA.replace(
      "\"id\": \"b2b9437a-28df-4ec4-8e4a-2bbdc241330b\",", "")
    assert(rejected(page(noShiftId, ShiftFixtures.shiftB), "b0") ==
      "null value in column \"shift_id\" of relation \"shifts\" violates not-null constraint (batch b0)")
    // two NULL keys are a not-null violation too, not a duplicate of null
    def noBreakId(shift: String, id: String) = shift.replace("\"id\": \"" + id + "\",", "")
    assert(rejected(page(
      noBreakId(ShiftFixtures.shiftA, "16419f82-8b9d-4434-a465-e150bd9c66b3"),
      noBreakId(ShiftFixtures.shiftB, "6142ea7d-17be-4111-9a2a-73ed562b0f79")), "b1") ==
      "null value in column \"break_id\" of relation \"breaks\" violates not-null constraint (batch b1)")
  }

  /** Spark jobs `body` submits from this thread. The listener bus delivers
    * events in order, so once a trailing sentinel job has been seen every
    * job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val tag = java.util.UUID.randomUUID.toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == s"$tag-end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      jobs.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a page commit runs at most 5 Spark jobs; zero-row tables still validate") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-jobs"))
    val gen = ShiftGenerator.generate(11L, LocalDate.parse("2024-01-01"), days = 14)
    def commit(json: String, id: String): Unit = {
      // the caller's cache, as ShiftsEtl.run holds it
      val page = PageSource.parsePage(spark, json).persist()
      try wh.appendBatch(ShiftNormalizer.normalize(page), id) finally page.unpersist()
    }
    commit(ShiftGenerator.pageJson(gen, 0, 7), "p0")
    val jobs = jobsOf(commit(ShiftGenerator.pageJson(gen, 7, 7), "p1"))
    assert(jobs <= 5, s"second page commit ran $jobs jobs")
    assert(wh.shifts.count() == 14)

    // shifts with no breaks, allowances or awards: three zero-row writes
    // whose observations must still arrive
    val bare = ShiftGenerator.generate(12L, LocalDate.parse("2024-02-01"), days = 3)
      .map(_.copy(breaks = Nil, allowances = Nil, award_interpretations = Nil))
    val breaks = wh.breaks.count()
    commit(ShiftGenerator.pageJson(bare, 0, 3), "p2")
    assert(wh.shifts.count() == 17 && wh.breaks.count() == breaks)
    intercept[IllegalStateException](commit(ShiftGenerator.pageJson(bare, 0, 3), "p3"))
    // upserts of zero rows and of one row commit; both are observed
    wh.upsertBatch("shifts", wh.shifts.filter(org.apache.spark.sql.functions.lit(false)), "u0")
    wh.upsertBatch("shifts", wh.shifts.limit(1), "u1")
    assert(wh.committedBatches.takeRight(2) == Seq("u0", "u1"))
    assert(wh.currentView("shifts").count() == 17)
  }

  test("as-of snapshot reads are stable as later batches land") {
    // validatePks=false so the same fixture page can land twice
    val wh = new ShiftWarehouse(spark, tempDir("wh-snap"), validatePks = false)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val snapAtB0 = wh.tableAsOf("shifts", "b0")
    assert(snapAtB0.count() === 2)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b1")
    // current read sees both batches; the b0 snapshot is unchanged
    assert(wh.shifts.count() === 4)
    assert(wh.tableAsOf("shifts", "b0").count() === 2)
    assert(wh.tableAsOf("shifts", "b1").count() === 4)
  }

  test("as-of snapshots follow commit order even when ids sort differently") {
    // 'run-kpis' < 'run-p00001' lexicographically, but it is committed
    // SECOND — the snapshot at it must contain both batches
    val wh = new ShiftWarehouse(spark, tempDir("wh-snap-order"), validatePks = false)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "run-p00001")
    wh.appendBatch(ShiftNormalizer.normalize(page), "run-kpis")
    assert(wh.tableAsOf("shifts", "run-p00001").count() === 2)
    assert(wh.tableAsOf("shifts", "run-kpis").count() === 4)
    val e = intercept[IllegalArgumentException] {
      wh.tableAsOf("shifts", "never-committed")
    }
    assert(e.getMessage.contains("never committed"))
  }

  test("legacy marker that mimics the <seq>.<id> grammar stays visible (ADVICE r5)") {
    // A pre-sequence layout wrote bare batch-id markers. An id like
    // '20240101.nightly' parses as seq=20240101/id=nightly under the new
    // grammar — without the batch-dir disambiguation, reads would look
    // for batch=nightly, miss, and silently drop the batch's data.
    val root = tempDir("wh-legacy")
    val wh = new ShiftWarehouse(spark, root)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    val legacyId = "20240101.nightly"
    // simulate the legacy layout: data dirs + bare-id marker, no sequence
    val wh2 = new ShiftWarehouse(spark, root, validatePks = false)
    wh2.appendBatch(ShiftNormalizer.normalize(page), "tmp-stage")
    val base = java.nio.file.Paths.get(root)
    Seq("shifts", "breaks", "allowances", "award_interpretations").foreach { t =>
      java.nio.file.Files.move(
        base.resolve(t).resolve("batch=tmp-stage"),
        base.resolve(t).resolve(s"batch=$legacyId"))
    }
    java.nio.file.Files.delete(base.resolve("_commits").resolve("00000001.tmp-stage"))
    java.nio.file.Files.createFile(base.resolve("_commits").resolve(legacyId))
    assert(wh.shifts.count() === 2, "legacy batch must stay visible")
    assert(wh.committedBatches === Seq(legacyId))
    // and NEW ids that would collide with the marker grammar are rejected
    val e = intercept[IllegalArgumentException] {
      wh.appendBatch(ShiftNormalizer.normalize(page), "20240102.late")
    }
    assert(e.getMessage.contains("marker grammar"))
    // collision case (review r6): a SEQUENCED batch whose id equals the
    // legacy marker's truncated suffix must not be double-read, and the
    // legacy batch must not vanish — full-name dir wins the parse
    val whNoPk = new ShiftWarehouse(spark, root, validatePks = false)
    whNoPk.appendBatch(ShiftNormalizer.normalize(page), "nightly")
    assert(whNoPk.committedBatches.sorted === Seq(legacyId, "nightly").sorted)
    assert(whNoPk.shifts.count() === 4, "each batch read exactly once")
  }

  test("upsert replaces rows per PK in the current view, history stays as-of readable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val wh = new ShiftWarehouse(spark, tempDir("wh-upsert"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val original = wh.shifts.select($"shift_id", $"shift_cost".cast("double"))
      .as[(String, Double)].collect().toMap
    assert(original.size == 2)
    val (replacedId, keptId) = (original.keys.min, original.keys.max)
    // SCD1 correction: same PK, new cost
    val corrected = wh.shifts.filter($"shift_id" === replacedId)
      .withColumn("shift_cost", lit(999.5).cast("decimal(13,4)"))
    wh.upsertBatch("shifts", corrected, "b1-fix")
    // a plain append with the same PK would have rolled back — upsert commits
    val cur = wh.currentView("shifts")
      .select($"shift_id", $"shift_cost".cast("double"))
      .as[(String, Double)].collect().toMap
    assert(cur.size == 2, "one row per PK in the current view")
    assert(cur(replacedId) == 999.5, "later batch wins per PK")
    assert(cur(keptId) == original(keptId), "untouched PK keeps its row")
    // bag-semantics table read sees both versions; as-of sees the old one
    assert(wh.shifts.count() == 3)
    assert(wh.tableAsOf("shifts", "b0").count() == 2)
    // within-batch duplicate PKs still roll an upsert back
    intercept[IllegalStateException] {
      wh.upsertBatch("shifts", corrected.union(corrected), "b2-dup")
    }
    assert(wh.currentView("shifts").count() == 2)
    // the global PK audit must not flag the legitimate correction...
    wh.validateAllPks()
    // ...and a table without a PK is a clear error, not a key lookup
    intercept[IllegalArgumentException](wh.currentView("kpis"))
  }

  test("compaction after upserts keeps the corrected row, not the superseded one") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val wh = new ShiftWarehouse(spark, tempDir("wh-upsert-compact"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val replacedId = wh.shifts.select($"shift_id").as[String].collect().min
    val corrected = wh.shifts.filter($"shift_id" === replacedId)
      .withColumn("shift_cost", lit(999.5).cast("decimal(13,4)"))
    wh.upsertBatch("shifts", corrected, "b1-fix")
    // bag compaction would merge both row versions under one seq and
    // could resurrect the superseded row — it must refuse
    val e = intercept[IllegalArgumentException](wh.compact())
    assert(e.getMessage.contains("compactCurrent"))
    wh.compactCurrent()
    val cost = wh.currentView("shifts").filter($"shift_id" === replacedId)
      .select($"shift_cost".cast("double")).head().getDouble(0)
    assert(cost == 999.5, "compaction must keep the corrected version")
    assert(wh.shifts.count() == 2, "superseded row version is vacuumed")
    // history is collapsed and append-semantics again: plain compact works
    wh.validateAllPks()
    wh.compact()
    assert(wh.currentView("shifts").count() == 2)
  }

  test("delete keys of the wrong type are rejected before anything commits") {
    import spark.implicits._
    val wh = new ShiftWarehouse(spark, tempDir("wh-delete-type"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    // shift_id is a string PK; a LongType keys frame would write and
    // commit fine, then poison every later read when tombstones()
    // applies the declared schema — must fail fast instead
    val e = intercept[IllegalArgumentException] {
      wh.deleteRows("shifts", Seq(42L).toDF("shift_id"), "b1-bad")
    }
    assert(e.getMessage.contains("must be string"))
    // nothing committed, nothing tombstoned
    assert(wh.currentView("shifts").count() == 2)
    wh.clear()
  }

  test("scoped delete tombstones a PK; re-insert resurrects; compaction erases") {
    import spark.implicits._
    val wh = new ShiftWarehouse(spark, tempDir("wh-delete"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val ids = wh.shifts.select($"shift_id").as[String].collect().sorted
    val (dead, alive) = (ids.head, ids.last)
    wh.deleteRows("shifts", Seq(dead).toDF("shift_id"), "b1-del")
    // current view drops the tombstoned key; bag + as-of history keep it
    assert(wh.currentView("shifts").select($"shift_id").as[String].collect().toSeq
      == Seq(alive))
    assert(wh.shifts.count() == 2)
    assert(wh.tableAsOf("shifts", "b0").count() == 2)
    // a LATER upsert of the same key outlives the tombstone
    val back = wh.shifts.filter($"shift_id" === dead)
    wh.upsertBatch("shifts", back, "b2-back")
    assert(wh.currentView("shifts").count() == 2, "re-insert resurrects the key")
    // delete again, then compactCurrent physically forgets the row
    wh.deleteRows("shifts", Seq(dead).toDF("shift_id"), "b3-del")
    intercept[IllegalArgumentException](wh.compact())
    wh.compactCurrent()
    assert(wh.shifts.select($"shift_id").as[String].collect().toSeq == Seq(alive),
      "deleted row must be gone from the physical table after VACUUM")
    assert(wh.currentView("shifts").count() == 1)
  }

  test("compaction collapses the batch history to one dir per table, same rows") {
    def ls(parts: String*): Seq[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(parts.head, parts.tail: _*))
      try s.toArray.map(_.toString).toSeq finally s.close()
    }
    val root = tempDir("wh-compact")
    val wh = new ShiftWarehouse(spark, root, validatePks = false)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    wh.appendBatch(ShiftNormalizer.normalize(page), "b1")
    wh.appendBatch(ShiftNormalizer.normalize(page), "b2")
    val before = wh.shifts.count()
    assert(before === 6)

    val cid = wh.compact()
    assert(wh.shifts.count() === before, "current reads unchanged")
    assert(wh.breaks.count() === 6)
    assert(wh.committedBatches === Seq(cid), "history rewritten to one batch")
    assert(ls(root, "shifts").size === 1, "one batch dir expected")
    assert(ls(root, "shifts", s"batch=$cid").count(_.endsWith(".parquet")) === 1,
      "coalesced to one data file")

    // the warehouse keeps working after compaction: appends sequence on
    wh.appendBatch(ShiftNormalizer.normalize(page), "b3")
    assert(wh.shifts.count() === 8)
    assert(wh.tableAsOf("shifts", cid).count() === 6)
    assert(wh.committedBatches === Seq(cid, "b3"))

    // periodic maintenance: a SECOND compaction must work (review r6 —
    // a fixed batch id collided with its own previous output)
    val cid2 = wh.compact()
    assert(cid2 !== cid)
    assert(wh.shifts.count() === 8, "re-compaction preserves all rows")
    assert(wh.committedBatches === Seq(cid2))
    assert(ls(root, "shifts").size === 1)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b4")
    assert(wh.shifts.count() === 10)
  }

  test("compaction is re-runnable back-to-back — ids never collide with live output") {
    // the marker swap resets the commit sequence, so an id derived from
    // nextSeq alone can equal the PREVIOUS compaction's still-committed
    // id (one-batch warehouse: both runs compute `compacted-2`) — the
    // periodic maintenance job must not fail on its second tick
    val wh = new ShiftWarehouse(spark, tempDir("wh-recompact"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val before = wh.shifts.count()
    val id1 = wh.compact()
    val id2 = wh.compact()
    assert(id1 != id2, s"compaction reused id $id1")
    assert(wh.shifts.count() == before)
    assert(wh.committedBatches == Seq(id2), "exactly the newest compacted batch is live")
  }

  test("clear removes everything (DELETE CASCADE semantics)") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-clear"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    wh.clear()
    assert(wh.shifts.count() === 0)
    assert(wh.kpis.count() === 0)
  }
}

class ShiftsEtlSpec extends SparkTestBase {

  test("paginated two-page run equals the single-page golden results (tests:127-240)") {
    val wh = new ShiftWarehouse(spark, tempDir("etl-pages"))
    val payloads = Map(
      "http://localhost:8000/api/shifts" -> (ShiftFixtures.page1, Some("/api/shifts?start=1&limit=1")),
      "http://localhost:8000/api/shifts?start=1&limit=1" -> (ShiftFixtures.page2, None))
    val pages = PageSource.pages("http://localhost:8000/api/shifts") { url =>
      val (json, next) = payloads(url)
      (PageSource.parsePage(spark, json), next)
    }
    val kpis = ShiftsEtl.run(pages, wh, LocalDate.parse("2023-12-31"), "run1")

    assert(wh.shifts.count() === 2)
    assert(wh.breaks.count() === 2)
    assert(wh.allowances.count() === 3)
    assert(wh.awardInterpretations.count() === 2)

    val k = kpis.collect().map(r => r.getString(0) -> Option(r.getDecimal(2)).map(BigDecimal(_))).toMap
    assert(k("mean_break_length_in_minutes") === Some(BigDecimal("24.41")))
    assert(k("mean_shift_cost") === Some(BigDecimal("81.55")))
    assert(k("max_allowance_cost_14d") === Some(BigDecimal("0.00")))
    assert(k("max_break_free_shift_period_in_days") === Some(BigDecimal("0.00")))
    assert(k("min_shift_length_in_hours") === Some(BigDecimal("8.75")))
    assert(k("total_number_of_paid_breaks") === Some(BigDecimal("1.00")))
  }

  test("relative next link resolves against the page URL (get_next_url :146-152)") {
    assert(PageSource.resolveNext("http://h:8000/api/shifts?start=0",
      Some("/api/shifts?start=1&limit=1")) === Some("http://h:8000/api/shifts?start=1&limit=1"))
    assert(PageSource.resolveNext("http://h:8000/api/shifts", None) === None)
  }
}

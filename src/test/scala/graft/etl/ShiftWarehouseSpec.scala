package graft.etl

import java.time.LocalDate

import graft.SparkTestBase

class ShiftWarehouseSpec extends SparkTestBase {

  test("committed batch is visible with correct counts") {
    val root = tempDir("wh-commit")
    val wh = new ShiftWarehouse(spark, root)
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    assert(wh.shifts.count() === 2)
    assert(wh.breaks.count() === 2)
    assert(wh.allowances.count() === 3)
    assert(wh.awardInterpretations.count() === 2)
    // the <seq>.<id> marker grammar: an id that reads as a marker is
    // refused, and a marker outside the grammar fails reads by name
    val e = intercept[IllegalArgumentException] {
      wh.appendBatch(ShiftNormalizer.normalize(page), "20240102.late")
    }
    assert(e.getMessage.contains("marker grammar"))
    // a marker in the grammar whose batch has no data dir fails the read
    // by name, never skipped
    val ghost = java.nio.file.Paths.get(root, "_commits", "00000009.ghost")
    java.nio.file.Files.createFile(ghost)
    val missing = intercept[IllegalStateException](wh.shifts)
    assert(missing.getMessage.contains("'00000009.ghost'"))
    assert(intercept[IllegalStateException](wh.kpis).getMessage.contains("'00000009.ghost'"))
    java.nio.file.Files.delete(ghost)
    assert(wh.shifts.count() === 2)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "_commits", "nightly"))
    val bad = intercept[IllegalStateException](wh.shifts)
    assert(bad.getMessage.contains("'nightly'"))
  }

  test("the four tables read back as projections typed like tableSchemas, before and after compact") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-views"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    wh.appendBatch(ShiftNormalizer.normalize(page), "b0")
    val expected = ShiftNormalizer.normalize(page)
    def same(when: String): Unit = ShiftWarehouse.pkColumns.keys.foreach { name =>
      val got = wh.table(name)
      assert(got.schema === ShiftWarehouse.tableSchemas(name), s"$name $when")
      assert(got.collect().map(_.toString).sorted.toSeq ===
        expected.table(name).collect().map(_.toString).sorted.toSeq, s"$name $when")
    }
    same("after commit")
    // KPI rows fold into their own compacted batch, next to the nested one
    wh.appendKpis(ShiftKpis.all(wh.normalized, LocalDate.parse("2023-12-31")), "k0")
    val kpis = wh.kpis.collect().map(_.toString).sorted.toSeq
    val cid = wh.compact()
    same("after compact")
    assert(wh.committedBatches === Seq(cid, s"$cid-kpis"))
    assert(wh.kpis.collect().map(_.toString).sorted.toSeq === kpis)
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
    def noId(shift: String, id: String) = shift.replace("\"id\": \"" + id + "\",", "")
    assert(rejected(page(
      noId(ShiftFixtures.shiftA, "16419f82-8b9d-4434-a465-e150bd9c66b3"),
      noId(ShiftFixtures.shiftB, "6142ea7d-17be-4111-9a2a-73ed562b0f79")), "b1") ==
      "null value in column \"break_id\" of relation \"breaks\" violates not-null constraint (batch b1)")
    assert(rejected(page(
      noId(ShiftFixtures.shiftA, "b38a088c-a65e-4389-b74d-0fb132e70629"), ShiftFixtures.shiftB), "b2") ==
      "null value in column \"allowance_id\" of relation \"allowances\" violates not-null constraint (batch b2)")
    assert(rejected(page(
      ShiftFixtures.shiftA, noId(ShiftFixtures.shiftB, "60e7a113-ec1b-4ca1-b91e-1d4c1ff49b78")), "b3") ==
      "null value in column \"award_id\" of relation \"award_interpretations\" violates not-null constraint (batch b3)")
  }

  test("a warm page commit runs exactly 1 Spark job; zero-row tables still validate") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-jobs"))
    val gen = ShiftGenerator.generate(11L, LocalDate.parse("2024-01-01"), days = 14)
    def commit(json: String, id: String): Unit =
      wh.appendBatch(ShiftNormalizer.normalize(PageSource.parsePage(spark, json)), id)
    commit(ShiftGenerator.pageJson(gen, 0, 7), "p0")
    val jobs = jobsOf(commit(ShiftGenerator.pageJson(gen, 7, 7), "p1"))
    assert(jobs == 1, s"second page commit ran $jobs jobs")
    assert(wh.shifts.count() == 14)

    // shifts with no breaks, allowances or awards: three empty child
    // tables whose keys the one observation must still carry
    val bare = ShiftGenerator.generate(12L, LocalDate.parse("2024-02-01"), days = 3)
      .map(_.copy(breaks = Nil, allowances = Nil, award_interpretations = Nil))
    val breaks = wh.breaks.count()
    assert(jobsOf(commit(ShiftGenerator.pageJson(bare, 0, 3), "p2")) == 1)
    assert(wh.shifts.count() == 17 && wh.breaks.count() == breaks)
    intercept[IllegalStateException](commit(ShiftGenerator.pageJson(bare, 0, 3), "p3"))
  }

  test("compaction collapses the batch history to one nested dir, same rows") {
    def ls(parts: String*): Seq[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(parts.head, parts.tail: _*))
      try s.toArray.map(_.toString).toSeq finally s.close()
    }
    val root = tempDir("wh-compact")
    val wh = new ShiftWarehouse(spark, root)
    // five distinct 2-shift pages: every append passes the PK check
    val gen = ShiftGenerator.generate(13L, LocalDate.parse("2024-04-01"), days = 10)
    def page(i: Int) = ShiftNormalizer.normalize(
      PageSource.parsePage(spark, ShiftGenerator.pageJson(gen, 2 * i, 2)))
    wh.appendBatch(page(0), "b0")
    wh.appendBatch(page(1), "b1")
    wh.appendBatch(page(2), "b2")
    val before = wh.shifts.count()
    assert(before === 6)
    val breaks = wh.breaks.count()

    val cid = wh.compact()
    assert(wh.shifts.count() === before, "current reads unchanged")
    assert(wh.breaks.count() === breaks)
    assert(wh.committedBatches === Seq(cid), "history rewritten to one batch")
    assert(ls(root, "nested").size === 1, "one batch dir expected")
    assert(ls(root, "nested", s"batch=$cid").count(_.endsWith(".parquet")) === 1,
      "coalesced to one data file")

    // the warehouse keeps working after compaction: appends sequence on
    wh.appendBatch(page(3), "b3")
    assert(wh.shifts.count() === 8)
    assert(wh.committedBatches === Seq(cid, "b3"))

    // periodic maintenance: a SECOND compaction must work (review r6 —
    // a fixed batch id collided with its own previous output)
    val cid2 = wh.compact()
    assert(cid2 !== cid)
    assert(wh.shifts.count() === 8, "re-compaction preserves all rows")
    assert(wh.committedBatches === Seq(cid2))
    assert(ls(root, "nested").size === 1)
    wh.appendBatch(page(4), "b4")
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

package graft.etl

import java.sql.Timestamp

import graft.SparkTestBase

class ShiftNormalizerSpec extends SparkTestBase {

  private lazy val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
  private lazy val tables = ShiftNormalizer.normalize(page)

  test("row counts match the reference's verify_inserted_data (tests:320-350)") {
    assert(tables.shifts.count() === 2)
    assert(tables.breaks.count() === 2)
    assert(tables.allowances.count() === 3)
    assert(tables.awardInterpretations.count() === 2)
  }

  test("shift_cost = bround(sum allowance.cost + sum award.cost, 4)") {
    val costs = tables.shifts.select("shift_id", "shift_cost").collect()
      .map(r => r.getString(0) -> r.getDecimal(1))
      .toMap
    assert(costs("b2b9437a-28df-4ec4-8e4a-2bbdc241330b").compareTo(new java.math.BigDecimal("44.4")) === 0)
    assert(costs("d453dd32-4b0d-4b41-8d52-88f1142c3fe8").compareTo(new java.math.BigDecimal("118.7")) === 0)
  }

  test("epoch-ms → timestamp truncates sub-second part (break finish ...5277ms)") {
    val finish = tables.breaks
      .filter(tables.breaks("break_id") === "16419f82-8b9d-4434-a465-e150bd9c66b3")
      .select("break_finish").collect().head.getTimestamp(0)
    // 1701087005277 // 1000 = 1701087005 s — ms truncated, never rounded
    assert(finish === Timestamp.from(java.time.Instant.ofEpochSecond(1701087005L)))
  }

  test("null/zero/negative epoch values map to NULL (parse_timestamp guard)") {
    val json =
      """{"results": [{"id": "x", "date": "2024-01-01", "start": 0, "finish": -5,
           "breaks": [], "allowances": [], "award_interpretations": []}],
          "links": {"base": "b", "prev": null, "next": null},
          "start": 0, "limit": 1, "size": 1}""".replaceAll("\n\\s*", " ")
    val s = ShiftNormalizer.normalize(PageSource.parsePage(spark, json)).shifts.collect().head
    assert(s.isNullAt(s.fieldIndex("shift_start")))
    assert(s.isNullAt(s.fieldIndex("shift_finish")))
  }

  test("rename maps produce the initdb.sql column names") {
    assert(tables.allowances.columns.toSeq ===
      Seq("allowance_id", "shift_id", "allowance_value", "allowance_cost"))
    assert(tables.awardInterpretations.columns.toSeq ===
      Seq("award_id", "shift_id", "award_date", "award_units", "award_cost"))
    assert(tables.breaks.columns.toSeq ===
      Seq("break_id", "shift_id", "break_start", "break_finish", "is_paid"))
  }

  test("children carry the parent shift_id (join by construction)") {
    val ids = tables.allowances.select("shift_id").distinct().collect().map(_.getString(0))
    assert(ids.toSet === Set("b2b9437a-28df-4ec4-8e4a-2bbdc241330b"))
    val paid = tables.breaks.filter("is_paid").select("shift_id").collect().map(_.getString(0))
    assert(paid.toSet === Set("d453dd32-4b0d-4b41-8d52-88f1142c3fe8"))
  }
}

package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

import graft.SparkTestBase

class ShiftKpisSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def kpiMap(tables: NormalizedShifts, asOf: LocalDate): Map[String, Option[BigDecimal]] =
    ShiftKpis.all(tables, asOf).collect()
      .map(r => r.getString(0) ->
        Option(r.getDecimal(2)).map(BigDecimal(_)))
      .toMap

  private lazy val tables =
    ShiftNormalizer.normalize(PageSource.parsePage(spark, ShiftFixtures.singlePage))

  test("golden KPI values (tests:366-386) with asOfDate >14d after fixture") {
    val k = kpiMap(tables, LocalDate.parse("2023-12-31"))
    assert(k("mean_break_length_in_minutes") === Some(BigDecimal("24.41")))
    assert(k("mean_shift_cost") === Some(BigDecimal("81.55")))
    assert(k("max_allowance_cost_14d") === Some(BigDecimal("0.00")))
    assert(k("max_break_free_shift_period_in_days") === Some(BigDecimal("0.00")))
    assert(k("min_shift_length_in_hours") === Some(BigDecimal("8.75")))
    assert(k("total_number_of_paid_breaks") === Some(BigDecimal("1.00")))
  }

  test("max_allowance_cost_14d sees allowances when asOfDate is within 14 days") {
    val k = kpiMap(tables, LocalDate.parse("2023-12-01"))
    assert(k("max_allowance_cost_14d") === Some(BigDecimal("29.70")))
  }

  test("kpi_date column equals the injected asOfDate") {
    val asOf = LocalDate.parse("2023-12-31")
    val dates = ShiftKpis.all(tables, asOf).select("kpi_date").distinct().collect()
    assert(dates.map(_.getDate(0).toLocalDate).toSeq === Seq(asOf))
  }

  test("empty input: COALESCE'd KPIs are 0; gaps-and-islands top-1 is NULL (Postgres scalar-subquery semantics)") {
    val emptyJson =
      """{"results": [], "links": {"base": "b", "prev": null, "next": null},
          "start": 0, "limit": 0, "size": 0}""".replaceAll("\n\\s*", " ")
    val empty = ShiftNormalizer.normalize(PageSource.parsePage(spark, emptyJson))
    val k = kpiMap(empty, LocalDate.parse("2023-12-31"))
    assert(k("mean_break_length_in_minutes") === Some(BigDecimal("0.00")))
    assert(k("mean_shift_cost") === Some(BigDecimal("0.00")))
    assert(k("max_allowance_cost_14d") === Some(BigDecimal("0.00")))
    assert(k("max_break_free_shift_period_in_days") === None)
    assert(k("min_shift_length_in_hours") === Some(BigDecimal("0.00")))
    assert(k("total_number_of_paid_breaks") === Some(BigDecimal("0.00")))
  }

  test("gaps-and-islands counts the longest break-free run") {
    // 5 shifts: breaks on days 1 and 4 → islands: {2,3} (len 2, grp 1), {5} (len 1, grp 2)
    def shift(id: String, day: Int, withBreak: Boolean): String = {
      val start = 1701077400000L + day * 86400000L
      val breaks = if (withBreak)
        s"""[{"id": "br-$id", "start": ${start + 3600000}, "finish": ${start + 5400000}, "paid": false}]"""
      else "[]"
      s"""{"id": "$id", "date": "2023-12-0$day", "start": $start, "finish": ${start + 28800000},
          "breaks": $breaks, "allowances": [], "award_interpretations": []}"""
    }
    val json =
      s"""{"results": [${shift("s1", 1, true)}, ${shift("s2", 2, false)},
                       ${shift("s3", 3, false)}, ${shift("s4", 4, true)},
                       ${shift("s5", 5, false)}],
           "links": {"base": "b", "prev": null, "next": null},
           "start": 0, "limit": 5, "size": 5}""".replaceAll("\n\\s*", " ")
    val t = ShiftNormalizer.normalize(PageSource.parsePage(spark, json))
    val k = kpiMap(t, LocalDate.parse("2023-12-31"))
    assert(k("max_break_free_shift_period_in_days") === Some(BigDecimal("2.00")))
  }

  test("the KPIs read the committed rows in two scans, with no join, explode or broadcast") {
    val wh = new ShiftWarehouse(spark, tempDir("kpi-plan"))
    val gen = ShiftGenerator.generate(5L, LocalDate.parse("2024-03-01"), days = 16)
    (0 until 8).foreach { i =>
      wh.appendBatch(ShiftNormalizer.normalize(
        PageSource.parsePage(spark, ShiftGenerator.pageJson(gen, 2 * i, 2))), s"p$i")
    }
    val asOf = LocalDate.parse("2024-03-10")
    val kpis = ShiftKpis.all(wh.normalized, asOf)
    kpis.collect()
    val plan = kpis.queryExecution.executedPlan
    // at least one: the helper sees through the AQE wrapper and its stages
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.size <= 2, plan.toString)
    assert(collect(plan) {
      case p @ (_: BroadcastExchangeExec | _: BroadcastHashJoinExec |
          _: SortMergeJoinExec | _: GenerateExec) => p
    }.isEmpty, plan.toString)
    val jobs = jobsOf(wh.appendKpis(ShiftKpis.all(wh.normalized, asOf), "k0"))
    assert(jobs <= 4, s"$jobs jobs")
  }
}

package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's six KPIs (`etl/app/shift_data_processor.py:217-298`) as
  * Spark aggregates — each a 1-row DataFrame, unioned into the tall
  * `kpis(kpi_name, kpi_date, kpi_value)` table.
  *
  * `CURRENT_DATE` in the reference SQL is injectable here (`asOfDate`) so
  * golden tests are deterministic (SURVEY §2.8).
  *
  * Scale notes (100 TB): all six are all-reduce aggregates — partial
  * (map-side) aggregation then a 1-row exchange, no wide shuffle. The one
  * exception is Q4's global-order running sum (gaps-and-islands), which is
  * inherently sequential; see [[maxBreakFreePeriod]] for the plan and the
  * two-pass design used past ~10^9 shifts.
  */
object ShiftKpis {

  private val kpiType = DecimalType(8, 2)

  private def secondsBetween(a: Column, b: Column): Column =
    unix_timestamp(b) - unix_timestamp(a)

  private def kpiRow(df: DataFrame, name: String, asOfDate: LocalDate, value: Column): DataFrame =
    df.agg(value.cast(kpiType).as("kpi_value"))
      .select(
        lit(name).as("kpi_name"),
        lit(java.sql.Date.valueOf(asOfDate)).as("kpi_date"),
        col("kpi_value"))

  /** Q3 `max_allowance_cost_14d`: MAX(allowance_cost) over allowances ⋈ shifts
    * within 14 days before asOfDate. The date-filtered shifts side is tiny →
    * broadcast, so the fact side never shuffles. */
  def maxAllowanceCost14d(allowances: DataFrame, shifts: DataFrame, asOfDate: LocalDate): DataFrame = {
    val recent = shifts
      .filter(col("shift_date") >= date_sub(lit(java.sql.Date.valueOf(asOfDate)), 14))
      .select("shift_id")
    val joined = allowances.select("shift_id", "allowance_cost")
      .join(broadcast(recent), Seq("shift_id"), "inner")
    kpiRow(joined, "max_allowance_cost_14d", asOfDate,
      coalesce(max(col("allowance_cost")), lit(0)))
  }

  /** Q4 `max_break_free_shift_period_in_days` — gaps-and-islands:
    * running SUM of has-break flags OVER (ORDER BY shift_date) groups
    * consecutive break-free shifts; island size = COUNT(*) minus 1 for the
    * break-carrying row that opens each island (except island 0).
    *
    * Faithful to the reference's default RANGE frame: equal shift_dates
    * share a `grp` value. Postgres returns NULL (not 0) when there are no
    * shifts at all — the final `max` over an empty top-1 reproduces that.
    *
    * Scale: the unpartitioned window is a single task by design — but only
    * over `(shift_date, break_id)` pairs projected before the exchange.
    * Past ~10^9 rows the plan is two-pass: per-bucket (e.g. per-month)
    * islands computed in parallel, then island ids stitched by adding the
    * prefix-sum of per-bucket flag totals — same result, no global sort.
    */
  def maxBreakFreePeriod(shifts: DataFrame, breaks: DataFrame, asOfDate: LocalDate): DataFrame = {
    val joined = shifts.select("shift_id", "shift_date")
      .join(breaks.select("shift_id", "break_id"), Seq("shift_id"), "left_outer")
    val flagged = joined.withColumn("grp",
      sum(when(col("break_id").isNull, 0).otherwise(1))
        .over(Window.orderBy(col("shift_date"))))
    val islands = flagged.groupBy(col("grp"))
      .agg((count(lit(1)) - when(col("grp") === 0, 0).otherwise(1)).as("cnt"))
    val top = islands.orderBy(col("cnt").desc).limit(1)
    kpiRow(top, "max_break_free_shift_period_in_days", asOfDate, max(col("cnt")))
  }

  /** Unpivot a 1-row multi-aggregate into tall KPI rows. */
  private def unpivot(agg1row: DataFrame, asOfDate: LocalDate, names: Seq[String]): DataFrame = {
    val stackArgs = names.map(n => s"'$n', `$n`").mkString(", ")
    agg1row
      .select(expr(s"stack(${names.size}, $stackArgs) AS (kpi_name, kpi_value)"))
      .select(col("kpi_name"),
        lit(java.sql.Date.valueOf(asOfDate)).as("kpi_date"), col("kpi_value"))
  }

  /** All six KPIs. The four whole-table scalar KPIs are computed as ONE
    * multi-aggregate pass per source table (breaks once, shifts once) and
    * unpivoted — not one scan per KPI; at 100 TB that halves the fact
    * scans: Q1 `mean_break_length_in_minutes` (AVG(finish-start) in
    * minutes) and Q6 `total_number_of_paid_breaks` (COUNT WHERE is_paid)
    * over breaks, Q2 `mean_shift_cost` (AVG) and Q5
    * `min_shift_length_in_hours` (MIN(finish-start) in hours) over
    * shifts; an empty table gives 0. Q3 (join) and Q4 (islands window)
    * keep their own plans. */
  def all(tables: NormalizedShifts, asOfDate: LocalDate): DataFrame = {
    val breaksAgg = tables.breaks.agg(
      coalesce(avg(secondsBetween(col("break_start"), col("break_finish"))) / 60, lit(0))
        .cast(kpiType).as("mean_break_length_in_minutes"),
      count(when(col("is_paid"), 1))
        .cast(kpiType).as("total_number_of_paid_breaks"))
    val shiftsAgg = tables.shifts.agg(
      coalesce(avg(col("shift_cost")), lit(0))
        .cast(kpiType).as("mean_shift_cost"),
      coalesce(min(secondsBetween(col("shift_start"), col("shift_finish"))) / 3600, lit(0))
        .cast(kpiType).as("min_shift_length_in_hours"))
    // row order in the tall table is irrelevant (keyed by kpi_name); each
    // aggregate subtree is referenced once so each table is scanned once
    unpivot(breaksAgg, asOfDate,
      Seq("mean_break_length_in_minutes", "total_number_of_paid_breaks"))
      .union(unpivot(shiftsAgg, asOfDate,
        Seq("mean_shift_cost", "min_shift_length_in_hours")))
      .union(maxAllowanceCost14d(tables.allowances, tables.shifts, asOfDate))
      .union(maxBreakFreePeriod(tables.shifts, tables.breaks, asOfDate))
  }
}

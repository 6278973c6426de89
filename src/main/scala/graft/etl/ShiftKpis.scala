package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's six KPIs (`etl/app/shift_data_processor.py:217-298`) as
  * Spark aggregates over the nested shift rows as stored, unpivoted into
  * the tall `kpis(kpi_name, kpi_date, kpi_value)` table.
  *
  * The reference computes them over the four joined tables. Here each
  * shift row carries its breaks and allowances, so a child table's KPI is
  * a per-row figure taken from the child array (`aggregate`, `array_max`,
  * `size`) summed over the shifts: no `explode`, no join, no broadcast.
  * That equals the joined form because `shift_id` is unique, which every
  * commit's PK check enforces. The plan is two scans of one read: one
  * global aggregate for five KPIs, and Q4's per-date partials.
  *
  * `CURRENT_DATE` in the reference SQL is injectable here (`asOfDate`) so
  * golden tests are deterministic (SURVEY §2.8).
  *
  * Scale notes (100 TB): the global aggregate is map-side partials, then a
  * 1-row exchange. Q4's running sum is a global order, so its window is a
  * single task, but over at most one row per distinct `shift_date`, after
  * a parallel group-by; it never sorts shifts or breaks.
  */
object ShiftKpis {

  private val kpiType = DecimalType(8, 2)

  private def secondsBetween(a: Column, b: Column): Column =
    unix_timestamp(b) - unix_timestamp(a)

  private def breakSeconds(b: Column): Column =
    secondsBetween(b.getField("break_start"), b.getField("break_finish"))

  /** Breaks of this shift for which `p` holds; 0 when `breaks` is NULL. */
  private def breaksWhere(p: Column => Column): Column =
    coalesce(aggregate(col("breaks"), lit(0L), (n, b) => n + when(p(b), 1L).otherwise(0L)), lit(0L))

  /** A 1-row frame of decimal KPI columns as tall KPI rows. */
  private def tall(agg1row: DataFrame, asOfDate: LocalDate): DataFrame =
    agg1row.unpivot(Array.empty[Column], "kpi_name", "kpi_value")
      .select(col("kpi_name"),
        lit(java.sql.Date.valueOf(asOfDate)).as("kpi_date"), col("kpi_value"))

  /** All six KPIs; an empty warehouse gives 0, and NULL for Q4.
    *
    * One global aggregate over the shift rows gives five:
    *  - Q1 `mean_break_length_in_minutes`: Σ break seconds / the count of
    *    breaks with both ends, in minutes. The reference's AVG over breaks
    *    sums in a double; integer sums below 2^53 are exact, so the two
    *    agree. The division is guarded, since ANSI division by 0 throws.
    *  - Q2 `mean_shift_cost`: AVG(shift_cost).
    *  - Q3 `max_allowance_cost_14d`: MAX of each recent shift's largest
    *    allowance cost, for shifts within 14 days before asOfDate.
    *  - Q5 `min_shift_length_in_hours`: MIN(finish-start) in hours.
    *  - Q6 `total_number_of_paid_breaks`: Σ paid breaks per shift.
    *
    * Q4 `max_break_free_shift_period_in_days` is gaps-and-islands over
    * shifts ⟕ breaks: a running SUM of has-break flags OVER (ORDER BY
    * shift_date) numbers the islands of break-free shifts, and an
    * island's size is its row count less 1 for the break-carrying row
    * that opens it (except island 0). The reference's default RANGE frame
    * gives equal dates one running sum, so per-date partials lose nothing:
    * `nb` counts the breaks with an id (the join's flags) and `rows`
    * counts `greatest(size(breaks), 1)` (its rows, one for a shift with no
    * break). The window then runs over one row per date, NULL dates first
    * as one group. With no shifts there are no islands and Q4 is NULL, as
    * Postgres returns for the reference's empty scalar subquery.
    */
  def all(tables: NormalizedShifts, asOfDate: LocalDate): DataFrame = {
    val asOf = lit(java.sql.Date.valueOf(asOfDate))
    val timedBreaks = sum(breaksWhere(breakSeconds(_).isNotNull))
    val breakSecondsSum = sum(aggregate(col("breaks"), lit(0L),
      (s, b) => s + coalesce(breakSeconds(b), lit(0L))))
    val scalars = tables.rows.agg(
      coalesce(when(timedBreaks > 0, breakSecondsSum / timedBreaks) / 60, lit(0))
        .cast(kpiType).as("mean_break_length_in_minutes"),
      coalesce(sum(breaksWhere(_.getField("is_paid"))), lit(0))
        .cast(kpiType).as("total_number_of_paid_breaks"),
      coalesce(avg(col("shift_cost")), lit(0))
        .cast(kpiType).as("mean_shift_cost"),
      coalesce(min(secondsBetween(col("shift_start"), col("shift_finish"))) / 3600, lit(0))
        .cast(kpiType).as("min_shift_length_in_hours"),
      coalesce(max(when(col("shift_date") >= date_sub(asOf, 14),
        array_max(col("allowances.allowance_cost")))), lit(0))
        .cast(kpiType).as("max_allowance_cost_14d"))

    val islands = tables.rows.groupBy(col("shift_date"))
      .agg(sum(breaksWhere(_.getField("break_id").isNotNull)).as("nb"),
        sum(greatest(size(col("breaks")), lit(1))).as("rows"))
      .withColumn("grp", sum(col("nb")).over(Window.orderBy(col("shift_date"))))
      .groupBy(col("grp"))
      .agg((sum(col("rows")) - when(col("grp") === 0, 0).otherwise(1)).as("cnt"))
    val breakFree = islands.agg(
      max(col("cnt")).cast(kpiType).as("max_break_free_shift_period_in_days"))

    // six rows: one partition, so a KPI batch is one file
    tall(scalars, asOfDate).union(tall(breakFree, asOfDate)).coalesce(1)
  }
}

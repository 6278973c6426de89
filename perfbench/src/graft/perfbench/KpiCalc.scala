package graft.perfbench

import scala.math.BigDecimal.RoundingMode
import java.time.LocalDate

import graft.etl.ShiftGenerator.GenShift

/** The six reference KPIs computed on the driver, directly from generated
  * shifts, with no Spark and no engine code: the independent answer the
  * warehouse's KPI rows are checked against.
  *
  * Semantics follow the reference SQL over the normalized tables:
  * epochs become whole seconds (`ms // 1000`, NULL unless positive),
  * `shift_cost` is the HALF_EVEN 4-place rounding of the allowance plus
  * award cost sums, averages are exact decimals, and every KPI is cast to
  * decimal(8,2) with HALF_UP rounding. Q4 is gaps-and-islands under the
  * default RANGE frame: shifts on the same date share one running flag
  * count. */
object KpiCalc {

  val names: Seq[String] = Seq(
    "mean_break_length_in_minutes", "mean_shift_cost", "max_allowance_cost_14d",
    "max_break_free_shift_period_in_days", "min_shift_length_in_hours",
    "total_number_of_paid_breaks")

  private def seconds(ms: Long): Option[Long] =
    if (ms > 0) Some(ms / 1000) else None

  private def dec2(x: BigDecimal): BigDecimal =
    x.setScale(2, RoundingMode.HALF_UP)

  /** Spark's decimal average of a decimal(13,4) column carries 8 places. */
  private def avg8(xs: Seq[BigDecimal]): Option[BigDecimal] =
    if (xs.isEmpty) None
    else Some((xs.sum / BigDecimal(xs.size)).setScale(8, RoundingMode.HALF_UP))

  private def avgExact(xs: Seq[Long]): Option[BigDecimal] =
    if (xs.isEmpty) None
    else Some(BigDecimal(xs.sum) / BigDecimal(xs.size))

  /** The normalized `shift_cost`: double sums in array order, then a
    * HALF_EVEN rounding to 4 places. */
  def shiftCost(s: GenShift): BigDecimal = {
    val a = s.allowances.foldLeft(0.0)(_ + _.cost)
    val w = s.award_interpretations.foldLeft(0.0)(_ + _.cost)
    BigDecimal(a + w).setScale(4, RoundingMode.HALF_EVEN)
  }

  /** Q4 over (date, has-break) rows: islands of break-free shifts. */
  def maxBreakFree(rows: Seq[(LocalDate, Boolean)]): Option[Long] =
    if (rows.isEmpty) None
    else {
      val flagsByDate = rows.groupBy(_._1).toSeq.sortBy(_._1.toEpochDay)
      var running = 0L
      val grpOf = flagsByDate.map { case (d, rs) =>
        running += rs.count(_._2)
        d -> running
      }.toMap
      val islands = rows.groupBy(r => grpOf(r._1)).map { case (g, rs) =>
        rs.size.toLong - (if (g == 0) 0 else 1)
      }
      Some(islands.max)
    }

  /** name -> value; `None` is the SQL NULL (Q4 with no shifts). */
  def kpis(shifts: Seq[GenShift], asOf: LocalDate): Map[String, Option[BigDecimal]] = {
    val breaks = shifts.flatMap(_.breaks)
    val breakLens = breaks.flatMap(b =>
      for (s <- seconds(b.start); f <- seconds(b.finish)) yield f - s)
    val shiftLens = shifts.flatMap(s =>
      for (a <- seconds(s.start); f <- seconds(s.finish)) yield f - a)
    val from = asOf.minusDays(14)
    val recentAllowances = shifts
      .filter(s => !LocalDate.parse(s.date).isBefore(from))
      .flatMap(_.allowances.map(a => BigDecimal(a.cost).setScale(4, RoundingMode.HALF_UP)))
    val q4Rows = shifts.flatMap { s =>
      val d = LocalDate.parse(s.date)
      if (s.breaks.isEmpty) Seq(d -> false) else s.breaks.map(_ => d -> true)
    }
    val zero = BigDecimal(0)
    Map(
      "mean_break_length_in_minutes" ->
        Some(dec2(avgExact(breakLens).map(_ / 60).getOrElse(zero))),
      "mean_shift_cost" -> Some(dec2(avg8(shifts.map(shiftCost)).getOrElse(zero))),
      "max_allowance_cost_14d" -> Some(dec2(recentAllowances.maxOption.getOrElse(zero))),
      "max_break_free_shift_period_in_days" -> maxBreakFree(q4Rows).map(n => dec2(BigDecimal(n))),
      "min_shift_length_in_hours" ->
        Some(dec2(shiftLens.minOption.map(BigDecimal(_) / 3600).getOrElse(zero))),
      "total_number_of_paid_breaks" -> Some(dec2(BigDecimal(breaks.count(_.paid)))))
  }

  /** Expected row count per normalized table. */
  def rowCounts(shifts: Seq[GenShift]): Map[String, Long] = Map(
    "shifts" -> shifts.size.toLong,
    "breaks" -> shifts.map(_.breaks.size.toLong).sum,
    "allowances" -> shifts.map(_.allowances.size.toLong).sum,
    "award_interpretations" -> shifts.map(_.award_interpretations.size.toLong).sum)

  /** Names whose engine value differs from the expected one (compared as
    * numbers, so 24.4 equals 24.40). */
  def mismatches(expected: Map[String, Option[BigDecimal]],
      got: Map[String, Option[BigDecimal]]): Seq[String] =
    names.filter { n =>
      (expected.getOrElse(n, None), got.getOrElse(n, None)) match {
        case (Some(e), Some(g)) => e.compare(g) != 0
        case (None, None) => !got.contains(n)
        case _ => true
      }
    }
}

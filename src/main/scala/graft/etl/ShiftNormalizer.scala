package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Nested-page → normalized-tables transform.
  *
  * Re-expresses the reference's row-at-a-time Python flattening
  * (`etl/app/shift_data_processor.py:62-121`) as declarative Spark plans:
  * higher-order `transform` replaces the nested list comprehensions,
  * `aggregate` replaces the per-row `sum(...)` for `shift_cost`, and
  * `when`/`timestamp_seconds` replaces `parse_timestamp`. No UDFs, no
  * shuffles. The output is one frame of nested shift rows, children kept
  * inside their parent row (Dremel's record shape), so a batch is written
  * once; the four reference tables are read-time projections of it
  * ([[NormalizedShifts]]), and a child's `shift_id` is its parent row's,
  * so the parent-child join is by construction, never executed.
  */
object ShiftNormalizer {

  /** ms-epoch → second-precision timestamp with the reference's null guard
    * (`parse_timestamp`, shift_data_processor.py:117-121): non-null and > 0,
    * milliseconds truncated by integer division (observable: the golden
    * fixture has a break finishing at ...5277 ms).
    */
  def msToTimestamp(c: Column): Column = {
    // True integral `ms // 1000` (the reference's floor division): subtract
    // the remainder first so the double division is exact for every long —
    // Spark's plain `/` on longs rounds through double.
    val ms = c.cast("long")
    when(c.isNotNull && c > 0,
      timestamp_seconds(((ms - pmod(ms, lit(1000L))) / 1000L).cast("long")))
      .otherwise(lit(null).cast("timestamp"))
  }

  private def sumCosts(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + coalesce(x.getField("cost"), lit(0.0)))

  /** All four normalized tables of one page (or union of pages), as one
    * frame of nested shift rows ([[ShiftSchemas.nestedShiftRow]]): the
    * shifts columns, with each child list mapped in place by `transform`.
    * shift_cost = bround(Σ allowances.cost + Σ award_interpretations.cost, 4)
    * — `bround` (HALF_EVEN) mirrors Python `round` (shift_data_processor.py:78-82).
    */
  def normalize(page: DataFrame): NormalizedShifts = {
    val s = page.select(explode(col("results")).as("r")).select("r.*")
    NormalizedShifts(s.select(
      col("id").as("shift_id"),
      to_date(col("date"), "yyyy-MM-dd").as("shift_date"),
      msToTimestamp(col("start")).as("shift_start"),
      msToTimestamp(col("finish")).as("shift_finish"),
      bround(sumCosts(col("allowances")) + sumCosts(col("award_interpretations")), 4)
        .cast(DecimalType(13, 4)).as("shift_cost"),
      // process_breaks (shift_data_processor.py:89-101)
      transform(col("breaks"), b => struct(
        b.getField("id").as("break_id"),
        msToTimestamp(b.getField("start")).as("break_start"),
        msToTimestamp(b.getField("finish")).as("break_finish"),
        // NULL stays NULL: the reference inserts break['paid'] verbatim and
        // Postgres's DEFAULT FALSE only applies when the column is omitted,
        // never to an explicit JSON null (initdb.sql:16).
        b.getField("paid").as("is_paid"))).as("breaks"),
      // rename map {id→allowance_id, value→allowance_value,
      // cost→allowance_cost} (shift_data_processor.py:103-108)
      transform(col("allowances"), a => struct(
        a.getField("id").as("allowance_id"),
        a.getField("value").as("allowance_value"),
        a.getField("cost").cast(DecimalType(13, 4)).as("allowance_cost"))).as("allowances"),
      // rename map (shift_data_processor.py:110-115)
      transform(col("award_interpretations"), w => struct(
        w.getField("id").as("award_id"),
        to_date(w.getField("date"), "yyyy-MM-dd").as("award_date"),
        w.getField("units").as("award_units"),
        w.getField("cost").cast(DecimalType(13, 4)).as("award_cost"))).as("award_interpretations")))
  }
}

/** The four normalized tables of one batch, stored once as nested shift
  * rows. Each table is a projection of `rows`: the shifts columns, or an
  * `explode` of one child array with the parent's `shift_id`. Column
  * names, order and types are [[ShiftWarehouse.tableSchemas]]'. */
final case class NormalizedShifts(rows: DataFrame) {
  lazy val shifts: DataFrame = rows.select(columns("shifts").map(col): _*)
  lazy val breaks: DataFrame = child("breaks")
  lazy val allowances: DataFrame = child("allowances")
  lazy val awardInterpretations: DataFrame = child("award_interpretations")

  def table(name: String): DataFrame = name match {
    case "shifts" => shifts
    case "breaks" => breaks
    case "allowances" => allowances
    case "award_interpretations" => awardInterpretations
    case _ => throw new NoSuchElementException(s"no reference table '$name'")
  }

  private def columns(name: String): Seq[String] =
    ShiftWarehouse.tableSchemas(name).fieldNames.toSeq

  private def child(name: String): DataFrame =
    rows.select(col("shift_id"), explode(col(name)).as("c"))
      .select(columns(name).map(c => if (c == "shift_id") col(c) else col(s"c.$c")): _*)
}

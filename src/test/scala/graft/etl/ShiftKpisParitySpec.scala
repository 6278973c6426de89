package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkTestBase

/** `ShiftKpis.all` over the nested rows against the six-scan form it
  * replaced, which explodes each child table and joins it back: Q3 a
  * broadcast join of the 14-day shifts, Q4 shifts ⟕ breaks. Both must
  * give the same KPI rows (name, date, value, NULL included) over
  * generated warehouses and over hand-written edge pages. */
class ShiftKpisParitySpec extends SparkTestBase {

  /** The six-scan reference: the KPI formulas over the exploded tables. */
  private object Reference {
    private val kpiType = DecimalType(8, 2)

    private def secondsBetween(a: Column, b: Column): Column =
      unix_timestamp(b) - unix_timestamp(a)

    private def kpiRow(df: DataFrame, name: String, asOf: LocalDate, value: Column): DataFrame =
      df.agg(value.cast(kpiType).as("kpi_value"))
        .select(lit(name).as("kpi_name"), lit(java.sql.Date.valueOf(asOf)).as("kpi_date"),
          col("kpi_value"))

    def all(t: NormalizedShifts, asOf: LocalDate): DataFrame = {
      val recent = t.shifts
        .filter(col("shift_date") >= date_sub(lit(java.sql.Date.valueOf(asOf)), 14))
        .select("shift_id")
      val q3 = kpiRow(t.allowances.select("shift_id", "allowance_cost")
        .join(broadcast(recent), Seq("shift_id"), "inner"),
        "max_allowance_cost_14d", asOf, coalesce(max(col("allowance_cost")), lit(0)))
      val flagged = t.shifts.select("shift_id", "shift_date")
        .join(t.breaks.select("shift_id", "break_id"), Seq("shift_id"), "left_outer")
        .withColumn("grp", sum(when(col("break_id").isNull, 0).otherwise(1))
          .over(Window.orderBy(col("shift_date"))))
      val islands = flagged.groupBy(col("grp"))
        .agg((count(lit(1)) - when(col("grp") === 0, 0).otherwise(1)).as("cnt"))
      val q4 = kpiRow(islands.orderBy(col("cnt").desc).limit(1),
        "max_break_free_shift_period_in_days", asOf, max(col("cnt")))
      Seq(
        kpiRow(t.breaks, "mean_break_length_in_minutes", asOf,
          coalesce(avg(secondsBetween(col("break_start"), col("break_finish"))) / 60, lit(0))),
        kpiRow(t.breaks, "total_number_of_paid_breaks", asOf, count(when(col("is_paid"), 1))),
        kpiRow(t.shifts, "mean_shift_cost", asOf, coalesce(avg(col("shift_cost")), lit(0))),
        kpiRow(t.shifts, "min_shift_length_in_hours", asOf,
          coalesce(min(secondsBetween(col("shift_start"), col("shift_finish"))) / 3600, lit(0))),
        q3, q4).reduce(_ union _)
    }
  }

  private def rows(df: DataFrame): Seq[(String, LocalDate, Option[BigDecimal])] =
    df.collect().toSeq.map(r => (r.getString(0), r.getDate(1).toLocalDate,
      Option(r.getDecimal(2)).map(BigDecimal(_)))).sortBy(_._1)

  private def assertParity(what: String, t: NormalizedShifts, asOf: LocalDate): Unit = {
    val expected = rows(Reference.all(t, asOf))
    assert(expected.size === 6, what)
    assert(rows(ShiftKpis.all(t, asOf)) === expected, s"$what, as of $asOf")
  }

  private val asOfs = Seq("2024-03-05", "2024-03-20", "2024-06-01").map(LocalDate.parse)

  test("same KPI rows over generated warehouses, several seeds and as-of dates") {
    for (seed <- Seq(3L, 17L, 101L)) {
      val wh = new ShiftWarehouse(spark, tempDir(s"kpi-parity-$seed"))
      val gen = ShiftGenerator.generate(seed, LocalDate.parse("2024-03-01"), days = 24)
      (0 until 3).foreach { i =>
        wh.appendBatch(ShiftNormalizer.normalize(
          PageSource.parsePage(spark, ShiftGenerator.pageJson(gen, 8 * i, 8))), s"p$i")
      }
      asOfs.foreach(assertParity(s"seed $seed", wh.normalized, _))
    }
  }

  /** One shift as page JSON; `date`, `breaks` and `allowances` are raw
    * JSON, so NULLs and omitted keys can be written. */
  private def shift(id: String, date: String, hours: Int, breaks: String,
      allowances: String = "[]"): String = {
    val start = 1709280000000L // 2024-03-01T08:00Z
    val b = Option(breaks).map(v => s""""breaks": $v, """).getOrElse("")
    val a = Option(allowances).map(v => s""""allowances": $v, """).getOrElse("")
    s"""{"id": "$id", "date": $date, "start": $start, "finish": ${start + hours * 3600000L},
       | $b$a"award_interpretations": []}""".stripMargin
  }

  private def brk(id: String, start: String = "1709290800000",
      finish: String = "1709292300000", paid: String = "true"): String =
    s"""{"id": "$id", "start": $start, "finish": $finish, "paid": $paid}"""

  private def page(shifts: String*): NormalizedShifts = ShiftNormalizer.normalize(
    PageSource.parsePage(spark, s"""{"results": [${shifts.mkString(", ")}]}"""))

  private val allowances = """[{"id": "a1", "value": 1.0, "cost": 12.5},
      |{"id": "a2", "value": 0.5, "cost": 30.25}]""".stripMargin

  private val edgePages: Seq[(String, () => NormalizedShifts)] = Seq(
    "a NULL shift_date" -> (() => page(
      shift("n1", "null", 8, s"[${brk("nb1")}]", allowances),
      shift("n2", "null", 9, "[]"),
      shift("d1", "\"2024-03-02\"", 10, "[]"),
      shift("d2", "\"2024-03-03\"", 8, s"[${brk("db2", paid = "false")}]"))),
    "NULL and empty child arrays" -> (() => page(
      shift("e1", "\"2024-03-02\"", 8, "null", "null"),
      shift("e2", "\"2024-03-03\"", 8, null, null),
      shift("e3", "\"2024-03-04\"", 8, "[]", "[]"),
      shift("e4", "\"2024-03-05\"", 8, "[null]", "[null]"),
      shift("e5", "\"2024-03-06\"", 8, s"[${brk("eb5")}]", allowances))),
    "breaks with a NULL start or finish" -> (() => page(
      shift("t1", "\"2024-03-02\"", 8, s"[${brk("tb1", start = "null")}]"),
      shift("t2", "\"2024-03-03\"", 8, s"[${brk("tb2", finish = "null")}, ${brk("tb3")}]"),
      shift("t3", "\"2024-03-04\"", 8, s"[${brk("tb4", start = "0", finish = "null")}]"))),
    "paid: null" -> (() => page(
      shift("p1", "\"2024-03-02\"", 8, s"[${brk("pb1", paid = "null")}, ${brk("pb2")}]"),
      shift("p2", "\"2024-03-03\"", 8, s"[${brk("pb3", paid = "null")}]"))),
    "several shifts on one date" -> (() => page(
      shift("m1", "\"2024-03-02\"", 8, s"[${brk("mb1")}]"),
      shift("m2", "\"2024-03-02\"", 9, "[]"),
      shift("m3", "\"2024-03-02\"", 7, "[]", allowances),
      shift("m4", "\"2024-03-03\"", 8, "[]"),
      shift("m5", "\"2024-03-03\"", 8, "[]"),
      shift("m6", "\"2024-03-04\"", 8, s"[${brk("mb6")}, ${brk("mb7", paid = "false")}]"),
      shift("m7", "\"2024-03-05\"", 8, "[]"),
      shift("m8", "\"2024-03-05\"", 8, "null"))),
    "every shift with a break" -> (() => page(
      (1 to 5).map(i => shift(s"w$i", s""""2024-03-0$i"""", 8, s"[${brk(s"wb$i")}]")): _*)),
    "no shift with a break" -> (() => page(
      (1 to 5).map(i => shift(s"x$i", s""""2024-03-0$i"""", 8 + i, "[]", allowances)): _*)),
    "an empty page" -> (() => page()),
    "an empty warehouse" -> (() => new ShiftWarehouse(spark, tempDir("kpi-parity-empty")).normalized))

  edgePages.foreach { case (what, t) =>
    test(s"same KPI rows over $what") {
      val tables = t()
      asOfs.take(2).foreach(assertParity(what, tables, _))
    }
  }
}

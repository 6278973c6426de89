package graft.etl

import org.apache.spark.sql.types._

/** Source + target schemas for the shift-data domain.
  *
  * Source shape: reference `api/app/models.py:12-65` (a page of shifts with
  * three nested arrays of structs). Target shape: reference `initdb.sql:3-46`
  * (4 normalized tables + kpis). Declared explicitly — the reference's
  * dict-key duck typing becomes a fail-fast analyzed schema here.
  */
object ShiftSchemas {

  val breakSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("start", LongType),    // epoch millis
    StructField("finish", LongType),   // epoch millis
    StructField("paid", BooleanType)))

  val allowanceSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("value", DoubleType),
    StructField("cost", DoubleType)))

  val awardSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("date", StringType),   // yyyy-MM-dd
    StructField("units", DoubleType),
    StructField("cost", DoubleType)))

  val shiftSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("date", StringType),   // yyyy-MM-dd
    StructField("start", LongType),    // epoch millis
    StructField("finish", LongType),   // epoch millis
    StructField("breaks", ArrayType(breakSchema)),
    StructField("allowances", ArrayType(allowanceSchema)),
    StructField("award_interpretations", ArrayType(awardSchema))))

  /** Paginated envelope, reference `api/app/models.py:46-65`. */
  val pageSchema: StructType = StructType(Seq(
    StructField("results", ArrayType(shiftSchema)),
    StructField("links", StructType(Seq(
      StructField("base", StringType),
      StructField("prev", StringType),
      StructField("next", StringType)))),
    StructField("start", IntegerType),
    StructField("limit", IntegerType),
    StructField("size", IntegerType)))

  // Normalized target schemas (initdb.sql:3-46)
  val shiftsTable: StructType = StructType(Seq(
    StructField("shift_id", StringType),
    StructField("shift_date", DateType),
    StructField("shift_start", TimestampType),
    StructField("shift_finish", TimestampType),
    StructField("shift_cost", DecimalType(13, 4))))

  val breaksTable: StructType = StructType(Seq(
    StructField("break_id", StringType),
    StructField("shift_id", StringType),
    StructField("break_start", TimestampType),
    StructField("break_finish", TimestampType),
    StructField("is_paid", BooleanType)))

  val allowancesTable: StructType = StructType(Seq(
    StructField("allowance_id", StringType),
    StructField("shift_id", StringType),
    StructField("allowance_value", DoubleType),
    StructField("allowance_cost", DecimalType(13, 4))))

  val awardsTable: StructType = StructType(Seq(
    StructField("award_id", StringType),
    StructField("shift_id", StringType),
    StructField("award_date", DateType),
    StructField("award_units", DoubleType),
    StructField("award_cost", DecimalType(13, 4))))

  val kpisTable: StructType = StructType(Seq(
    StructField("kpi_name", StringType),
    StructField("kpi_date", DateType),
    StructField("kpi_value", DecimalType(8, 2))))

  /** The warehouse's stored form of the four tables above: one row per
    * shift with the `shiftsTable` columns, then one array per child
    * table, named after it. A child struct holds that table's columns
    * less `shift_id`, which is its parent row's. */
  val nestedShiftRow: StructType = StructType(shiftsTable.fields ++
    Seq("breaks" -> breaksTable, "allowances" -> allowancesTable,
      "award_interpretations" -> awardsTable).map { case (name, t) =>
      StructField(name, ArrayType(StructType(t.fields.filterNot(_.name == "shift_id"))))
    })
}

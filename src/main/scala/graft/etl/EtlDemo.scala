package graft.etl

import java.time.LocalDate

/** Drive the full shift-ETL pipeline end to end from the CLI:
  * paginated source → normalize → atomic batch commits → KPIs.
  *
  * Usage: runMain graft.etl.EtlDemo [warehouseDir] [asOfDate]
  */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val whDir = args.lift(0).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-etl-demo").toString)
    val asOf = LocalDate.parse(args.lift(1).getOrElse("2023-12-31"))
    val spark = graft.core.Session.local()

    // Two-page paginated source with a relative next link, as served by the
    // reference API (api/app/main.py:94-104).
    val pageJsons = Map(
      "mem://shifts?start=0" -> (DemoPages.page1, Some("mem://shifts?start=1")),
      "mem://shifts?start=1" -> (DemoPages.page2, None))
    val pages = PageSource.pages("mem://shifts?start=0") { url =>
      val (json, next) = pageJsons(url)
      (PageSource.parsePage(spark, json), next)
    }

    val wh = new ShiftWarehouse(spark, whDir)
    ShiftsEtl.run(pages, wh, asOf, runId = "demo")

    println(s"warehouse: $whDir")
    Seq("shifts", "breaks", "allowances", "award_interpretations").foreach { t =>
      println(s"$t: ${wh.table(t).count()} rows")
    }
    wh.kpis.orderBy("kpi_name").show(10, truncate = false)
    println(s"KPI_ROWS=${wh.kpis.count()}")
    spark.stop()
  }
}

private object DemoPages {
  val page1: String =
    s"""{"results": [${Shift.a}],
        "links": {"base": "mem://shifts", "prev": null, "next": "mem://shifts?start=1"},
        "start": 0, "limit": 1, "size": 2}"""
  val page2: String =
    s"""{"results": [${Shift.b}],
        "links": {"base": "mem://shifts", "prev": "mem://shifts?start=0", "next": null},
        "start": 1, "limit": 1, "size": 2}"""

  /** The reference's canonical 2-shift fixture
    * (etl/tests/test_shift_data_processor.py:48-125). */
  object Shift {
    val a: String =
      """{"id": "b2b9437a-28df-4ec4-8e4a-2bbdc241330b", "date": "2023-11-27",
          "start": 1701077400000, "finish": 1701108900000,
          "breaks": [{"id": "16419f82-8b9d-4434-a465-e150bd9c66b3",
                      "start": 1701085620000, "finish": 1701087005277, "paid": false}],
          "allowances": [
            {"id": "815ef6d1-3b8f-4a18-b7f8-a88b17fc695a", "value": 0.5, "cost": 2.5},
            {"id": "b38a088c-a65e-4389-b74d-0fb132e70629", "value": 0.5, "cost": 29.7},
            {"id": "cf36d58b-4737-4190-96da-1dac72ff5d2a", "value": 1.5, "cost": 12.2}],
          "award_interpretations": []}""".replaceAll("\n\\s*", " ")
    val b: String =
      """{"id": "d453dd32-4b0d-4b41-8d52-88f1142c3fe8", "date": "2023-11-28",
          "start": 1701160200000, "finish": 1701198000000,
          "breaks": [{"id": "6142ea7d-17be-4111-9a2a-73ed562b0f79",
                      "start": 1701168180000, "finish": 1701169724388, "paid": true}],
          "allowances": [],
          "award_interpretations": [
            {"id": "bacfb3d0-0b1f-4163-8e9f-f57f43b7a3a6", "date": "2023-11-28", "units": 1.0, "cost": 62.8},
            {"id": "60e7a113-ec1b-4ca1-b91e-1d4c1ff49b78", "date": "2023-11-28", "units": 1.5, "cost": 55.9}]}""".replaceAll("\n\\s*", " ")
  }
}

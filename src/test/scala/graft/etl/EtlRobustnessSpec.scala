package graft.etl

import graft.SparkTestBase

/** Robustness paths added in round 2: S3 page-size pushdown, S1 fetch
  * failure semantics, runId reuse fail-fast, bulk-load PK validation. */
class EtlRobustnessSpec extends SparkTestBase {

  test("withPageSize appends limit and range-checks like the reference") {
    assert(PageSource.withPageSize("http://api/shifts", 7) == "http://api/shifts?limit=7")
    assert(PageSource.withPageSize("http://api/shifts?a=1", 30) == "http://api/shifts?a=1&limit=30")
    intercept[IllegalArgumentException](PageSource.withPageSize("http://api/shifts", 0))
    intercept[IllegalArgumentException](PageSource.withPageSize("http://api/shifts", 31))
  }

  test("pages applies pageSize to the first url only") {
    var fetched = List.empty[String]
    val page = PageSource.parsePage(spark, """{"results": []}""")
    val it = PageSource.pages("http://h/api/shifts", pageSize = Some(5)) { url =>
      fetched ::= url
      (page, if (fetched.size < 2) Some("/api/shifts?start=5&limit=5") else None)
    }
    it.toList
    assert(fetched.reverse == List(
      "http://h/api/shifts?limit=5",
      "http://h/api/shifts?start=5&limit=5"))
  }

  test("a failing fetch surfaces as FetchFailedException with the url") {
    val it = PageSource.pages("http://api/dead") { _ =>
      throw new java.io.IOException("connection refused")
    }
    val e = intercept[PageSource.FetchFailedException](it.next())
    assert(e.url == "http://api/dead")
    assert(e.getCause.isInstanceOf[java.io.IOException])
  }

  test("httpFetcher follows real HTTP pagination and fails cleanly on 5xx") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, status: Int, body: String): Unit =
      server.createContext(path, new HttpHandler {
        override def handle(x: HttpExchange): Unit = {
          val b = body.getBytes("UTF-8")
          x.sendResponseHeaders(status, if (status >= 400) -1 else b.length)
          if (status < 400) { x.getResponseBody.write(b) }
          x.close()
        }
      })
    // page 1 links to page 2 via a relative next; page 2 terminates
    val p1 = ShiftFixtures.page1.replace("/api/shifts?start=1&limit=1", "/page2")
    serve("/page1", 200, p1)
    serve("/page2", 200, ShiftFixtures.page2)
    serve("/boom", 500, "")
    serve("/garbled", 200, ShiftFixtures.page2.take(40))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val fetch = PageSource.httpFetcher(spark)
      var pages = List.empty[org.apache.spark.sql.DataFrame]
      assert(jobsOf { pages = PageSource.pages(s"$base/page1")(fetch).toList } == 0,
        "a fetch reads links.next without a Spark job")
      assert(pages.size == 2)
      assert(pages.map(_.selectExpr("size(results)").head().getInt(0)) == List(1, 1))
      val e = intercept[PageSource.FetchFailedException](
        PageSource.pages(s"$base/boom")(fetch).next())
      assert(e.getCause.getMessage.contains("HTTP 500"))
      val g = intercept[PageSource.FetchFailedException](
        PageSource.pages(s"$base/garbled")(fetch).next())
      assert(g.getCause.isInstanceOf[com.fasterxml.jackson.core.JsonProcessingException])
    } finally server.stop(0)
  }

  test("run fails fast on a reused runId before committing anything") {
    val wh = new ShiftWarehouse(spark, tempDir("wh-runid"))
    val page = PageSource.parsePage(spark, ShiftFixtures.singlePage)
    ShiftsEtl.run(Iterator(page), wh, java.time.LocalDate.of(2023, 12, 20), runId = "r1")
    val before = wh.committedBatches
    val e = intercept[IllegalArgumentException] {
      ShiftsEtl.run(Iterator(page), wh, java.time.LocalDate.of(2023, 12, 20), runId = "r1")
    }
    assert(e.getMessage.contains("r1"))
    assert(wh.committedBatches == before, "reused runId must not commit any batch")
  }

  test("is_paid stays NULL when the source JSON has an explicit null") {
    val json =
      """{"results": [{"id": "s1", "date": "2023-11-01", "start": 1698817200000,
        |  "finish": 1698848700000,
        |  "breaks": [{"id": "b1", "start": 1698827400000, "finish": 1698828600000, "paid": null}],
        |  "allowances": [], "award_interpretations": []}]}""".stripMargin
    val page = PageSource.parsePage(spark, json)
    val rows = ShiftNormalizer.normalize(page).breaks.select("is_paid").collect()
    assert(rows.length == 1 && rows.head.isNullAt(0),
      "explicit JSON null must stay NULL (Postgres DEFAULT only applies to omitted columns)")
  }
}

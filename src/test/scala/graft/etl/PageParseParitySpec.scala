package graft.etl

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase

/** `PageSource.parsePage` (a lazy `from_json` over the one payload)
  * against the eager JSON read it replaced: the same typed rows for well-
  * formed, partial and malformed payloads, and no query until the page is
  * consumed. */
class PageParseParitySpec extends SparkTestBase {

  /** The replaced form: a schema'd PERMISSIVE JSON read of the payload. */
  private def readJson(json: String): DataFrame = {
    import spark.implicits._
    spark.read.schema(ShiftSchemas.pageSchema).json(Seq(json).toDS())
  }

  private val payloads = Seq(
    "the golden page" -> ShiftFixtures.singlePage,
    "explicit paid: null" ->
      """{"results": [{"id": "s1", "date": "2023-11-01", "start": 1698817200000,
        |  "finish": 1698848700000, "breaks": [{"id": "b1", "start": 1698827400000,
        |  "finish": 1698828600000, "paid": null}], "allowances": [],
        |  "award_interpretations": []}]}""".stripMargin,
    "missing child arrays" ->
      """{"results": [{"id": "s1", "date": "2023-11-01", "start": 1698817200000,
        |  "finish": 1698848700000}], "links": {"next": null}}""".stripMargin,
    "an empty results list" -> """{"results": []}""",
    "a truncated payload" -> ShiftFixtures.singlePage.take(300),
    "a field of the wrong type" ->
      """{"results": [{"id": "s1", "date": "2023-11-01", "start": "early",
        |  "finish": 1698848700000, "breaks": {"id": "b1"}}], "size": "two"}""".stripMargin)

  payloads.foreach { case (what, json) =>
    test(s"parsePage gives the JSON read's rows for $what") {
      val page = PageSource.parsePage(spark, json)
      assert(page.schema.map(f => f.name -> f.dataType) ===
        ShiftSchemas.pageSchema.map(f => f.name -> f.dataType))
      assert(page.collect().toSeq === readJson(json).collect().toSeq)
    }
  }

  test("a top-level array or a blank body parses to one all-NULL page, with no shifts") {
    // the JSON read took a top-level array as one row per element and a
    // blank body as no row; a payload is one page, so both now give the
    // malformed-payload answer
    val array = s"[${ShiftFixtures.page1}, ${ShiftFixtures.page2}]"
    assert(readJson(array).count() === 2 && readJson("").count() === 0)
    Seq(array, "", "  ").foreach { json =>
      val page = PageSource.parsePage(spark, json)
      val rows = page.collect()
      assert(rows.length === 1 && rows.head.toSeq.forall(_ == null), s"'$json': ${rows.toSeq}")
      assert(ShiftNormalizer.normalize(page).rows.count() === 0)
    }
  }

  test("parsePage alone runs no Spark job and no query") {
    val seen = new ConcurrentLinkedQueue[String]
    val sentinel = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(funcName)
        if (qe.analyzed.toString.contains("parse_sentinel")) sentinel.countDown()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(funcName)
    }
    spark.listenerManager.register(listener)
    try {
      assert(jobsOf(PageSource.parsePage(spark, ShiftFixtures.singlePage)) === 0)
      // listener events arrive in order, so once the sentinel query's
      // event is in every earlier query's event has been delivered
      spark.range(1).toDF("parse_sentinel").collect()
      assert(sentinel.await(60, TimeUnit.SECONDS), "listener bus stalled")
      assert(seen.size === 1, s"queries seen: $seen")
    } finally spark.listenerManager.unregister(listener)
  }
}

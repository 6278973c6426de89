package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}

/** The reference's `/run-etl` pipeline as a library call
  * (`etl/app/main.py:31-53` + `process_all_pages`,
  * shift_data_processor.py:185-215).
  *
  * Extract is abstracted as an iterator of page DataFrames (the reference's
  * paginated HTTP fetch is control-plane; see [[PageSource]] for the
  * link-following loop). Each page is normalized and committed atomically —
  * one batch per page, exactly the reference's one-transaction-per-page —
  * then the six KPIs are computed over everything committed and appended.
  */
object ShiftsEtl {

  /** Run the full pipeline. Returns the KPI rows that were committed.
    *
    * @param pages         one DataFrame (schema [[ShiftSchemas.pageSchema]])
    *                      per source page
    * @param warehouse     target warehouse
    * @param asOfDate      the reference's CURRENT_DATE, injected for
    *                      determinism
    * @param runId         prefix for batch ids (batch i commits as
    *                      `<runId>-p<i>`)
    * @param pagesPerBatch pages unioned into one atomic commit. 1 (default)
    *                      = the reference's one-transaction-per-page; larger
    *                      values amortize commit/validation overhead at the
    *                      cost of coarser rollback granularity — the right
    *                      trade at scale, made explicit rather than implied.
    */
  def run(
      pages: Iterator[DataFrame],
      warehouse: ShiftWarehouse,
      asOfDate: LocalDate,
      runId: String = "run",
      pagesPerBatch: Int = 1): DataFrame = {
    require(pagesPerBatch >= 1, s"pagesPerBatch must be >= 1, got $pagesPerBatch")
    // Fail fast on a reused runId BEFORE committing anything: otherwise the
    // page batches land and the later "<runId>-kpis" commit throws, leaving
    // data committed with stale KPIs.
    val owned = {
      val q = java.util.regex.Pattern.quote(runId)
      (b: String) => b == s"$runId-kpis" || b.matches(s"$q-p\\d+")
    }
    require(!warehouse.committedBatches.exists(owned),
      s"runId '$runId' already has committed batches; choose a fresh runId")
    pages.grouped(pagesPerBatch).zipWithIndex.foreach { case (grp, i) =>
      warehouse.appendBatch(ShiftNormalizer.normalize(grp.reduce(_ union _)), f"$runId-p$i%05d")
    }
    val kpis = ShiftKpis.all(warehouse.normalized, asOfDate)
    warehouse.appendKpis(kpis, s"$runId-kpis")
    warehouse.kpis
  }

  /** `/clear-data` (etl/app/main.py:55-67). */
  def clear(warehouse: ShiftWarehouse): Unit = warehouse.clear()
}

/** Pagination source driver (S2, shift_data_processor.py:146-152,185-215):
  * follow `links.next` (resolved against the base URL) until absent, yielding
  * one page per fetch. Fetching is injected — in production an HTTP client,
  * in tests a map of canned payloads.
  */
object PageSource {

  /** A page fetch failed. The reference logs and returns None from
    * fetch_data (shift_data_processor.py:32-43) and process_all_pages
    * raises, which `/run-etl` maps to HTTP 400 (etl/app/main.py:44-49);
    * this exception is that clean-failure path — the ETL run stops with
    * nothing partially committed for the failing page. */
  final case class FetchFailedException(url: String, cause: Throwable)
    extends RuntimeException(s"Failed to fetch data from $url", cause)

  /** S3 batch-size pushdown (etl/app/main.py:20-40 `add_query_params` +
    * api honoring `limit`, api/app/main.py:84-92): append the page-size
    * limit as a query parameter to the source URL. Range-checked like the
    * reference's batch_size ∈ [1, 30]. */
  def withPageSize(url: String, pageSize: Int): String = {
    require(pageSize >= 1 && pageSize <= 30, s"pageSize must be in [1,30], got $pageSize")
    val sep = if (url.contains("?")) "&" else "?"
    s"$url${sep}limit=$pageSize"
  }

  /** Resolve the possibly-relative `links.next` against the base URL, as
    * `urljoin` does in the reference (get_next_url,
    * shift_data_processor.py:146-152). */
  def resolveNext(baseUrl: String, next: Option[String]): Option[String] =
    next.map(n => java.net.URI.create(baseUrl).resolve(n).toString)

  /** Iterate pages from `firstUrl`, following next-links.
    *
    * @param pageSize optional S3 limit pushdown, applied to the first URL
    *                 (followed links carry the server's own limit params)
    * @param fetch    url → (page DataFrame, raw next link if any); any
    *                 exception it throws surfaces as [[FetchFailedException]]
    */
  def pages(firstUrl: String, pageSize: Option[Int] = None)(
      fetch: String => (DataFrame, Option[String])): Iterator[DataFrame] =
    new Iterator[DataFrame] {
      private var nextUrl: Option[String] =
        Some(pageSize.fold(firstUrl)(withPageSize(firstUrl, _)))
      def hasNext: Boolean = nextUrl.isDefined
      def next(): DataFrame = {
        val url = nextUrl.get
        val (df, rawNext) =
          try fetch(url)
          catch { case e: Exception => throw FetchFailedException(url, e) }
        nextUrl = resolveNext(url, rawNext)
        df
      }
    }

  /** Parse one JSON page payload (the reference's `response.json()`) into a
    * typed page DataFrame with the declared schema — never inferred. Lazy:
    * no query runs here, so the page is parsed inside the plan that
    * consumes it (its commit's write job). A malformed payload gives one
    * row of NULLs, as a PERMISSIVE JSON read does. */
  def parsePage(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    Seq(json).toDF("v").select(from_json(col("v"), ShiftSchemas.pageSchema).as("p")).select("p.*")
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Production fetch implementation for [[pages]]: HTTP GET + typed parse
    * (the reference's `fetch_data`, shift_data_processor.py:32-43). Non-2xx
    * and IO errors throw — [[pages]] wraps them in [[FetchFailedException]],
    * the reference's fetch-failure → clean-400 path, and so does a body
    * that is not JSON. The next-link is read from the body's `links.next`,
    * like `get_next_url`, on the driver: no Spark job per fetch. */
  def httpFetcher(spark: SparkSession, timeoutMs: Int = 10000): String => (DataFrame, Option[String]) =
    url => {
      val conn = java.net.URI.create(url).toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      val code = conn.getResponseCode
      if (code < 200 || code >= 300)
        throw new java.io.IOException(s"HTTP $code from $url")
      val body =
        try new String(conn.getInputStream.readAllBytes(), "UTF-8")
        finally conn.disconnect()
      val next = Some(mapper.readTree(body).path("links").path("next"))
        .filter(n => n.isValueNode && !n.isNull).map(_.asText)
      (parsePage(spark, body), next)
    }
}

package graft.perfbench

import java.time.LocalDate

import graft.etl.ShiftGenerator
import graft.etl.ShiftGenerator.GenShift

/** The source side of the ETL workloads: a seeded shift corpus served as
  * reference-shaped JSON pages, in memory, the way the reference API
  * serves `GET /api/shifts?start=&limit=`. */
final class EtlFeed(val shifts: Seq[GenShift], val asOf: LocalDate) {

  /** Bytes of JSON served so far. */
  @volatile var bytesServed = 0L

  /** Render the page a source URL asks for, and its raw `links.next`. */
  def page(url: String, defaultLimit: Int): (String, Option[String]) = {
    val (start, limit) = EtlFeed.slice(url, defaultLimit)
    val json = ShiftGenerator.pageJson(shifts, start, limit)
    bytesServed += json.getBytes("UTF-8").length
    (json, EtlFeed.nextLink(json))
  }
}

object EtlFeed {

  /** A seeded corpus of `n` daily shifts starting on or after 1970-01-01
    * (the normalizer maps non-positive epochs to NULL), with an as-of date
    * 0–13 days after the last shift so the 14-day KPI window is never
    * empty. */
  def apply(seed: Long, n: Int): EtlFeed = {
    val rnd = new scala.util.Random(seed)
    val start = LocalDate.of(2000, 1, 1).plusDays(rnd.nextInt(8000).toLong)
    val asOf = start.plusDays((n - 1).toLong + rnd.nextInt(14))
    new EtlFeed(ShiftGenerator.generate(seed, start, n), asOf)
  }

  /** (start, limit) from a source URL's query string. */
  def slice(url: String, defaultLimit: Int): (Int, Int) = {
    val params = Option(java.net.URI.create(url).getRawQuery).toSeq
      .flatMap(_.split("&")).flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
    val start = params.get("start").map(_.toInt).getOrElse(0)
    val limit = params.get("limit").map(_.toInt).getOrElse(defaultLimit)
    require(start >= 0 && limit >= 1, s"bad page request $url")
    (start, limit)
  }

  private val next = """"next"\s*:\s*(null|"([^"]*)")""".r

  /** The raw (possibly relative) `links.next` of a page payload. */
  def nextLink(json: String): Option[String] =
    next.findFirstMatchIn(json).flatMap(m => Option(m.group(2)))
}

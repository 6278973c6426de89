package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.DataFrame

import graft.etl.{PageSource, ShiftGenerator}
import graft.etl.ShiftGenerator.{GenAllowance, GenAward, GenBreak, GenShift}

/** The benchmark's own tests: the percentile rule, the feed's URL
  * handling, the KPI calculator and the face sample. No Spark session.
  * Exits non-zero on the first failure. Run by tests/test_perfbench.py. */
object SelfTest {

  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (passed) "PASS" else "FAIL"} $name")
    if (!passed) failures += 1
  }

  /** FIXTURES.md §3: the reference's golden two-shift corpus. */
  val golden: Seq[GenShift] = Seq(
    GenShift("a", "2023-11-27", 1701077400000L, 1701108900000L,
      Seq(GenBreak("ba", 1701085620000L, 1701087005277L, paid = false)),
      Seq(GenAllowance("a1", 0.5, 2.5), GenAllowance("a2", 0.5, 29.7),
        GenAllowance("a3", 1.5, 12.2)),
      Nil),
    GenShift("b", "2023-11-28", 1701160200000L, 1701198000000L,
      Seq(GenBreak("bb", 1701168180000L, 1701169724388L, paid = true)),
      Nil,
      Seq(GenAward("w1", "2023-11-28", 1.0, 62.8), GenAward("w2", "2023-11-28", 1.5, 55.9))))

  def main(args: Array[String]): Unit = {
    // ---- percentile rule ----
    val hundred = (1 to 100).map(_.toDouble)
    check("nearest-rank p50 and p90 of 1..100") {
      Stats.percentile(hundred, 0.5) == 50.0 && Stats.percentile(hundred, 0.9) == 90.0
    }
    check("p90 of 100 samples leaves 10 beyond it") { Stats.beyond(100, 0.9) == 10 }
    check("tail rule: 100 samples support p90, not p99") {
      Stats.tailPercentile(100).contains(0.9)
    }
    check("tail rule: 99 samples support only p50") { Stats.tailPercentile(99).contains(0.5) }
    check("tail rule: 1000 samples support p99") { Stats.tailPercentile(1000).contains(0.99) }
    check("tail rule: 19 samples support no tail") { Stats.tailPercentile(19).isEmpty }
    check("median of one sample") { Stats.median(Seq(3.5)) == 3.5 }
    check("geometric mean of 1, 4 and 16 is 4") {
      math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12
    }
    check("geometric mean rejects a zero sample") {
      scala.util.Try(Stats.geomean(Seq(1.0, 0.0))).isFailure
    }

    // ---- feed: start/limit parsing and next-link resolution ----
    check("slice parses start and limit") {
      EtlFeed.slice("http://gen/api/shifts?start=14&limit=7", 30) == (14, 7)
    }
    check("slice defaults start to 0 and limit to the default") {
      EtlFeed.slice("http://gen/api/shifts", 30) == (0, 30) &&
        EtlFeed.slice("http://gen/api/shifts?limit=5", 30) == (0, 5)
    }
    check("slice rejects a zero limit") {
      scala.util.Try(EtlFeed.slice("http://gen/api/shifts?limit=0", 7)).isFailure
    }
    val feed = EtlFeed(7L, 20)
    check("feed dates start after the epoch, as-of within 14 days of the last shift") {
      val first = LocalDate.parse(feed.shifts.head.date)
      val last = LocalDate.parse(feed.shifts.last.date)
      !first.isBefore(LocalDate.of(1970, 1, 1)) && !feed.asOf.isBefore(last) &&
        feed.asOf.isBefore(last.plusDays(14)) && feed.shifts.forall(_.start > 0)
    }
    check("next link is relative and absent on the last page") {
      EtlFeed.nextLink(feed.page("http://gen/api/shifts?start=0&limit=7", 7)._1)
        .contains("/api/shifts?start=7&limit=7") &&
        EtlFeed.nextLink(feed.page("http://gen/api/shifts?start=14&limit=7", 7)._1).isEmpty
    }
    check("PageSource walks every page through resolveNext") {
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      val fetch: String => (DataFrame, Option[String]) = url => {
        seen += url
        (null, feed.page(url, 99)._2)
      }
      PageSource.pages("http://gen/api/shifts", pageSize = Some(7))(fetch).size == 3 &&
        seen.toList == List("http://gen/api/shifts?limit=7",
          "http://gen/api/shifts?start=7&limit=7", "http://gen/api/shifts?start=14&limit=7")
    }
    check("pages cover every shift exactly once") {
      val ids = (0 until 3).flatMap(i =>
        """"id": "([^"]+)", "date": "[^"]+", "start"""".r.findAllMatchIn(
          feed.page(s"http://gen/api/shifts?start=${i * 7}&limit=7", 7)._1).map(_.group(1)))
      ids == feed.shifts.map(_.id)
    }

    // ---- KPI calculator against the golden fixture ----
    val g = KpiCalc.kpis(golden, LocalDate.of(2024, 6, 1))
    def is(n: String, v: String) = g(n).exists(_.compare(BigDecimal(v)) == 0)
    check("golden mean_break_length_in_minutes = 24.41") { is("mean_break_length_in_minutes", "24.41") }
    check("golden mean_shift_cost = 81.55") { is("mean_shift_cost", "81.55") }
    check("golden max_allowance_cost_14d = 0") { is("max_allowance_cost_14d", "0") }
    check("golden max_break_free_shift_period_in_days = 0") {
      is("max_break_free_shift_period_in_days", "0")
    }
    check("golden min_shift_length_in_hours = 8.75") { is("min_shift_length_in_hours", "8.75") }
    check("golden total_number_of_paid_breaks = 1") { is("total_number_of_paid_breaks", "1") }
    check("golden within 14 days: max allowance 29.70") {
      KpiCalc.kpis(golden, LocalDate.of(2023, 12, 1))("max_allowance_cost_14d")
        .exists(_.compare(BigDecimal("29.7")) == 0)
    }
    check("islands: equal dates share a group under the RANGE frame") {
      val d = LocalDate.of(2020, 1, 1)
      // days 1-3 break-free, day 4 two shifts one with a break, days 5-6 free
      val rows = Seq(d -> false, d.plusDays(1) -> false, d.plusDays(2) -> false,
        d.plusDays(3) -> true, d.plusDays(3) -> false, d.plusDays(4) -> false,
        d.plusDays(5) -> false)
      KpiCalc.maxBreakFree(rows).contains(3L) && KpiCalc.maxBreakFree(Nil).isEmpty
    }
    check("row counts of the golden fixture") {
      KpiCalc.rowCounts(golden) == Map("shifts" -> 2L, "breaks" -> 2L, "allowances" -> 3L,
        "award_interpretations" -> 2L)
    }
    check("mismatches compares numerically") {
      KpiCalc.mismatches(g, g.map { case (k, v) => k -> v.map(_.setScale(4)) }).isEmpty &&
        KpiCalc.mismatches(g, g.updated("mean_shift_cost", Some(BigDecimal("81.56")))) ==
          Seq("mean_shift_cost")
    }
    check("generated shift cost is the rounded double sum") {
      ShiftGenerator.generate(3L, LocalDate.of(2001, 1, 1), 50).forall { s =>
        val c = KpiCalc.shiftCost(s)
        c.scale == 4 && (c - BigDecimal(s.allowances.map(_.cost).sum +
          s.award_interpretations.map(_.cost).sum)).abs < BigDecimal("0.0001")
      }
    }

    // ---- stratified face sample ----
    val byModule = Map("A" -> (1 to 50).map(i => s"a$i"), "B" -> (1 to 10).map(i => s"b$i"),
      "C" -> Seq("c1"))
    val s = QueryMix.sample(1L, 12, byModule)
    check("sample has the asked size, every module, no repeats") {
      s.size == 12 && s.distinct.size == 12 && Seq("a", "b", "c").forall(p => s.exists(_.startsWith(p)))
    }
    check("sample follows module size") { s.count(_.startsWith("a")) > s.count(_.startsWith("b")) }
    check("sample is a function of the seed") { QueryMix.sample(1L, 12, byModule) == s }

    if (failures > 0) {
      println(s"$failures check(s) failed")
      sys.exit(1)
    }
    println("all checks passed")
  }
}

package graft.etl

import java.time.LocalDate

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The warehouse's driver-side PK check against the distributed one it
  * replaced, over one sequence of appends, second writers and history
  * rewrites. At every step both must give the same accept or reject
  * verdict:
  *  - the warehouse itself (observed keys vs its committed-key set);
  *  - the distributed check: a within-batch group-by, then a broadcast
  *    left-semi join of the batch's keys against `table(name)`. */
class PkCheckParitySpec extends SparkTestBase {

  private def tables(b: NormalizedShifts): Seq[(String, DataFrame)] = Seq(
    "shifts" -> b.shifts, "breaks" -> b.breaks,
    "allowances" -> b.allowances, "award_interpretations" -> b.awardInterpretations)

  /** The first violating `<table>.<pk>` by the distributed check. */
  private def distributedVerdict(wh: ShiftWarehouse, b: NormalizedShifts): Option[String] =
    tables(b).iterator.flatMap { case (name, df) =>
      ShiftWarehouse.pkColumns.get(name).filter { pk =>
        val staged = df.select(pk)
        staged.groupBy(col(pk)).count().filter(col("count") > 1).limit(1).collect().nonEmpty ||
          wh.table(name).select(pk).join(broadcast(staged), Seq(pk), "left_semi")
            .limit(1).collect().nonEmpty
      }.map(pk => s"$name.$pk")
    }.nextOption()

  test("driver-side PK check agrees with the distributed check at every step") {
    val root = tempDir("pk-parity")
    val wh = new ShiftWarehouse(spark, root)
    val gen = ShiftGenerator.generate(21L, LocalDate.parse("2024-03-01"), days = 15)
    def batch(json: String) = ShiftNormalizer.normalize(PageSource.parsePage(spark, json))
    val Seq(p1, p2, p3) = (0 until 3).map(i => batch(ShiftGenerator.pageJson(gen, 5 * i, 5)))

    def step(what: String, b: NormalizedShifts, id: String, accept: Boolean,
        on: ShiftWarehouse = wh): Option[String] = {
      val reference = distributedVerdict(on, b)
      val driver = Try(on.appendBatch(b, id)) match {
        case Success(_) => None
        case Failure(e: IllegalStateException) => Some(e.getMessage)
        case Failure(e) => throw e
      }
      assert(reference.isEmpty == accept, s"$what: distributed check says $reference")
      assert(driver.isEmpty == accept, s"$what: driver check says $driver")
      reference.foreach(r => assert(driver.get.startsWith(
        s"duplicate key value violates unique constraint: $r = ") &&
        driver.get.endsWith(s" (batch $id)"), s"$what: ${driver.get}"))
      assert(on.committedBatches.contains(id) == accept, what)
      driver
    }

    step("first page", p1, "b0", accept = true)
    val within = step("within-batch duplicate",
      batch(ShiftFixtures.dupPkPage), "b1", accept = false)
    assert(within.contains("duplicate key value violates unique constraint: " +
      "breaks.break_id = 16419f82-8b9d-4434-a465-e150bd9c66b3 (batch b1)"))
    step("cross-batch duplicate", p1, "b2", accept = false)

    // a second writer on the same root: the first must catch up on b3
    val other = new ShiftWarehouse(spark, root)
    step("second writer's page", p2, "b3", accept = true, on = other)
    step("duplicate of the second writer's page", p2, "b4", accept = false)
    step("fresh page", p3, "b5", accept = true)

    wh.compact()
    step("duplicate after compact", p1, "b6", accept = false)
    step("fresh page after compact", batch(ShiftFixtures.singlePage), "b7", accept = true)

    wh.clear()
    step("first page after clear", p1, "b8", accept = true)
  }
}

package graft.operators

import graft.SparkTestBase

/** The capped driver union-find and its distributed fallback must be
  * interchangeable: same component-minimum labels, only the execution
  * strategy differs. The cap is the enforcement of the "contracted
  * graph is geometry-bounded" assumption (review r11 item 4). */
class DriverComponentsSpec extends SparkTestBase {

  // a synthetic dense grid: 40×40 cells, 4-neighbor edges within three
  // disjoint row bands → three components plus a long path appended to
  // exercise non-trivial union chains
  private def gridEdges: Seq[(Long, Long)] = {
    def id(r: Int, c: Int): Long = (r * 40 + c).toLong
    val bands = Seq(0 until 12, 14 until 26, 28 until 40)
    val within = for {
      band <- bands
      r <- band; c <- 0 until 40
      (dr, dc) <- Seq((0, 1), (1, 0))
      if band.contains(r + dr) && c + dc < 40
    } yield (id(r, c), id(r + dr, c + dc))
    val path = (2000L until 2064L).map(v => (v, v + 1))
    within ++ path
  }

  test("driver path and distributed fallback produce identical labels") {
    import spark.implicits._
    val edges = gridEdges.toDF("a", "b")
    val viaDriver = DriverComponents.minLabels(edges)
      .as[(Long, Long)].collect().toSet
    val viaStars = DriverComponents.minLabels(edges, edgeCap = 0L)
      .as[(Long, Long)].collect().toSet
    assert(viaDriver == viaStars)
    // exactly four components (three bands + the path), each labeled by
    // its minimum node id
    val comps = viaDriver.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(comps.keySet == Set(0L, 14L * 40, 28L * 40, 2000L))
    comps.foreach { case (lbl, vs) => assert(vs.min == lbl) }
  }

  test("self-loops are ignored and an empty graph yields no labels") {
    import spark.implicits._
    val loops = Seq((7L, 7L), (9L, 9L)).toDF("a", "b")
    assert(DriverComponents.minLabels(loops).count() == 0L)
    assert(DriverComponents.minLabels(
      spark.emptyDataset[(Long, Long)].toDF("a", "b")).count() == 0L)
  }
}

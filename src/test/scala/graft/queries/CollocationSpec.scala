package graft.queries

import graft.SparkTestBase

/** PMI collocations and TextRank keywords: both are checked against a
  * driver-side reimplementation from first principles on the real
  * corpus (independent counting, exact-integer scoring, same rounding
  * discipline), plus plan shape for the bounded global top-k.
  */
class CollocationSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def corpusTokens(): Seq[Array[String]] = {
    import spark.implicits._
    graft.core.Tables.documents(spark, dir)
      .select($"text").as[String].collect().toSeq
      .map(_.split(" ").filter(_.nonEmpty))
  }

  private def bigrams(): Map[(String, String), Long] = {
    val m = scala.collection.mutable.Map.empty[(String, String), Long]
    corpusTokens().foreach { ws =>
      // the shipped extraction slices the raw split arrays, which keep
      // interior empty tokens; the corpus has none (asserted here), so
      // the filtered reimplementation is equivalent
      (0 until ws.length - 1).foreach { i =>
        m((ws(i), ws(i + 1))) = m.getOrElse((ws(i), ws(i + 1)), 0L) + 1
      }
    }
    m.toMap
  }

  test("corpus split has no interior empty tokens (extraction equivalence)") {
    import spark.implicits._
    val n = graft.core.Tables.documents(spark, dir)
      .select($"text").as[String].collect()
      .count(t => t.split(" ", -1).exists(_.isEmpty))
    assert(n == 0, s"$n documents with empty tokens")
  }

  test("PMI collocations equal a first-principles driver recompute") {
    import spark.implicits._
    val uni = corpusTokens().flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val bi = bigrams()
    val n = uni.values.sum
    val bt = bi.values.sum
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = bi.toSeq.collect { case ((a, b), cab) if cab >= 5 =>
      val s = (BigInt(cab) * n * n).toDouble /
        (BigInt(uni(a)) * uni(b) * bt).toDouble
      (a, b, cab, s)
    }
    val top = scored.sortBy { case (a, b, _, s) => (-s, a, b) }.take(50)
    val expected = top.zipWithIndex.map { case ((a, b, cab, s), i) =>
      (a, b, cab, round9(math.log(s)), i + 1)
    }.toSet
    val got = TextOps.qPmiCollocations(spark, dir)
      .as[(String, String, Long, Double, Int)].collect().toSet
    assert(got == expected,
      s"missing: ${expected -- got}\nextra: ${got -- expected}")
  }

  test("TextRank equals the exact-integer reference iteration") {
    import spark.implicits._
    val bi = bigrams().filter { case ((a, b), _) => a != b }
    val edges = scala.collection.mutable.Map.empty[(String, String), Long]
    bi.foreach { case ((a, b), c) =>
      edges((a, b)) = edges.getOrElse((a, b), 0L) + c
      edges((b, a)) = edges.getOrElse((b, a), 0L) + c
    }
    val wt = edges.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2).sum).toMap
    val scale = 1000000L
    var r: Map[String, Long] = wt.keys.map(_ -> scale).toMap
    for (_ <- 1 to 3) {
      val in = scala.collection.mutable.Map.empty[String, Long]
      edges.foreach { case ((src, dst), w) =>
        in(dst) = in.getOrElse(dst, 0L) + r(src) * w / wt(src)
      }
      r = in.map { case (node, s) => node -> (15L * scale / 100 + 85 * s / 100) }.toMap
    }
    val expected = r.toSeq.sortBy { case (t, v) => (-v, t) }.take(20)
      .zipWithIndex
      .map { case ((t, v), i) => (t, i + 1, v.toDouble / scale) }.toSet
    val got = TextOps.qTextrank(spark, dir)
      .as[(String, Int, Double)].collect().toSet
    assert(got == expected,
      s"missing: ${expected -- got}\nextra: ${got -- expected}")
    // a non-empty edge list overflows cap 0, so this is the distributed path
    assert(edges.nonEmpty)
    val distributed = TextOps.textrank(TextOps.bigramCounts(spark, dir), cap = 0)
      .as[(String, Int, Double)].collect().toSet
    assert(distributed == got)
  }

  test("Heaps beta separates open from closed vocabularies and matches a driver recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // closed: every doc repeats the same 5 words; open: every doc
    // introduces 10 fresh words — beta(open) must dwarf beta(closed)
    val docs = ((1 to 64).map(i => (i.toLong, "closed", "a b c d e")) ++
      (1 to 64).map(i =>
        (i.toLong, "open", (1 to 10).map(j => s"w${i}_$j").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val got = TextOps.heapsBeta(docs)
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got("open").exists(_ > 0.9), got.toString)   // V grows ~ n
    assert(got("closed").exists(b => math.abs(b) < 0.2), got.toString)
    // driver recompute of the checkpoint regression on the real corpus
    val rows = graft.core.Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
      .as[(String, Long, String)].collect()
    val mx = rows.map(_._2).max
    def bkt(id: Long): Long = math.max(1L, (id * 16 + mx - 1) / mx)
    def r9d(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val expected = rows.groupBy(_._1).map { case (src, ds) =>
      val toks = ds.flatMap { case (_, id, t) =>
        t.split(" ").filter(_.nonEmpty).map(w => (id, w)) }
      val tokB = toks.groupBy(p => bkt(p._1)).view.mapValues(_.size.toLong).toMap
      val newB = toks.groupBy(_._2).map { case (_, os) => bkt(os.map(_._1).min) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bs = (tokB.keySet ++ newB.keySet).toSeq.sorted
      var ct = 0L; var cv = 0L
      val pts = bs.flatMap { b =>
        ct += tokB.getOrElse(b, 0L); cv += newB.getOrElse(b, 0L)
        if (ct > 0 && cv > 0) Some((r9d(math.log(ct.toDouble)), r9d(math.log(cv.toDouble))))
        else None
      }
      def w9(x: BigDecimal): Double =
        x.setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val n = pts.size.toDouble
      val (sx, sy) = (w9(pts.map(_._1).sum), w9(pts.map(_._2).sum))
      val sxy = w9(pts.map(p => p._1 * p._2).sum)
      val sxx = w9(pts.map(p => p._1 * p._1).sum)
      val denom = n * sxx - sx * sx
      val beta = if (pts.size > 1 && denom != 0.0) Some((n * sxy - sx * sy) / denom) else None
      src -> ((pts.size.toLong, beta))
    }
    val real = graft.queries.TextOps.qHeapsLaw(spark, dir)
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(real == expected,
      s"diff: ${expected.toSet -- real.toSet} / ${real.toSet -- expected.toSet}")
  }

  test("both global top-k reads are bounded (no full distributed sort)") {
    val p1 = TextOps.qPmiCollocations(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p1.contains("TakeOrderedAndProject"), p1)
    // textrank's driver path cuts the top-k locally; its distributed
    // path (cap 0) must keep the bounded TakeOrderedAndProject shape
    val p2 = TextOps.textrank(TextOps.bigramCounts(spark, dir), cap = 0)
      .queryExecution.executedPlan.toString
    assert(p2.contains("TakeOrderedAndProject"), p2)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The FIXED-ROUND damped power iteration, in both of its execution
  * strategies: [[damped]] on the driver and [[dampedDistributed]] over
  * a DataFrame. Callers (q_dup_pagerank over the verified near-dup
  * graph, q_textrank over the bigram co-occurrence graph) pick one
  * through [[DriverKernel.capped]]; q_journey_stationary's input is
  * bounded by construction and always runs [[damped]].
  *
  * Each distributed round is one equi-join plus one hash aggregation
  * over a MODEL-SCALE frame, so a 3-round run pays ~6 shuffle stage
  * schedules to move kilobytes (opt guide §1.2). Both strategies
  * compute the IDENTICAL exact integers: per-edge contribution
  * (r·w) div wt as floor division (all values nonnegative, so BigInt
  * truncation ≡ the DECIMAL(38,0)/HUGEINT `div` both engines run),
  * per-node update base + (d·Σc) div 100 with the sum exact. Exact
  * integer arithmetic makes the result independent of summation order.
  */
object PowerIteration {

  /** Fixed `iters` rounds of the damped update over a weighted directed
    * edge list, with damping `d` in percent:
    *   r0(src) = scale for every src;
    *   c(e)    = (r(src) · w) div wt(src), wt = Σ w per src;
    *   r'(dst) = ((100 − d)·scale) div 100 + (d · Σ_e→dst c(e)) div 100.
    * Returns the final (node → rank) map (keys = nodes with ≥ 1
    * incoming edge from a ranked node after the last round — exactly
    * the distributed groupBy(dst) key set). */
  def damped[K](edges: Iterable[(K, K, Long)], scale: Long, iters: Int,
      damping: Int): Map[K, Long] = {
    val wt: Map[K, Long] = edges.groupBy(_._1)
      .map { case (s, es) => s -> es.iterator.map(_._3).sum }
    val base = (100L - damping) * scale / 100
    var r: Map[K, Long] = wt.map { case (s, _) => s -> scale }
    for (_ <- 1 to iters) {
      r = edges.iterator
        .filter { case (s, _, _) => r.contains(s) }
        .map { case (s, d, w) => d -> (BigInt(r(s)) * w / wt(s)) }
        .toSeq.groupBy(_._1)
        .map { case (d, cs) =>
          d -> (base + (cs.iterator.map(_._2).sum * damping / 100).toLong)
        }
    }
    r
  }

  /** [[damped]] over an (src, dst, w: BIGINT) frame; returns (node, r).
    * The contribution, the sum and the damping multiply run in
    * DECIMAL(38,0): over LONGs they would wrap silently in non-ANSI
    * Spark once a hub's incoming mass nears 2^63/d, while DuckDB's
    * sum(BIGINT) is already HUGEINT (review r9). Only the final rank,
    * bounded by the conserved total N·scale, narrows back to BIGINT.
    * The degree-annotated edge list is iteration-invariant, so it is
    * computed once behind a lazy localCheckpoint; without the cut every
    * round re-derives it from the input (~2× the query time at sf0.1). */
  def dampedDistributed(edges: DataFrame, scale: Long, iters: Int,
      damping: Int): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(sum(col("w")).as("wt"))
    val ed = edges.join(deg, Seq("src")).localCheckpoint(eager = false)
    var r = deg.select(col("src").as("node"), lit(scale).as("r"))
    for (_ <- 1 to iters) {
      r = ed.join(r, col("src") === col("node"))
        .select(col("dst"),
          expr("CAST((CAST(r AS DECIMAL(38,0)) * w) div wt AS BIGINT)").as("c"))
        .groupBy(col("dst"))
        .agg(expr(s"${(100L - damping) * scale / 100} + CAST(($damping * " +
          "sum(CAST(c AS DECIMAL(38,0)))) div 100 AS BIGINT)").as("r"))
        .select(col("dst").as("node"), col("r"))
    }
    r
  }

  /** UTF-8 binary comparison — Spark/DuckDB order strings by UTF-8
    * bytes, while Java's String.compareTo orders by UTF-16 code units;
    * the two differ on supplementary characters, so a driver-side
    * ORDER BY must compare the bytes to stay engine-exact. */
  def utf8Less(a: String, b: String): Boolean = {
    val ba = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(ba.length, bb.length)
    var i = 0
    while (i < n) {
      val x = ba(i) & 0xff; val y = bb(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    ba.length < bb.length
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Component-minimum labels for graphs that are EXPECTED to be
  * threshold-sized (the DBSCAN cell-contraction graphs: occupied cells
  * are geometry-bounded, so a few thousand nodes at any corpus size).
  *
  * The driver union-find is the right tool there — the alternating-star
  * operator costs ~1 s of scheduler time per round regardless of data
  * size, which dwarfs a millisecond union-find on 1.6k nodes (review
  * r11 / spark-pitfalls). But "geometry-bounded" was an implicit
  * assumption: a pathological feature distribution (features spread
  * over an unbounded extent, or a mis-scaled grid) could make the
  * contracted graph corpus-sized and OOM the driver silently. This
  * wrapper makes the assumption ENFORCED through [[DriverKernel.capped]]:
  * under the cap the union-find runs on the collected edge list, over it
  * the distributed [[ConnectedComponents.starLabels]] operator takes
  * over. The answer stays correct at any scale; only the execution
  * strategy changes (review r11 "What's wrong" item 1).
  */
object DriverComponents {

  /** ~160 MB of boxed (Long, Long) on a 128 GiB driver — far above any
    * geometry-bounded contraction (18k edges at sf0.1) and far below
    * where a collect would hurt. */
  val DefaultEdgeCap: Long = 10L * 1000 * 1000

  /** (v, lbl) with lbl = component-minimum id, covering every node
    * incident to at least one edge (same contract as
    * [[ConnectedComponents.starLabels]]); isolated nodes are absent —
    * callers coalesce to the node's own id. Input: two Long id columns,
    * one direction per undirected edge, self-loops ignored.
    *
    * Returns a LocalRelation in the driver path (Spark auto-broadcasts
    * it into downstream joins) and a distributed frame in the fallback
    * path (a broadcast hint there would be wrong — don't add one at the
    * call site).
    */
  def minLabels(edges: DataFrame, edgeCap: Long = DefaultEdgeCap): DataFrame =
    minLabelsWithCounts(edges, edgeCap)._1

  /** [[minLabels]] plus (incident-node count, component count) — free
    * on the driver path (the label array is already local), two small
    * aggregations on the fallback path. The sweep's per-eps cluster
    * count reads these instead of re-querying the label frame. */
  def minLabelsWithCounts(edges: DataFrame,
      edgeCap: Long = DefaultEdgeCap): (DataFrame, Long, Long) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.toDF("a", "b").where($"a" =!= $"b")
    DriverKernel.capped(e.as[(Long, Long)], edgeCap) { edgeList =>
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(v: Long): Long = {
        var r = v
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = v
        while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edgeList.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-root union
      }
      val labeled = edgeList.flatMap(p => Seq(p._1, p._2)).distinct
        .map(v => (v, find(v)))
      (labeled.toSeq.toDF("v", "lbl"), labeled.length.toLong,
        labeled.map(_._2).distinct.length.toLong)
    } {
      val labels = ConnectedComponents.starLabels(e).toDF("v", "lbl")
        .localCheckpoint() // two counts + the caller's join read it once
      (labels, labels.count(), labels.select($"lbl").distinct().count())
    }
  }
}

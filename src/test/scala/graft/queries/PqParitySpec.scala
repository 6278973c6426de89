package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.queries.Similarity.{NumQueries, PqM, PqStride, PqSub, corpusVectors, pqCodebook}

/** Parity pins for the native PQ encode/score kernels.
  *
  * The staged PQ codes table is built by the fused `pq_encode` kernel
  * (one map-only pass per vector); correctness of the two PQ query
  * faces rests on that kernel being BIT-IDENTICAL to the relational
  * encode the DuckDB oracle still computes (crossJoin × explode ×
  * round-9 decimal argmin). These tests hold the kernel to that
  * definition on the real corpus, and hold its replicated rounding
  * chain ([[graft.functions.PqEncode.scale9]]) to Spark's own
  * `cast(round(t, 9) as decimal)` on adversarial doubles.
  */
class PqParitySpec extends SparkTestBase {

  /** Fixed-association 4-term subspace expression over full vectors
    * with 1-based index arithmetic (identical string shape on the
    * DuckDB side): ((t0 op t1) + t2) + t3. */
  private def pqTerms(term: Int => String): String =
    (0 until PqSub).map(term).reduce((a, b) => s"($a + $b)")

  /** Per-subspace squared L2 distance (encode side), 9-dp decimal. */
  private def pqDist2Expr(x: String, c: String): String = {
    val t = pqTerms { j =>
      val xi = s"element_at($x, $PqSub*m + ${j + 1})"
      val ci = s"element_at($c, $PqSub*m + ${j + 1})"
      s"($xi - $ci) * ($xi - $ci)"
    }
    s"cast(round($t, 9) as decimal(18,9))"
  }

  /** Per-subspace partial inner product (LUT side), 9-dp decimal. */
  private def pqDotExpr(x: String, c: String): String = {
    val t = pqTerms { j =>
      s"element_at($x, $PqSub*m + ${j + 1}) * element_at($c, $PqSub*m + ${j + 1})"
    }
    s"cast(round($t, 9) as decimal(12,9))"
  }

  /** The relational encode the pq_encode kernel replaced — the parity
    * reference: the kernel-built staged table must equal this
    * row-for-row on the real corpus, which is what certifies the
    * kernel's replicated round-9 decimal chain (and keeps the unchanged
    * DuckDB oracle honest). */
  private def pqCodesReference(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val emb = corpusVectors(spark, sfDir)
    val pairs = emb.crossJoin(broadcast(pqCodebook(emb)))
      .select($"vec_id", $"v", $"cid", $"cv",
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select($"vec_id", $"m", $"cid",
        expr(pqDist2Expr("v", "cv")).as("d2"))
    graft.plans.TopKPerGroup.topKPerGroup(pairs,
        Seq($"vec_id", $"m"), Seq($"d2".asc, $"cid".asc), 1)
      .select($"vec_id", $"m", ($"cid" / PqStride).cast("int").as("ci"))
      .groupBy($"vec_id")
      .agg(transform(array_sort(collect_list(struct($"m", $"ci"))),
        x => x.getField("ci")).as("codes"))
  }

  /** The relational LUT the pq_lut kernel replaced — parity reference,
    * like [[pqCodesReference]]. */
  private def pqLutReference(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = corpusVectors(spark, sfDir)
    import emb.sparkSession.implicits._
    emb.filter($"vec_id" < NumQueries)
      .crossJoin(broadcast(pqCodebook(emb)))
      .select($"vec_id".as("query_id"), $"cid", $"v", $"cv",
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select($"query_id", $"m", ($"cid" / PqStride).cast("int").as("ci"),
        expr(pqDotExpr("v", "cv")).as("pdot"))
      // decimal(12,9) × 10^9 is exactly integral: the long IS the 9-dp
      // value, no float ever touches the packed table
      .select($"query_id", $"m", $"ci",
        ($"pdot" * lit(1000000000L)).cast("long").as("p"))
      .groupBy($"query_id")
      .agg(transform(array_sort(collect_list(struct($"m", $"ci", $"p"))),
        x => x.getField("p")).as("lut"))
  }

  test("kernel-built PQ codes equal the relational encode row-for-row") {
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val kernel = Similarity.pqCodes(spark, sfDir)
      val reference = pqCodesReference(spark, sfDir)
      assert(kernel.count() === reference.count(), sfDir)
      val diff = kernel.join(reference.withColumnRenamed("codes", "ref"),
          Seq("vec_id"))
        .filter(col("codes") =!= col("ref"))
      assert(diff.isEmpty, s"$sfDir: ${diff.take(3).mkString("; ")}")
    }
  }

  test("kernel-built PQ LUT equals the relational LUT row-for-row") {
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val kernel = Similarity.pqLut(spark, sfDir)
      val reference = pqLutReference(spark, sfDir)
      assert(kernel.count() === reference.count(), sfDir)
      val diff = kernel.join(reference.withColumnRenamed("lut", "ref"),
          Seq("query_id"))
        .filter(col("lut") =!= col("ref"))
      assert(diff.isEmpty, s"$sfDir: ${diff.take(3).mkString("; ")}")
    }
  }

  test("scale9 replicates Spark's round-9 decimal cast on adversarial doubles") {
    import spark.implicits._
    // half-way points, values needing re-rounding after the double
    // round-trip, negatives, magnitudes across the decimal(18,9) range
    val seeded = new scala.util.Random(7)
    val values = Seq(0.0, 1e-9, 0.5e-9, 1.5e-9, -1.5e-9, 0.1234567885,
      -0.1234567885, 123456789.123456789, 3.0000000005, -3.0000000005) ++
      Seq.fill(10000)(math.pow(10, seeded.between(-10.0, 8.0)) *
        (if (seeded.nextBoolean()) 1 else -1) * seeded.nextDouble())
    val df = values.toDF("t").select($"t",
      (expr("cast(round(t, 9) as decimal(18,9))") * lit(1000000000L))
        .cast("long").as("spark_scaled"))
    df.collect().foreach { r =>
      val t = r.getDouble(0)
      assert(graft.functions.PqEncode.scale9(t) === r.getLong(1),
        s"scale9 mismatch at t=$t")
    }
  }

  test("adc_score sums exactly the indexed LUT entries") {
    import spark.implicits._
    val codes = Array(0, 3, 2, 1)
    val k = 4
    val lut = Array.tabulate(16)(i => (i * 1000000007L) % 999983 - 500000)
    val expected = codes.zipWithIndex.map { case (c, m) => lut(m * k + c) }.sum
    val got = Seq((codes.toSeq, lut.toSeq)).toDF("codes", "lut")
      .select(graft.functions.functions.adc_score($"codes", $"lut"))
      .as[Long].head()
    assert(got === expected)
  }

  test("adc_score fails loudly on an out-of-range code") {
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq((Seq(4), Seq(0L, 1L, 2L, 3L))).toDF("codes", "lut")
        .select(graft.functions.functions.adc_score($"codes", $"lut"))
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("adc_score fails loudly on empty codes and non-grid LUTs") {
    import graft.functions.AdcScore
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    intercept[IllegalArgumentException] {
      AdcScore.compute(new GenericArrayData(Array.empty[Int]),
        new GenericArrayData(Array(1L, 2L)))
    }
    intercept[IllegalArgumentException] {
      AdcScore.compute(new GenericArrayData(Array(0, 1, 0)),
        new GenericArrayData(Array.tabulate(8)(_.toLong))) // 8 % 3 != 0
    }
  }

  test("pq_encode / pq_lut fail loudly on non-grid codebook geometry") {
    import graft.functions.{PqEncode, PqLut}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val v6 = new GenericArrayData(Array.tabulate(6)(_.toDouble))
    val cb12 = Array.tabulate(12)(_.toDouble) // 2 centroids over dim 6
    // well-formed geometry passes
    assert(PqEncode.compute(v6, cb12, 2).numElements() === 2)
    assert(PqLut.compute(v6, cb12, 2).numElements() === 4)
    // dim % m != 0 — subspace width would silently truncate
    intercept[IllegalArgumentException] { PqEncode.compute(v6, cb12, 4) }
    intercept[IllegalArgumentException] { PqLut.compute(v6, cb12, 4) }
    // cb.length % dim != 0 — centroid count would silently truncate
    val cb13 = Array.tabulate(13)(_.toDouble)
    intercept[IllegalArgumentException] { PqEncode.compute(v6, cb13, 2) }
    intercept[IllegalArgumentException] { PqLut.compute(v6, cb13, 2) }
    // empty vector / empty codebook are corruption, not data
    val v0 = new GenericArrayData(Array.empty[Double])
    intercept[IllegalArgumentException] { PqEncode.compute(v0, cb12, 2) }
    intercept[IllegalArgumentException] {
      PqEncode.compute(v6, Array.empty[Double], 2)
    }
  }
}

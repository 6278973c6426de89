package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables

/** Scale-path variants of operators whose naive form has a serial
  * bottleneck. Results are bit-identical to the simple forms (same oracle
  * SQL), only the physical plan changes.
  */
object Scale {

  /** Two-pass partitioned gaps-and-islands.
    *
    * The textbook form (Relational.qIslands, mirroring the reference KPI at
    * shift_data_processor.py:249-265) uses `SUM(flag) OVER (ORDER BY day)`
    * — an unpartitioned window that Spark executes as ONE task holding the
    * whole (distinct-day) input: the classic scale-killer (SURVEY §2.5).
    *
    * This variant partitions by a coarse time bucket (year) and stitches:
    *   pass 1: per-bucket running flag-sum (window PARTITIONED by bucket —
    *           parallel, one task per bucket);
    *   pass 2: per-bucket flag totals, prefix-summed over the tiny
    *           bucket-count table, broadcast back as offsets.
    * global island id = bucket-local running sum + offset of all prior
    * buckets — exactly the unpartitioned running sum, computed without any
    * single task ever seeing more than one bucket of rows.
    */
  def qIslandsScalable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.orders(spark, sfDir)
      .select(to_date($"o_orderdate").as("day"),
        when($"o_orderpriority" === "1-URGENT", 1).otherwise(0).as("u"))
      .groupBy($"day")
      .agg(max($"u").as("has_urgent"))
      .select($"day", year($"day").as("bucket"),
        when($"has_urgent" === 0, 0).otherwise(1).as("flag"))

    // pass 1: bucket-local running sums (parallel across buckets)
    val localW = Window.partitionBy($"bucket").orderBy($"day")
    val local = days.select($"day", $"bucket", $"flag",
      sum($"flag").over(localW).as("local_grp"))

    // pass 2: prefix-sum of bucket totals; the window runs over ~#buckets
    // rows (years), not data rows
    val bucketW = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = days.groupBy($"bucket")
      .agg(sum($"flag").as("bucket_total"))
      .select($"bucket",
        coalesce(sum($"bucket_total").over(bucketW), lit(0L)).as("offset"))

    local.join(broadcast(offsets), Seq("bucket"))
      .select($"day", ($"local_grp" + $"offset").as("grp"))
      .groupBy($"grp")
      .agg((count(lit(1)) - when($"grp" === 0, 0).otherwise(1)).as("cnt"))
      .orderBy($"cnt".desc)
      .limit(1)
      .select($"cnt".as("max_streak"))
  }

  /** Identical semantics ⇒ identical oracle (Relational.qIslandsSql). */
  val qIslandsScalableSql: String = Relational.qIslandsSql

  /** Two-stage salted top-k per group.
    *
    * The direct form (Analytics.qTopKPerGroup) windows by the group key —
    * with 3 distinct return flags, 3 tasks each sort a third of the fact
    * table regardless of cluster size. Here:
    *   stage 1: rank within (group, salt) — 32 salts spread each group
    *            over 32 tasks; keep each task's local top-k;
    *   stage 2: rank the ≤ 32·k survivors per group — a window over a
    *            provably tiny input.
    * Any global top-k row is also a top-k row of its salt slice, so the
    * result is exactly the direct form's (same oracle SQL).
    */
  def qTopKPerGroupScalable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 3
    // wide mirror: stage 1's salted map-side sort is this face's cost,
    // single-task on the one-row-group raw file (Tables.lineitemWide)
    val salted = Tables.lineitemWide(spark, sfDir)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_extendedprice",
        pmod(hash($"l_orderkey", $"l_linenumber"), lit(32)).as("salt"))
    val w1 = Window.partitionBy($"l_returnflag", $"salt")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    val w2 = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    salted
      .withColumn("lrk", row_number().over(w1)).filter($"lrk" <= k)
      .withColumn("rk", row_number().over(w2)).filter($"rk" <= k)
      .select($"l_returnflag", $"rk".cast("int").as("rk"), $"l_orderkey", $"l_linenumber")
  }

  /** Identical semantics ⇒ identical oracle (Analytics.qTopKPerGroupSql). */
  val qTopKPerGroupScalableSql: String = Analytics.qTopKPerGroupSql

  /** Custom whole-operator plan (graft.plans.TopKPerGroup): bounded
    * per-group top-k as a LogicalPlan + Strategy + SparkPlan — no sort
    * of the input anywhere (WindowExec and both window variants above
    * sort their partitions). The rank window that reconstructs `rk` for
    * the oracle schema runs over the ≤ groups×k survivors, not the
    * input. Same oracle as the window form — all three implementations
    * must agree bit-for-bit. */
  def qTopKPerGroupNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = 3
    // wide mirror: the custom TopKPerGroupPlan's per-partition heap scan
    // parallelizes with the input split count (Tables.lineitemWide)
    val df = Tables.lineitemWide(spark, sfDir)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
    val top = graft.plans.TopKPerGroup.topKPerGroup(df,
      Seq(df("l_returnflag")),
      Seq(df("l_extendedprice").desc, df("l_orderkey"), df("l_linenumber")), k)
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    top
      .withColumn("rk", row_number().over(w))
      .select($"l_returnflag", $"rk".cast("int").as("rk"), $"l_orderkey", $"l_linenumber")
  }

  val qTopKPerGroupNativeSql: String = Analytics.qTopKPerGroupSql

  /** Salted skew join (graft.operators.SkewJoin): the fact side gets a
    * deterministic per-row salt, the dimension is replicated per salt,
    * and the shuffle spreads any hot supplier key over 8 tasks instead
    * of one. Results are identical to the plain join — the oracle runs
    * the unsalted form. (AQE's runtime skew splitting covers
    * stats-detected skew; explicit salting is for skew known ahead of
    * time or a non-broadcastable small side.) */
  def qSkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val large = Tables.lineitem(spark, sfDir)
      .select($"l_suppkey".as("suppkey"), $"l_quantity")
    val small = Tables.supplier(spark, sfDir)
      .select($"s_suppkey".as("suppkey"), $"s_nationkey")
    graft.operators.SkewJoin.saltedInnerJoin(large, small, "suppkey", 8)
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_items"), sum($"l_quantity").as("sum_qty"))
  }

  val qSkewJoinSql: String =
    """SELECT s_nationkey, count(*) AS n_items, sum(l_quantity) AS sum_qty
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1""".stripMargin

  /** Bloom-filter pre-filtered join — Spark's runtime-filter machinery
    * (the BloomFilterAggregate/BloomFilterMightContain pair behind
    * spark.sql.optimizer.runtime.bloomFilter) driven explicitly as an
    * operator. The selective dimension's keys aggregate into ONE bloom
    * filter row (mergeable binary buffer, map-side combine like any
    * agg); the fact side drops non-matching rows BEFORE the join
    * shuffle via might_contain. The exact equi-join then removes the
    * bloom's false positives, so the result is identical to the plain
    * join (the oracle runs the unfiltered form). At 100 TB this is the
    * shape when the dim is too big to broadcast but selective enough
    * that most fact rows shuffle for nothing. */
  private def bloomAgg(c: org.apache.spark.sql.Column, items: Long, bits: Long) =
    org.apache.spark.sql.GraftColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(org.apache.spark.sql.GraftColumnBridge.expression(c))),
        org.apache.spark.sql.catalyst.expressions.Literal(items),
        org.apache.spark.sql.catalyst.expressions.Literal(bits))
        .toAggregateExpression())

  private def mightContain(bloom: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.GraftColumnBridge.expression(bloom),
        new org.apache.spark.sql.catalyst.expressions.XxHash64(
          Seq(org.apache.spark.sql.GraftColumnBridge.expression(c)))))

  private val bloomAsOf = "2001-07-01"

  def qBloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val recent = Tables.orders(spark, sfDir)
      .filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf(s"$bloomAsOf 00:00:00")))
      .select($"o_orderkey")
    // The filter is built by a distributed aggregate, then materialized
    // as a 12.5 KB binary literal — might_contain requires a CONSTANT
    // (or scalar subquery) filter, and a driver-side scalar fetch of one
    // sketch is exactly how AQE's InjectRuntimeFilter stages it. Only
    // the sketch crosses the driver, never rows.
    val bf = recent.agg(bloomAgg($"o_orderkey", 10000L, 100000L)).head().getAs[Array[Byte]](0)
    Tables.lineitem(spark, sfDir)
      .select($"l_orderkey", $"l_quantity")
      .where(mightContain(lit(bf), $"l_orderkey"))
      .join(recent, $"l_orderkey" === $"o_orderkey")
      .agg(count(lit(1)).as("n_items"), sum($"l_quantity").as("sum_qty"))
  }

  val qBloomJoinSql: String =
    s"""SELECT count(*) AS n_items, sum(l_quantity) AS sum_qty
       |FROM lineitem
       |JOIN (SELECT o_orderkey FROM orders
       |      WHERE o_orderdate >= TIMESTAMP '$bloomAsOf 00:00:00') o
       |  ON l_orderkey = o_orderkey""".stripMargin

  /** Fact-to-fact join with NO shuffle on either side: both tables read
    * from bucketed mirrors keyed on the join column
    * (sources/BucketedTables), so the merge join's clustered-distribution
    * requirement is satisfied straight off the scans — the plan has no
    * Exchange anywhere, including the post-join per-order aggregate,
    * which reuses the same bucket partitioning (pinned in
    * PlanQualitySpec). The `merge` hint keeps the demonstration honest:
    * without it, local-scale orders would broadcast, and a broadcast
    * plan proves nothing about the 100 TB case where neither fact side
    * fits in memory. Results are byte-identical to the flat-layout join
    * — the oracle runs against the flat parquet.
    */
  def qBucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val l = graft.sources.BucketedTables.bucketed(spark, sfDir, "lineitem", "l_orderkey")
      .select($"l_orderkey",
        $"l_extendedprice".cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2))
          .as("price"))
    val o = graft.sources.BucketedTables.bucketed(spark, sfDir, "orders", "o_orderkey")
      .select($"o_orderkey", $"o_orderpriority")
    l.hint("merge").join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"price").cast("double").as("order_rev"))
      .select($"l_orderkey", $"o_orderpriority", $"n_items", $"order_rev")
  }

  val qBucketedJoinSql: String =
    """SELECT l_orderkey, o_orderpriority,
      |       count(*) AS n_items,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_rev
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // Range-clustered scan: the data-skipping face of the layout story
  // (sources/ClusteredTables — bucketing kills the JOIN shuffle, range-
  // clustering kills the SCAN cost of selective predicates). The mirror
  // is written repartitionByRange + sortWithinPartitions on l_orderkey,
  // so every parquet row group covers a narrow, disjoint key range and
  // the pushed range predicate prunes all but the overlapping groups
  // (footer arithmetic proven in ClusteredTablesSpec: 1–2 of 8 row
  // groups read vs all 8 on the unsorted layout). Results are
  // byte-identical to the flat layout — the oracle runs on flat
  // parquet. Key range [100, 400) exists at every test SF.
  private val ClusterKeyLo = 100L
  private val ClusterKeyHi = 400L

  def qClusteredScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // clusteredRange prunes non-overlapping FILES from the build-time
    // min/max manifest before the scan is planned (table-format-style
    // plan-time skipping; ClusteredTablesSpec pins the file count); the
    // row-level filter below still applies — file ranges are coarse
    graft.sources.ClusteredTables
      .clusteredRange(spark, sfDir, "lineitem", Seq("l_orderkey"),
        "l_orderkey", ClusterKeyLo, ClusterKeyHi)
      .filter($"l_orderkey" >= ClusterKeyLo && $"l_orderkey" < ClusterKeyHi)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("double").as("sum_qty"))
  }

  val qClusteredScanSql: String =
    s"""SELECT l_returnflag, count(*) AS n_rows,
       |       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
       |FROM lineitem
       |WHERE l_orderkey >= $ClusterKeyLo AND l_orderkey < $ClusterKeyHi
       |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // Z-order clustered scan: the MULTI-key layout (ClusteredTables
  // .zOrdered — min/max-normalized keys bit-interleaved by the native
  // zorder64 Morton kernel, table range-clustered on the curve value).
  // The filter here is on l_partkey ALONE — the key a plain
  // sort-by-l_orderkey layout can never skip on — and the footers prove
  // the z-layout's row-group stats still prune it
  // (ClusteredTablesSpec). Byte parity with the flat layout via the
  // oracle; key range exists at every test SF.
  private val ZPartLo = 10L
  private val ZPartHi = 60L

  def qZorderScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    graft.sources.ClusteredTables
      .zOrdered(spark, sfDir, "lineitem", "l_orderkey", "l_partkey")
      .filter($"l_partkey" >= ZPartLo && $"l_partkey" < ZPartHi)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity").cast("double").as("sum_qty"))
  }

  val qZorderScanSql: String =
    s"""SELECT l_returnflag, count(*) AS n_rows,
       |       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
       |FROM lineitem
       |WHERE l_partkey >= $ZPartLo AND l_partkey < $ZPartHi
       |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // ORC round-trip — format breadth on the storage edge: the documents
  // projection is published once per corpus as an ORC mirror (through
  // the SAME stage→validate→move→marker CommitProtocol every parquet
  // mirror uses — the protocol is format-agnostic by construction, and
  // this proves it), and the query aggregates FROM THE ORC BYTES. The
  // oracle recomputes the same aggregate from the parquet source, so a
  // hash-green run certifies the ORC write+read round-trip value-exact
  // — DuckDB never needs to read ORC. ORC is the other columnar
  // format a lake ingests from (Hive-lineage pipelines); the read is
  // schema-declared like every reader in the repo.
  private[queries] def orcMirror(spark: SparkSession, sfDir: String): String =
    this.synchronized {
      // serialize builders through the same per-process lock every other
      // mirror build (BucketedTables/ClusteredTables/PartitionedCorpus)
      // holds. Cross-JVM scope is unchanged from those builds' documented
      // contract: one JVM owns the scratch dir (a shared deployment
      // publishes mirrors at ingest, not on first query).
      graft.core.StoreLayout.ownedMirror(
          graft.core.Scratch.dir("orc_mirror", sfDir)) { staged =>
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .write.mode("overwrite").orc(staged.toString)
      }.toString
    }

  def qOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // build-once per (session, corpus) through the Staging registry —
    // the same lifecycle (and invalidation contract) every persisted
    // mirror frame uses, so repeated queries re-check neither the
    // marker nor the filesystem
    val mirror = graft.operators.Staging.memoized(spark, sfDir, "orc-mirror") {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      spark.read.schema(schema).orc(orcMirror(spark, sfDir))
    }
    mirror.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
  }

  val qOrcRoundtripSql: String =
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // DYNAMIC partition pruning — the runtime complement of
  // q_source_pruned's plan-time pruning: when the set of partitions to
  // read is only known after ANOTHER query runs (here: "sources whose
  // total volume is above corpus average", an aggregate nobody can
  // fold at plan time), Spark injects the dim side's join keys into
  // the partitioned fact scan as a runtime filter
  // (DynamicPruningExpression reusing the broadcast), so the fact
  // still reads only qualifying source=<s>/ directories. At 100 TB
  // this is THE mechanism that makes dim-driven fact queries feasible
  // on partitioned corpora — without it every runtime-selected sweep
  // degrades to a full scan. The scan's dynamicpruning filter is
  // pinned in CorpusOpsSpec; the oracle runs the same semantics
  // against the FLAT file, so hash-green also proves the pruned read
  // is value-exact. The above-average rule is a cross-multiplied
  // integer compare (s·n_sources > tot), engine-exact.
  def qDppScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val flat = Tables.documents(spark, sfDir)
    // the corpus total comes from a window over the POST-aggregate
    // source frame (≤ sources rows), not a cross join with a 1-row
    // total: a condition-less Join anywhere in the dim subtree stops
    // PartitionPruning from planting the runtime filter (measured —
    // the crossJoin form reads every partition), while the window form
    // keeps the dim side a Filter-over-Window-over-Aggregate chain the
    // rule accepts
    val w = Window.partitionBy()
    val dim = flat.groupBy($"source").agg(sum($"n_chars").as("s"))
      .select($"source", $"s", sum($"s").over(w).as("tot"),
        count(lit(1)).over(w).as("n_src"))
      .filter($"s" * $"n_src" > $"tot")
      .select($"source")
    val fact = graft.sources.PartitionedCorpus.documentsPartitioned(spark, sfDir)
    fact.join(broadcast(dim), Seq("source"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
  }

  val qDppScanSql: String =
    """WITH tot AS (SELECT sum(n_chars) AS tot,
      |                    count(DISTINCT source) AS n_src
      |             FROM documents),
      |dim AS (SELECT source FROM (
      |          SELECT source, sum(n_chars) AS s FROM documents GROUP BY 1)
      |        CROSS JOIN tot WHERE s * n_src > tot)
      |SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents JOIN dim USING (source)
      |GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dpp_scan" -> (qDppScan _),
    "q_orc_roundtrip" -> (qOrcRoundtrip _),
    "q_zorder_scan" -> (qZorderScan _),
    "q_clustered_scan" -> (qClusteredScan _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_bloom_join" -> (qBloomJoin _),
    "q_islands_scalable" -> (qIslandsScalable _),
    "q_topk_groups_scalable" -> (qTopKPerGroupScalable _),
    "q_topk_native" -> (qTopKPerGroupNative _),
    "q_skew_join" -> (qSkewJoin _))

  val oracleSql: Map[String, String] = Map(
    "q_dpp_scan" -> qDppScanSql,
    "q_orc_roundtrip" -> qOrcRoundtripSql,
    "q_zorder_scan" -> qZorderScanSql,
    "q_clustered_scan" -> qClusteredScanSql,
    "q_bucketed_join" -> qBucketedJoinSql,
    "q_bloom_join" -> qBloomJoinSql,
    "q_islands_scalable" -> qIslandsScalableSql,
    "q_topk_groups_scalable" -> qTopKPerGroupScalableSql,
    "q_topk_native" -> qTopKPerGroupNativeSql,
    "q_skew_join" -> qSkewJoinSql)
}

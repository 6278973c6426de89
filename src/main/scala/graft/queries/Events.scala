package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables

/** Time-series / event-stream operators over the `events` table.
  *
  * These are the batch analogs of the Structured Streaming pipeline in
  * graft.streaming (tumbling-window aggregation, per-key running state,
  * session windows): identical logical shapes, so the streaming path can
  * reuse the same expressions with a watermark added. The reference has no
  * streams (SURVEY §2.9) — this is north-star surface from BASELINE.json.
  *
  * Scale notes: every query here partitions by a real key (hour bucket,
  * user_id) — no global-order windows. Value sums go through DECIMAL so
  * they are exact and order-independent across engines and partitionings;
  * final outputs are cast to DOUBLE (decimal outputs hash-fail on
  * trailing-zero canonicalization — see Relational).
  */
object Events {

  private def dec(c: Column, p: Int = 18, s: Int = 2): Column =
    c.cast(DecimalType(p, s))

  // --------------------------------------------------------------------
  // Tumbling-window aggregation: per (hour, event_type) counts + exact
  // decimal sums. Streaming analog: groupBy(window($"ts", "1 hour"), ...)
  // with a watermark.
  def qEventWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(dec($"value")).cast("double").as("sum_value"))
  }

  val qEventWindowSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // W1 at scale: running sum PARTITIONED by user — the shape the
  // reference's global-order window (shift_data_processor.py:254) should
  // take when a partition key exists. (ts, event_id) is a unique order
  // key, so RANGE-frame tie semantics cannot differ between engines.
  def qRunningSum(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id",
        sum(dec($"value")).over(w).cast("double").as("running_value"))
  }

  val qRunningSumSql: String =
    """SELECT user_id, event_id,
      |       CAST(sum(CAST(value AS DECIMAL(18,2)))
      |            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS running_value
      |FROM events""".stripMargin

  // --------------------------------------------------------------------
  // Sessionization: gaps-and-islands over event time per user — a session
  // breaks after a 30-minute silence. Same island-id construction as the
  // reference KPI (running sum of break flags), but partitioned by
  // user_id so it scales horizontally. Gap compare is in exact integer
  // microseconds on both sides.
  def qSessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byTime = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id",
        (unix_micros($"ts") - unix_micros(lag($"ts", 1).over(byTime))).as("gap_us"))
      .select($"user_id", $"ts", $"event_id",
        when($"gap_us".isNull || $"gap_us" <= 1800000000L, 0).otherwise(1).as("brk"))
      .select($"user_id", $"ts", $"event_id",
        sum($"brk").over(byTime).as("session_id"))
      .groupBy($"user_id", $"session_id")
      .agg(
        count(lit(1)).as("n_events"),
        (unix_micros(max($"ts")) - unix_micros(min($"ts"))).as("duration_us"))
  }

  val qSessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |         date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_us
      |  FROM events),
      |b AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN gap_us IS NULL OR gap_us <= 1800000000 THEN 0 ELSE 1 END AS brk
      |  FROM g),
      |s AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      |  FROM b)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |       count(*) AS n_events,
      |       date_diff('microsecond', min(ts), max(ts)) AS duration_us
      |FROM s GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // Rolling time-range window: per user, count + exact sum of events in
  // the trailing 15 minutes of each event — a RANGE BETWEEN interval
  // frame, the sliding-window family neither the tumbling (qEventWindow)
  // nor running-sum (qRunningSum) shapes cover. The frame bound is on
  // exact integer microseconds so both engines resolve identical frames
  // (RANGE includes order-value ties identically by definition).
  // Partitioned by user_id: parallel at any scale, state per task is one
  // 15-minute buffer.
  def qRollingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
      .rangeBetween(-900000000L, 0L)
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id",
        count(lit(1)).over(w).as("n_15m"),
        sum(dec($"value")).over(w).cast("double").as("sum_15m"))
  }

  val qRollingWindowSql: String =
    """SELECT user_id, event_id,
      |       count(*) OVER w AS n_15m,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_15m
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 900000000 PRECEDING AND CURRENT ROW)""".stripMargin

  // --------------------------------------------------------------------
  // Built-in session windows: Spark's session_window aggregation merges
  // events within a 30-minute gap at the AGGREGATION layer (mergeable
  // session state — the same operator works under a streaming watermark),
  // in contrast to qSessionize's explicit lag/running-sum island
  // construction. Output is keyed by session start = min event time, so
  // the oracle reproduces it with the island construction — the two
  // formulations must agree exactly.
  def qSessionWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("session_start"), $"n_events")
  }

  val qSessionWindowSql: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |         date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) AS gap_us
      |  FROM events),
      |b AS (
      |  -- STRICT <: session_window windows are [ts, ts+gap) and merge on
      |  -- overlap, so an event exactly gap after its predecessor starts a
      |  -- NEW session (qSessionize's manual islands use <= by design)
      |  SELECT user_id, ts,
      |         CASE WHEN gap_us IS NULL OR gap_us < 1800000000 THEN 0 ELSE 1 END AS brk
      |  FROM g),
      |s AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
      |  FROM b)
      |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
      |FROM s GROUP BY user_id, session_id""".stripMargin

  // --------------------------------------------------------------------
  // Window navigation: lead/lag — previous/next event type and the gap
  // to the previous event per user (qSessionize uses lag internally;
  // this exposes the navigation family directly). (ts, event_id) is a
  // unique order key so offsets are deterministic; the gap is exact
  // integer microseconds.
  def qLeadLag(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type",
        lag($"event_type", 1).over(w).as("prev_type"),
        lead($"event_type", 1).over(w).as("next_type"),
        (unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w))).as("gap_us"))
  }

  val qLeadLagSql: String =
    """SELECT user_id, event_id, event_type,
      |       lag(event_type) OVER w AS prev_type,
      |       lead(event_type) OVER w AS next_type,
      |       date_diff('microsecond', lag(ts) OVER w, ts) AS gap_us
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  // --------------------------------------------------------------------
  // Ranking-distribution family: ntile quartiles, percent_rank and
  // cume_dist per event_type ordered by (value, event_id) — the unique
  // tiebreaker makes every rank deterministic, so the doubles are the
  // same (rank−1)/(n−1) arithmetic in both engines. Row-parallel within
  // each partition; partitioning by a low-cardinality key is the
  // documented skew risk here (one task per event_type at any scale —
  // for a 100 TB ranking you'd pre-bucket by range boundaries from a
  // sampled CDF, the approach approx_percentile's sketch enables).
  def qNtile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    Tables.events(spark, sfDir)
      .select($"event_type", $"event_id",
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
  }

  val qNtileSql: String =
    """SELECT event_type, event_id,
      |       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |       percent_rank() OVER w AS pr,
      |       cume_dist() OVER w AS cd
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin

  // --------------------------------------------------------------------
  // Tie-aware ranking family: rank (gaps after ties) vs dense_rank (no
  // gaps) over an ordering WITH real ties (user_id repeats within an
  // event type), plus row_number over the tie-broken ordering. Tied rows
  // share their rank values on every engine, so the output is
  // deterministic even though the ordering key is non-unique — the
  // row_number window adds event_id to the sort, which is the rule this
  // repo follows everywhere a unique ordinal is emitted.
  def qRankFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tied = Window.partitionBy($"event_type").orderBy($"user_id")
    val unique = Window.partitionBy($"event_type").orderBy($"user_id", $"event_id")
    Tables.events(spark, sfDir)
      .select($"event_type", $"event_id", $"user_id",
        rank().over(tied).as("rk"),
        dense_rank().over(tied).as("drk"),
        row_number().over(unique).as("rn"))
  }

  val qRankFuncsSql: String =
    """SELECT event_type, event_id, user_id,
      |       CAST(rank() OVER t AS INTEGER) AS rk,
      |       CAST(dense_rank() OVER t AS INTEGER) AS drk,
      |       CAST(row_number() OVER u AS INTEGER) AS rn
      |FROM events
      |WINDOW t AS (PARTITION BY event_type ORDER BY user_id),
      |       u AS (PARTITION BY event_type ORDER BY user_id, event_id)""".stripMargin

  // --------------------------------------------------------------------
  // Frame-pinned window navigation: first/last/nth event type per user
  // over the FULL partition frame. last_value is the classic cross-engine
  // trap — the default window frame ends at CURRENT ROW, making
  // last_value degenerate — so the frame is pinned to
  // UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING explicitly on both sides.
  def qFirstLast(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_id",
        first($"event_type").over(w).as("first_type"),
        last($"event_type").over(w).as("last_type"),
        nth_value($"event_type", 2).over(w).as("second_type"))
  }

  val qFirstLastSql: String =
    """SELECT user_id, event_id,
      |       first_value(event_type) OVER w AS first_type,
      |       last_value(event_type) OVER w AS last_type,
      |       nth_value(event_type, 2) OVER w AS second_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  // --------------------------------------------------------------------
  // Gap filling over a generated date spine: per (day, priority) order
  // counts with explicit 0 rows for silent days — the time-series
  // completion every reporting pipeline needs (a plain GROUP BY silently
  // drops empty buckets). The spine is GENERATED (sequence over the
  // min..max day) and cross-joined with the distinct priorities: both
  // sides are tiny derived sets, so the only full-data passes are the
  // bounds aggregate and the daily aggregate — the spine join is
  // broadcast against the aggregated (not raw) rows.
  def qGapFill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, sfDir)
    val daily = orders
      .groupBy(date_trunc("day", $"o_orderdate").as("day"),
        $"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("n"))
    val spine = orders
      .agg(date_trunc("day", min($"o_orderdate")).as("lo"),
        date_trunc("day", max($"o_orderdate")).as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("interval 1 day"))).as("day"))
    val prios = orders.select($"o_orderpriority".as("priority")).distinct()
    spine.crossJoin(prios)
      .join(daily, Seq("day", "priority"), "left_outer")
      .select($"day", $"priority", coalesce($"n", lit(0L)).as("n_orders"))
  }

  // --------------------------------------------------------------------
  // Modal value per group (MODE / arg-max): the most frequent event type
  // per user, with a deterministic tie-break (higher count first, then
  // lexicographic). Physically one keyed count aggregation (partial +
  // final hash agg) followed by k=1 selection through the native bounded
  // top-k operator — no window, no sort of the (user, type) counts. The
  // same two-step shape computes any arg-max/arg-min ("value whose
  // aggregate is largest") at corpus scale.
  def qMode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.events(spark, sfDir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
    graft.plans.TopKPerGroup.topKPerGroup(counts,
        Seq($"user_id"), Seq($"n".desc, $"event_type".asc), k = 1)
      .select($"user_id", $"event_type".as("modal_type"), $"n".as("n_events"))
  }

  val qModeSql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, event_type, n,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY n DESC, event_type) AS rk
      |  FROM c)
      |SELECT user_id, event_type AS modal_type, n AS n_events
      |FROM r WHERE rk = 1""".stripMargin

  // --------------------------------------------------------------------
  // Scalable GLOBAL row numbering (total-order index) — the operation a
  // naive row_number() OVER (ORDER BY ...) does through one single-task
  // window, rebuilt as the two-pass partitioned form that survives
  // 100 TB: (1) aggregate per-bucket counts (here: day buckets of the
  // order key) and prefix-sum them into bucket offsets — a window over
  // the tiny post-aggregate day frame only; (2) number rows WITHIN each
  // bucket (keyed window, bounded partitions) and add the bucket offset
  // via a broadcast join. The unique (ts, event_id) order key makes the
  // result identical to the global form — the oracle runs the naive
  // global window and must hash-match. A hot bucket stays a bounded
  // skew (one day), and the bucket granularity is a free knob (hour
  // buckets at higher rates) — same design as q_islands_scalable.
  def qGlobalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", date_trunc("day", $"ts").as("day"))
    val dayW = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = ev.groupBy($"day").agg(count(lit(1)).as("n"))
      .select($"day", coalesce(sum($"n").over(dayW), lit(0L)).as("off"))
    val inDay = Window.partitionBy($"day").orderBy($"ts", $"event_id")
    ev.join(broadcast(offs), Seq("day"))
      .select($"event_id",
        ($"off" + row_number().over(inDay)).as("idx"))
  }

  val qGlobalIndexSql: String =
    """SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS idx
      |FROM events""".stripMargin

  // --------------------------------------------------------------------
  // Linear interpolation over an hourly spine — time-series completion
  // one step past qGapFill's zero-fill: silent (type, hour) buckets get
  // the linear blend of the nearest known values on either side, the
  // standard sensor/metric resampling step. Physically: one aggregate
  // for the known points (exact DECIMAL sums), a generated hour spine ×
  // distinct types (both tiny, broadcast), and two frame-bounded
  // IGNORE NULLS window passes per type to carry (prev, next) anchors —
  // no self-join against the raw rows, partitions keyed by event_type.
  // Numeric determinism: anchors are exact decimal sums cast once to
  // double, hour positions are exact epoch-ms longs, and the blend
  // (pv·(nh−h) + nv·(h−ph)) / (nh−ph) is written as the same IEEE
  // expression on both engines — identical inputs, identical rounding.
  // Rows outside the known range (no anchor on one side) stay NULL on
  // both sides: extrapolation is a policy, not an interpolation.
  def qInterpolate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val known = ev
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(sum(dec($"value")).cast("double").as("v"))
    val spine = ev
      .agg(date_trunc("hour", min($"ts")).as("lo"),
        date_trunc("hour", max($"ts")).as("hi"))
      .select(explode(sequence($"lo", $"hi", expr("interval 1 hour"))).as("hour"))
    val types = ev.select($"event_type").distinct()
    val grid = spine.crossJoin(types)
      .join(known, Seq("hour", "event_type"), "left_outer")
      .withColumn("hm", unix_millis($"hour"))
      .withColumn("khm", when($"v".isNotNull, $"hm"))
    val w = Window.partitionBy($"event_type").orderBy($"hour")
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid
      .select($"event_type", $"hour", $"v", $"hm",
        last($"v", ignoreNulls = true).over(back).as("pv"),
        last($"khm", ignoreNulls = true).over(back).as("phm"),
        first($"v", ignoreNulls = true).over(fwd).as("nv"),
        first($"khm", ignoreNulls = true).over(fwd).as("nhm"))
      .select($"event_type", $"hour",
        when($"v".isNotNull, $"v")
          .otherwise(
            ($"pv" * ($"nhm" - $"hm").cast("double")
              + $"nv" * ($"hm" - $"phm").cast("double"))
              / ($"nhm" - $"phm").cast("double")).as("value_filled"),
        ($"v".isNull && $"pv".isNotNull && $"nv".isNotNull).as("interpolated"))
  }

  val qInterpolateSql: String =
    """WITH known AS (
      |  SELECT date_trunc('hour', ts) AS hour, event_type,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT unnest(generate_series(date_trunc('hour', min(ts)),
      |                                date_trunc('hour', max(ts)),
      |                                INTERVAL 1 HOUR)) AS hour
      |  FROM events),
      |grid AS (
      |  SELECT s.hour, t.event_type, k.v,
      |         epoch_ms(s.hour) AS hm,
      |         CASE WHEN k.v IS NOT NULL THEN epoch_ms(s.hour) END AS khm
      |  FROM spine s
      |  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      |  LEFT JOIN known k ON k.hour = s.hour AND k.event_type = t.event_type),
      |anch AS (
      |  SELECT event_type, hour, v, hm,
      |         last_value(v IGNORE NULLS) OVER b AS pv,
      |         last_value(khm IGNORE NULLS) OVER b AS phm,
      |         first_value(v IGNORE NULLS) OVER f AS nv,
      |         first_value(khm IGNORE NULLS) OVER f AS nhm
      |  FROM grid
      |  WINDOW b AS (PARTITION BY event_type ORDER BY hour
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         f AS (PARTITION BY event_type ORDER BY hour
      |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_type, hour,
      |       CASE WHEN v IS NOT NULL THEN v
      |            ELSE (pv * CAST(nhm - hm AS DOUBLE)
      |                  + nv * CAST(hm - phm AS DOUBLE))
      |                 / CAST(nhm - phm AS DOUBLE) END AS value_filled,
      |       (v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS interpolated
      |FROM anch""".stripMargin

  val qGapFillSql: String =
    """WITH b AS (
      |  SELECT date_trunc('day', min(o_orderdate)) AS lo,
      |         date_trunc('day', max(o_orderdate)) AS hi
      |  FROM orders),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b),
      |prios AS (SELECT DISTINCT o_orderpriority AS priority FROM orders),
      |daily AS (
      |  SELECT date_trunc('day', o_orderdate) AS day,
      |         o_orderpriority AS priority, count(*) AS n
      |  FROM orders GROUP BY 1, 2)
      |SELECT s.day, p.priority, coalesce(d.n, 0) AS n_orders
      |FROM spine s
      |CROSS JOIN prios p
      |LEFT JOIN daily d ON d.day = s.day AND d.priority = p.priority""".stripMargin

  // --------------------------------------------------------------------
  // Funnel (ordered sequence match): per user, the earliest view, the
  // earliest click AFTER that view, and the earliest purchase AFTER that
  // click — the classic product-analytics conversion funnel, which is a
  // sequential dependency (stage n's window opens at stage n−1's match)
  // rather than a plain per-type min. Three keyed aggregations chained by
  // equi-joins on user_id: every stage is a filtered partial/final min —
  // shuffle keys never change, so at scale AQE/bucketing keeps all three
  // stages on one partitioning of user_id with no re-exchange. Output
  // reports the deepest stage reached and the exact microsecond
  // view→purchase latency for full conversions.
  def qFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("view_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .join(views, Seq("user_id"))
      .filter($"ts" > $"view_ts")
      .groupBy($"user_id").agg(min($"ts").as("click_ts"))
    val purchases = ev.filter($"event_type" === "purchase")
      .join(clicks, Seq("user_id"))
      .filter($"ts" > $"click_ts")
      .groupBy($"user_id").agg(min($"ts").as("purchase_ts"))
    views
      .join(clicks, Seq("user_id"), "left_outer")
      .join(purchases, Seq("user_id"), "left_outer")
      .select($"user_id", $"view_ts", $"click_ts", $"purchase_ts",
        (when($"purchase_ts".isNotNull, 3)
          .when($"click_ts".isNotNull, 2)
          .otherwise(1)).as("stage"),
        when($"purchase_ts".isNotNull,
          unix_micros($"purchase_ts") - unix_micros($"view_ts")).as("convert_us"))
  }

  val qFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS view_ts FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS click_ts
      |  FROM events e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.view_ts GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts GROUP BY 1)
      |SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
      |       CAST(CASE WHEN p.purchase_ts IS NOT NULL THEN 3
      |                 WHEN c.click_ts IS NOT NULL THEN 2
      |                 ELSE 1 END AS INTEGER) AS stage,
      |       CASE WHEN p.purchase_ts IS NOT NULL
      |            THEN date_diff('microsecond', v.view_ts, p.purchase_ts)
      |       END AS convert_us
      |FROM v
      |LEFT JOIN c ON c.user_id = v.user_id
      |LEFT JOIN p ON p.user_id = v.user_id""".stripMargin

  // --------------------------------------------------------------------
  // Cohort retention (the product-analytics counterpart of the funnel):
  // users cohort by their FIRST activity week; each later week of
  // activity increments that cohort's (cohort_week, week_offset) cell;
  // retention is the cell count over the cohort size. Scale shape: the
  // weekly-activity and first-touch frames aggregate on the SAME
  // user_id key (one partitioning, no re-exchange between them — the
  // qFunnel discipline), the per-cell rollup shuffles only
  // (cohort, offset) pairs, and cohort sizes are a broadcast
  // weeks-sized frame. Week arithmetic stays integral end to end
  // (both engines truncate to Monday-start weeks; the offset is an
  // exact day-diff div 7 of two week-truncated dates), and retention
  // is the single exact-integer division the house rules allow.
  def qRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val act = Tables.events(spark, sfDir)
      .select($"user_id", date_trunc("week", $"ts").cast("date").as("w"))
      .distinct()
    // first-touch as a per-user window rather than a separate aggregate
    // joined back (which planned a second scan of the fact table). The
    // window does add its own hashpartitioning(user_id) exchange ABOVE
    // the distinct's (user_id, w) one — what makes the shape cheap is
    // that the two consumers below share the whole scan→distinct→window
    // subtree via exchange reuse, so the fact is read once however
    // large it is; the exchanges above it carry only distinct
    // (user, week) rows
    val wc = act.withColumn("cohort_week",
      min($"w").over(Window.partitionBy($"user_id")))
    // every user is active in their first week, so the cohort size is
    // the count of (user, w == cohort_week) rows — no extra frame
    val sizes = wc.filter($"w" === $"cohort_week")
      .groupBy($"cohort_week").agg(count(lit(1)).as("n_cohort"))
    wc.groupBy($"cohort_week",
        expr("datediff(w, cohort_week) div 7").cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select($"cohort_week", $"week_offset", $"n_active", $"n_cohort",
        ($"n_active".cast("double") / $"n_cohort".cast("double")).as("retention"))
  }

  val qRetentionSql: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
      |  FROM events),
      |f AS (SELECT user_id, min(w) AS cohort_week FROM a GROUP BY 1),
      |s AS (SELECT cohort_week, count(*) AS n_cohort FROM f GROUP BY 1),
      |j AS (SELECT f.cohort_week,
      |             CAST(date_diff('day', f.cohort_week, a.w) // 7 AS INTEGER) AS week_offset,
      |             count(*) AS n_active
      |      FROM a JOIN f ON f.user_id = a.user_id GROUP BY 1, 2)
      |SELECT j.cohort_week, j.week_offset, j.n_active, s.n_cohort,
      |       CAST(j.n_active AS DOUBLE) / s.n_cohort AS retention
      |FROM j JOIN s ON s.cohort_week = j.cohort_week""".stripMargin

  // --------------------------------------------------------------------
  // PII / log scrubbing: mask every digit run in the event payload and
  // count the masks — the redaction pass a training pipeline runs before
  // text lands in the corpus. Pure row-local regexp projection (no
  // shuffle, whole-stage codegen'd); the pattern sticks to character
  // classes shared by Java regex and RE2 so both engines see identical
  // semantics. At 100 TB this is the shape of all scrub/normalize
  // passes: map-only, scan-bound, zero exchange.
  def qRedact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_id",
        regexp_replace($"props", "[0-9]+", "#").as("scrubbed"),
        regexp_count($"props", lit("[0-9]+")).cast("long").as("n_masked"))
  }

  val qRedactSql: String =
    """SELECT event_id,
      |       regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed,
      |       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_masked
      |FROM events""".stripMargin

  // --------------------------------------------------------------------
  // Histogram (fixed-width binning): event values bucketed to width-50
  // bins with per-bin counts and exact sums — the distribution profile
  // behind any monitoring dashboard. floor() of a positive double is
  // exact in both engines; one hash aggregation keyed by the derived
  // bin, so it scales like any grouped count.
  def qHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy((floor($"value" / 50.0) * 50).cast("long").as("bin_lo"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec($"value")).cast("double").as("sum_value"))
  }

  val qHistogramSql: String =
    """SELECT CAST(floor(value / 50.0) * 50 AS BIGINT) AS bin_lo,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // Regex capture-group extraction: pull the numeric payload field out
  // of the JSON-ish props string — the untyped-log-to-typed-column step
  // of event ingestion (from_json covers schema'd payloads, q_json_extract;
  // this is the pattern path for ragged ones). Both engines return ''
  // for a non-matching extract — pinned by the no_match column — and
  // the empty string is nullif'd before the BIGINT cast (ANSI-safe).
  // Row-local, codegen'd, no shuffle.
  def qRegexExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"event_id",
        nullif(regexp_extract($"props", "\"k\": ([0-9]+)", 1), lit(""))
          .cast("long").as("k_val"),
        $"props".rlike("\"k\": [0-9]+").as("has_k"),
        regexp_extract($"props", "z([0-9]+)x", 1).as("no_match"))
  }

  val qRegexExtractSql: String =
    """SELECT event_id,
      |       CAST(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS k_val,
      |       regexp_matches(props, '"k": [0-9]+') AS has_k,
      |       regexp_extract(props, 'z([0-9]+)x', 1) AS no_match
      |FROM events""".stripMargin

  // --------------------------------------------------------------------
  // Latest state per key (SCD1 current view): each user's most recent
  // event — the dedup-to-current materialization every upsert-less event
  // log needs downstream. One keyed window with a unique (ts, event_id)
  // descending order; Spark bounds it with WindowGroupLimit (rank-limit
  // pushdown — no partition is fully sorted), and under the registered
  // TopKWindowRewrite the bounded custom operator takes over the same
  // shape.
  def qLatestPerKey(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // k=1 per key through the bounded top-k operator: no per-user sort of
    // the event history, just a single-slot selection per group (the
    // window form sorts every user's partition; WindowGroupLimit bounds
    // it but still sorts).
    graft.plans.TopKPerGroup.topKPerGroup(
      Tables.events(spark, sfDir)
        .select($"user_id", $"event_id", $"event_type", $"ts"),
      Seq($"user_id"), Seq($"ts".desc, $"event_id".desc), k = 1)
  }

  val qLatestPerKeySql: String =
    """SELECT user_id, event_id, event_type, ts
      |FROM (SELECT user_id, event_id, event_type, ts,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts DESC, event_id DESC) AS rk
      |      FROM events)
      |WHERE rk = 1""".stripMargin

  // --------------------------------------------------------------------
  // Winsorization (outlier clamping): clamp each value into its
  // event_type's [p05, p95] band — the robust-statistics cleaning pass
  // that precedes any mean/variance feature at training time (a single
  // corrupt reading otherwise dominates). Two passes: a per-group exact
  // percentile aggregate (tiny result, broadcast back), then a row-local
  // clamp. The percentile interpolation is engine-identical on these
  // doubles (proven by q_percentile), and least/greatest pass either the
  // raw value or that percentile through unchanged. At 100 TB the
  // percentile pass swaps to approx_percentile (mergeable sketch, same
  // plan shape).
  def qWinsorize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(
        expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
    Tables.events(spark, sfDir)
      .join(broadcast(bands), Seq("event_type"))
      .select($"event_id", $"event_type",
        least(greatest($"value", $"lo"), $"hi").as("v_clamped"),
        ($"value" < $"lo" || $"value" > $"hi").as("was_clamped"))
  }

  val qWinsorizeSql: String =
    """WITH bands AS (
      |  SELECT event_type,
      |         quantile_cont(value, 0.05) AS lo,
      |         quantile_cont(value, 0.95) AS hi
      |  FROM events GROUP BY 1)
      |SELECT event_id, e.event_type,
      |       least(greatest(value, lo), hi) AS v_clamped,
      |       (value < lo OR value > hi) AS was_clamped
      |FROM events e JOIN bands USING (event_type)""".stripMargin

  // --------------------------------------------------------------------
  // HLL approximate distinct: per event_type approx user count. The HLL
  // sketch is mergeable (associative partial agg — scales like a sum, no
  // distinct shuffle). DuckDB's HLL implementation differs, so the raw
  // estimate can't be oracle-hashed; instead the query outputs the exact
  // count plus a Spark-side assertion that the sketch landed within 5% of
  // it — the oracle reproduces the exact count and the (always-true)
  // tolerance flag, making the entry fully hash-checked. The operator
  // under test is approx_count_distinct; the exact countDistinct exists
  // only to ground the check (at 100 TB you'd ship the sketch alone).
  def qApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("n_users"),
        approx_count_distinct($"user_id", 0.01).as("approx"))
      .select($"event_type", $"n_users",
        (abs($"approx" - $"n_users").cast("double") / $"n_users".cast("double") <= 0.05)
          .as("approx_ok"))
  }

  val qApproxDistinctSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, TRUE AS approx_ok
      |FROM events GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // SCD-2 dimension build: turn a change-event stream into versioned
  // validity intervals. Each event opens a version of the (user, type)
  // attribute valid from its own timestamp until the next change; the
  // newest version stays open (NULL valid_to, is_current). This is the
  // standard warehouse dimension-versioning op — the batch face of what
  // the warehouse's merge-on-read upsert does at the storage layer.
  // Scale shape: one keyed window (partitioned by user_id, event_type —
  // millions of small partitions, no global order anywhere); ties inside
  // a key are broken by event_id so the interval chain is deterministic.
  def qScd2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
    Tables.events(spark, sfDir)
      .select($"user_id", $"event_type", $"event_id", $"value",
        $"ts".as("valid_from"),
        lead($"ts", 1).over(w).as("valid_to"),
        lead($"ts", 1).over(w).isNull.as("is_current"))
  }

  val qScd2Sql: String =
    """SELECT user_id, event_type, event_id, value,
      |       ts AS valid_from,
      |       lead(ts) OVER w AS valid_to,
      |       (lead(ts) OVER w IS NULL) AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)""".stripMargin

  // --------------------------------------------------------------------
  // Full outer join: align two sparse per-(user, day) activity frames —
  // purchase days vs error days — keeping days present on EITHER side,
  // with NULL metrics marking the absent one. This is the reconciliation
  // shape (ledger-vs-ledger, metrics-vs-metrics) that inner/left joins
  // cannot express: here "purchased but no errors" and "errored but no
  // purchases" are both first-class rows. Scale shape: both inputs
  // aggregate BEFORE the join (per-key day counts, a tiny fraction of the
  // event volume), then one equi-keyed shuffle join on (user_id, day);
  // full-outer precludes broadcast by definition (both sides must be
  // complete), so the reduced frames are exactly what should meet the
  // SortMergeJoin. Spark coalesces the Seq-form join keys natively.
  def qFullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    def daily(tpe: String, nCol: String): DataFrame =
      ev.filter($"event_type" === tpe)
        .groupBy($"user_id", date_trunc("day", $"ts").as("day"))
        .agg(count(lit(1)).as(nCol),
          sum(dec($"value")).cast("double").as(s"${nCol}_value"))
    daily("purchase", "n_purchase")
      .join(daily("error", "n_error"), Seq("user_id", "day"), "full_outer")
  }

  val qFullOuterSql: String =
    """WITH p AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_purchase,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS n_purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |e AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_error,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS n_error_value
      |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
      |SELECT coalesce(p.user_id, e.user_id) AS user_id,
      |       coalesce(p.day, e.day) AS day,
      |       p.n_purchase, p.n_purchase_value, e.n_error, e.n_error_value
      |FROM p FULL OUTER JOIN e ON p.user_id = e.user_id AND p.day = e.day""".stripMargin

  // --------------------------------------------------------------------
  // --------------------------------------------------------------------
  // User-journey transition matrix (the first-order Markov model every
  // product-analytics engine ships as "path analysis"): per-user
  // next-event edges with ^start/^end pseudo-states (entry and exit
  // rates fall out of the same matrix), counts row-normalized into
  // transition probabilities. Scale: the lag/lead window partitions by
  // user (the sessionize shape), the edge rollup is one map-side-
  // combined hash agg, and the normalizing window runs over the
  // (|event types|+2)²-bounded matrix frame. Probabilities are one
  // long-to-double division each — engine-identical.
  def qTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .select($"event_type",
        coalesce(lag($"event_type", 1).over(w), lit("^start")).as("src"),
        lead($"event_type", 1).over(w).isNull.as("is_last"))
    val edges = ev.select($"src", $"event_type".as("dst"))
      .unionByName(ev.where($"is_last")
        .select($"event_type".as("src"), lit("^end").as("dst")))
    val g = edges.groupBy($"src", $"dst").agg(count(lit(1)).as("n_transitions"))
    g.select($"src", $"dst", $"n_transitions",
      ($"n_transitions".cast("double") /
        sum($"n_transitions").over(Window.partitionBy($"src")).cast("double"))
        .as("p"))
  }

  val qTransitionsSql: String =
    """WITH e AS (SELECT event_type,
      |             coalesce(lag(event_type) OVER w, '^start') AS src,
      |             lead(event_type) OVER w IS NULL AS is_last
      |           FROM events
      |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |edges AS (SELECT src, event_type AS dst FROM e
      |          UNION ALL SELECT event_type, '^end' FROM e WHERE is_last),
      |g AS (SELECT src, dst, count(*) AS n_transitions FROM edges GROUP BY 1, 2)
      |SELECT src, dst, n_transitions,
      |       CAST(n_transitions AS DOUBLE)
      |         / CAST(sum(n_transitions) OVER (PARTITION BY src) AS DOUBLE) AS p
      |FROM g""".stripMargin

  // --------------------------------------------------------------------
  // Journey-anomaly gate, BATCH face + committed model sidecar (review
  // r11 item 6 — the BPE precedent applied to the streaming gate's
  // model): the transition matrix the streaming gate scores against
  // (EventStream.journeyAnomalies) is committed as a parquet sidecar
  // tagged with an events-table content signature, the batch face
  // recomputes every event's flag RELATIONALLY from events + sidecar,
  // and the oracle re-derives the same flags in DuckDB from the same
  // two inputs — so the gate's decision boundary (the exact-integer
  // n·1000 < wt·thr compare) is oracle-checked, not just spec-checked.
  // Scale: the model is (|event types|+2)²-bounded (kilobytes), the
  // flag pass is one lag window + two broadcast joins — the shape of a
  // 100 TB backfill scoring job.
  //
  // 150‰ sits just above the testdata's rarest gate-visible shares
  // (133.3‰ entry edges at sf0.001/sf0.01, with view→view at 150.5‰
  // a hair OVER the cut), so the oracle compare exercises both flag
  // values AND the razor-thin boundary where only the exact-integer
  // n·1000 < wt·thr form is trustworthy.
  private[graft] val JourneyThrPerMille = 150L

  private[graft] def journeyModelPath(sfDir: String): java.nio.file.Path =
    graft.core.Scratch.dir("journey-model", sfDir)

  /** Absolute glob for the oracle SQL — derived from the same
    * Scratch.base() the writer uses (the centroid-mirror rule).
    *
    * ORDERING CONTRACT (review r12): the oracle must run AFTER the
    * sidecar is committed and while no other process is rebuilding it.
    * The rebuild window (marker deleted, dir swapped) is guarded only
    * by an in-JVM lock, so a concurrent external oracle could see a
    * zero-match glob (DuckDB hard-errors) or a sig-filtered-empty
    * model. The driver satisfies this by construction: Verify builds
    * every sidecar (running each query) before check_oracle executes
    * any SQL, and check_oracle additionally asserts the _GRAFT_COMMITTED
    * marker exists before running sidecar-backed oracles. */
  private def journeyModelGlob: String =
    graft.core.Scratch.base().resolve("journey-model").toString + "/*/*.parquet"

  /** Content signature that picks THIS corpus's matrix out of the
    * glob: Σ event_id + 1000003·count, exact integers both engines. */
  private[graft] val EventsSigSpark = "sum(event_id) + 1000003L * count(*)"
  private[graft] val EventsSigDuck =
    "SELECT CAST(sum(event_id) + 1000003 * count(*) AS BIGINT) FROM events"

  /** Build-or-reuse the committed journey matrix — (src, dst, n, wt):
    * qTransitions' edge counts (^start/^end included) plus the per-src
    * row mass wt, so the gate's rarity cut n·1000 < wt·thr is an
    * integer compare against committed longs. Verified against the
    * events signature once per (session, corpus); stale or truncated
    * sidecars rebuild (the BpeTrainer.committedMerges discipline). */
  def committedJourneyEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.StoreLayout.sigCheckedArtifact(spark, sfDir, "journey-model",
        Tables.events(spark, sfDir), EventsSigSpark) {
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val ev = Tables.events(spark, sfDir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .select($"event_type",
          coalesce(lag($"event_type", 1).over(w), lit("^start")).as("src"),
          lead($"event_type", 1).over(w).isNull.as("is_last"))
      ev.select($"src", $"event_type".as("dst"))
        .unionByName(ev.where($"is_last")
          .select($"event_type".as("src"), lit("^end").as("dst")))
        .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
        .select($"src", $"dst", $"n",
          sum($"n").over(Window.partitionBy($"src")).as("wt"))
    }.select("src", "dst", "n", "wt")

  /** Batch journey gate: every event scored against the COMMITTED
    * matrix with the streaming gate's exact rule — n = 0 (unknown
    * transition) or n·1000 < wt·[[JourneyThrPerMille]] flags anomalous;
    * wt is the source
    * state's row mass even when the (src, dst) pair is unseen, read
    * from the per-src mass projection so the face stays faithful when
    * scored events diverge from the model's corpus. */
  def qJourneyGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .select($"user_id", $"event_id",
        coalesce(lag($"event_type", 1).over(w), lit("^start")).as("src"),
        $"event_type".as("dst"))
    val m = committedJourneyEdges(spark, sfDir)
    val mass = m.select($"src", $"wt").distinct()
    ev.join(broadcast(m.select($"src", $"dst", $"n")), Seq("src", "dst"),
        "left_outer")
      .join(broadcast(mass), Seq("src"), "left_outer")
      .select($"user_id", $"event_id", $"src", $"dst",
        coalesce($"n", lit(0L)).as("n"),
        coalesce($"wt", lit(0L)).as("wt"),
        when(coalesce($"n", lit(0L)) === 0L ||
            coalesce($"n", lit(0L)) * lit(1000L) <
              coalesce($"wt", lit(0L)) * lit(JourneyThrPerMille), 1L)
          .otherwise(0L).as("is_anomalous"))
  }

  def qJourneyGateSql: String =
    s"""WITH m AS (SELECT DISTINCT src, dst, n, wt
       |           FROM read_parquet('$journeyModelGlob')
       |           WHERE corpus_sig = ($EventsSigDuck)),
       |mass AS (SELECT DISTINCT src, wt FROM m),
       |e AS (SELECT user_id, event_id,
       |        coalesce(lag(event_type)
       |          OVER (PARTITION BY user_id ORDER BY ts, event_id),
       |          '^start') AS src,
       |        event_type AS dst
       |      FROM events)
       |SELECT e.user_id, e.event_id, e.src, e.dst,
       |       CAST(coalesce(m.n, 0) AS BIGINT) AS n,
       |       CAST(coalesce(mass.wt, 0) AS BIGINT) AS wt,
       |       CAST(CASE WHEN coalesce(m.n, 0) = 0
       |                   OR coalesce(m.n, 0) * 1000
       |                        < coalesce(mass.wt, 0) * $JourneyThrPerMille
       |            THEN 1 ELSE 0 END AS BIGINT) AS is_anomalous
       |FROM e LEFT JOIN m ON e.src = m.src AND e.dst = m.dst
       |       LEFT JOIN mass ON e.src = mass.src""".stripMargin

  // --------------------------------------------------------------------
  // Journey stationary mass: 3 fixed power steps of the EXACT empirical
  // transition kernel (q_transitions' edges plus the ^end→^start
  // recycling edge that closes the chain), at parts-per-billion integer
  // scale with per-edge floor division — the qDupPagerank/qTextrank
  // bounded-iteration discipline, so every intermediate is an exact
  // long and both engines walk identical states. The readout is where
  // user attention concentrates under the observed dynamics (the
  // PageRank of the journey graph, damping-free because the recycle
  // edge already makes the chain irreducible). The final share divides
  // the exact mass by the exact total once, as doubles. All iteration
  // frames are (|event types|+2)-bounded.
  private val McScale = 1000000000L
  private val McIters = 3

  def qJourneyStationary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .select($"event_type",
        coalesce(lag($"event_type", 1).over(w), lit("^start")).as("src"),
        lead($"event_type", 1).over(w).isNull.as("is_last"))
    val raw = ev.select($"src", $"event_type".as("dst"))
      .unionByName(ev.where($"is_last")
        .select($"event_type".as("src"), lit("^end").as("dst")))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
      .unionByName(Seq(("^end", "^start", 1L)).toDF("src", "dst", "n"))
    // ONE distributed pass builds the aggregated kernel; the 3 power
    // steps then run on the driver (r17: the old per-step join+groupBy
    // chain was 9 exchanges over frames bounded by (|event types|+2)²,
    // all scheduler overhead at any scale). The bound holds by
    // construction, so there is no cap and no distributed fallback.
    val edges = raw.as[(String, String, Long)].collect()
    val rm = graft.operators.PowerIteration
      .damped(edges.toSeq, McScale, McIters, damping = 100)
    val tr = rm.valuesIterator.sum
    rm.toSeq
      .map { case (node, r) => (node, r, r.toDouble / tr.toDouble) }
      .toDF("state", "mass", "share")
  }

  val qJourneyStationarySql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (SELECT e.dst AS node,
         |  CAST(sum((CAST($prev.r AS HUGEINT) * e.n) // d.wt) AS BIGINT) AS r
         |FROM e JOIN d USING (src) JOIN $prev ON $prev.node = e.src
         |GROUP BY 1)""".stripMargin
    s"""WITH ev AS (SELECT event_type,
       |              coalesce(lag(event_type) OVER w, '^start') AS src,
       |              lead(event_type) OVER w IS NULL AS is_last
       |            FROM events
       |            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |e0 AS (SELECT src, event_type AS dst FROM ev
       |       UNION ALL SELECT event_type, '^end' FROM ev WHERE is_last),
       |e1 AS (SELECT src, dst, count(*) AS n FROM e0 GROUP BY 1, 2),
       |e AS (SELECT src, dst, CAST(n AS BIGINT) AS n FROM e1
       |      UNION ALL SELECT '^end', '^start', 1),
       |d AS (SELECT src, CAST(sum(n) AS BIGINT) AS wt FROM e GROUP BY 1),
       |r0 AS (SELECT src AS node, CAST($McScale AS BIGINT) AS r FROM d),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")},
       |tr AS (SELECT CAST(sum(r) AS BIGINT) AS tr FROM r3)
       |SELECT node AS state, r AS mass,
       |       CAST(r AS DOUBLE) / CAST(tr AS DOUBLE) AS share
       |FROM r3 CROSS JOIN tr""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_journey_gate" -> (qJourneyGate _),
    "q_journey_stationary" -> (qJourneyStationary _),
    "q_transitions" -> (qTransitions _),
    "q_scd2" -> (qScd2 _),
    "q_full_outer" -> (qFullOuter _),
    "q_event_window" -> (qEventWindow _),
    "q_running_sum" -> (qRunningSum _),
    "q_rolling_window" -> (qRollingWindow _),
    "q_lead_lag" -> (qLeadLag _),
    "q_ntile" -> (qNtile _),
    "q_rank_funcs" -> (qRankFuncs _),
    "q_first_last" -> (qFirstLast _),
    "q_gap_fill" -> (qGapFill _),
    "q_global_index" -> (qGlobalIndex _),
    "q_interpolate" -> (qInterpolate _),
    "q_mode" -> (qMode _),
    "q_funnel" -> (qFunnel _),
    "q_retention" -> (qRetention _),
    "q_redact" -> (qRedact _),
    "q_sessionize" -> (qSessionize _),
    "q_session_window" -> (qSessionWindow _),
    "q_histogram" -> (qHistogram _),
    "q_winsorize" -> (qWinsorize _),
    "q_latest_per_key" -> (qLatestPerKey _),
    "q_regex_extract" -> (qRegexExtract _),
    "q_approx_distinct" -> (qApproxDistinct _))

  val oracleSql: Map[String, String] = Map(
    "q_journey_gate" -> qJourneyGateSql,
    "q_journey_stationary" -> qJourneyStationarySql,
    "q_transitions" -> qTransitionsSql,
    "q_scd2" -> qScd2Sql,
    "q_full_outer" -> qFullOuterSql,
    "q_event_window" -> qEventWindowSql,
    "q_running_sum" -> qRunningSumSql,
    "q_rolling_window" -> qRollingWindowSql,
    "q_lead_lag" -> qLeadLagSql,
    "q_ntile" -> qNtileSql,
    "q_rank_funcs" -> qRankFuncsSql,
    "q_first_last" -> qFirstLastSql,
    "q_gap_fill" -> qGapFillSql,
    "q_global_index" -> qGlobalIndexSql,
    "q_interpolate" -> qInterpolateSql,
    "q_mode" -> qModeSql,
    "q_funnel" -> qFunnelSql,
    "q_retention" -> qRetentionSql,
    "q_redact" -> qRedactSql,
    "q_sessionize" -> qSessionizeSql,
    "q_session_window" -> qSessionWindowSql,
    "q_histogram" -> qHistogramSql,
    "q_winsorize" -> qWinsorizeSql,
    "q_latest_per_key" -> qLatestPerKeySql,
    "q_regex_extract" -> qRegexExtractSql,
    "q_approx_distinct" -> qApproxDistinctSql)
}

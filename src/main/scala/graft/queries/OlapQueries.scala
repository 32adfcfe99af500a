package graft.queries

import graft.ops.ExactAgg.{cents, exactSum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OLAP surface: multi-level aggregation (ROLLUP / CUBE / GROUPING
  * SETS), pivot, and analytic window functions — oracle-gated like every
  * other operator.
  *
  * Determinism notes:
  *   - rolled-up group labels are NULL by SQL definition; both sides
  *     COALESCE them to 'ALL' and carry an explicit grouping level so
  *     the hash never depends on engine NULL ordering;
  *   - Spark's grouping_id() is the real OLAP feature on the engine
  *     side; the oracle derives the same level from label NULLness
  *     (sound here because the grouped columns are non-null in the
  *     data);
  *   - money flows as exact DECIMAL sums (never SUM(double)), windowed
  *     sums as integer cents — bit-stable under any partial-agg or
  *     frame-evaluation order.
  *
  * Scale notes: rollup/cube run TWO-LEVEL — an ordinary partial+final
  * hash agg to the leaf groups, then the multi-grouping-set Expand over
  * the tiny leaf intermediate (Expand over the raw fact table pushes
  * levels× the rows through the aggregate); pivot with an
  * EXPLICIT value list is a single aggregate with no
  * distinct-value-discovery pass; the window query shuffles once on
  * user_id.
  */
object OlapQueries {
  import RefQueries.table

  /** `olap_rollup` — lineitem revenue at detail / returnflag / grand
    * total levels in one pass.
    *
    * Two-level spelling: aggregate to the LEAF groups first (one
    * ordinary partial+final hash agg over the fact table), then rollup
    * the leaf intermediate. Spark's ROLLUP expands each input row once
    * per grouping set in the map phase, so rolling up the raw fact
    * table pushes L× the rows through the aggregate; pre-aggregating
    * shrinks the Expand input from |fact| to |leaf groups| (6 here,
    * bounded by the group-key cross product at any scale). Exact under
    * re-aggregation: COUNT re-sums and the DECIMAL revenue sum is
    * associative — measured 1.98 → ~0.8 s on the sf0.1 sweep.
    */
  def olapRollup(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("__n"),
        // leaf keeps the DECIMAL accumulator — casting to double here
        // and re-summing doubles would reintroduce order-dependence
        sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("__rev"))
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().cast("long").as("gid"),
        sum(col("__n")).as("n_rows"),
        sum(col("__rev")).cast("double").as("revenue"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("n_rows"), col("revenue"))
      .orderBy("gid", "returnflag", "linestatus")

  val olapRollupSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       CAST(CASE WHEN l_returnflag IS NULL THEN 3
      |                 WHEN l_linestatus IS NULL THEN 1
      |                 ELSE 0 END AS BIGINT) AS gid,
      |       COUNT(*) AS n_rows,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY gid, returnflag, linestatus""".stripMargin

  /** `olap_cube` — orders counted over every subset of
    * (status, priority).
    */
  def olapCube(spark: SparkSession, sfDir: String): DataFrame =
    // same two-level shape as olapRollup: leaf hash-agg over the fact
    // table once, then CUBE's 4-way Expand runs over |leaf| rows (15
    // here), not |orders|
    table(spark, sfDir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("__n"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("__rev"))
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        grouping_id().cast("long").as("gid"),
        sum(col("__n")).as("n_orders"),
        sum(col("__rev")).cast("double").as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n_orders"), col("revenue"))
      .orderBy("gid", "status", "priority")

  val olapCubeSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       CAST(CASE WHEN o_orderstatus IS NULL AND o_orderpriority IS NULL THEN 3
      |                 WHEN o_orderstatus IS NULL THEN 2
      |                 WHEN o_orderpriority IS NULL THEN 1
      |                 ELSE 0 END AS BIGINT) AS gid,
      |       COUNT(*) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY gid, status, priority""".stripMargin

  /** `olap_grouping_sets` — explicit grouping sets through the SQL
    * parser path (the DataFrame API has no grouping-sets builder).
    */
  def olapGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    table(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin)
  }

  val olapGroupingSetsSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY status, priority""".stripMargin

  /** `olap_pivot` — per-user event counts and exact cent sums pivoted
    * across the five event types. The value list is EXPLICIT: no
    * distinct-discovery job, one aggregate, map-side combine intact.
    */
  def olapPivot(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("cents"))
      .orderBy("user_id")

  val olapPivotSql: String =
    """SELECT user_id,
      |       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
      |       CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS click_cents,
      |       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_n,
      |       CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS error_cents,
      |       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
      |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS purchase_cents,
      |       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_n,
      |       CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS signup_cents,
      |       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_n,
      |       CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS view_cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** `olap_percentile` — exact interpolated percentiles per group. Both
    * engines implement the standard continuous-quantile definition
    * (index p·(n−1) into the sorted values, linear interpolation), so
    * the doubles match bit-for-bit.
    *
    * r21 (§2 skew / §5 memory): the built-in `percentile` aggregate
    * buffers a value→count map PER GROUP in the final aggregation task
    * — 3 returnflags = 3 tasks each holding its group's whole distinct
    * value set (row-distinct for extendedprice), the
    * single-task-per-group shape that stops scaling first. Respelled
    * via [[exactQuantilesCont]]: a (group, value) histogram aggregate,
    * the grouped two-pass cumulative count, and ONE conditional-min
    * pass selecting the two neighbor values per percentile, then the
    * identical interpolation `(higher−pos)·lo + (pos−lower)·hi` (the
    * built-in's exact op sequence, incl. its lowerKey shortcuts) — the
    * same bits, no per-group buffer anywhere.
    */
  def olapPercentile(spark: SparkSession, sfDir: String): DataFrame =
    percentilesByReturnFlag(table(spark, sfDir, "lineitem"))

  /** The [[olapPercentile]] body over any lineitem-shaped frame. The
    * two quantile frames are joined null-safely (`<=>`), so a NULL
    * l_returnflag group survives, as under the built-in `groupBy`.
    */
  private[graft] def percentilesByReturnFlag(li: DataFrame): DataFrame = {
    val qty = exactQuantilesCont(
      li.select(col("l_returnflag"), col("l_quantity")),
      "l_returnflag", "l_quantity",
      Seq(0.5 -> "p50_qty", 0.9 -> "p90_qty"))
    val price = exactQuantilesCont(
      li.select(col("l_returnflag").as("__rf"), col("l_extendedprice")),
      "__rf", "l_extendedprice", Seq(0.5 -> "p50_price"))
    qty.join(price, col("l_returnflag") <=> col("__rf"))
      .select("l_returnflag", "p50_qty", "p90_qty", "p50_price")
      .orderBy("l_returnflag")
  }

  /** Exact continuous quantiles of a DOUBLE column per group, computed
    * from the (group, value) histogram instead of the built-in
    * `percentile`'s per-group value buffer — bit-identical by
    * construction: position = p·(n−1); lowerKey/higherKey are the 0-based
    * floor/ceil ranks' values (min value whose cumulative count reaches
    * rank+1 — the built-in's accumulated-counts binary search, spelled
    * as a conditional min); the interpolation reproduces the built-in's
    * `(higher−position)·lowerKey + (position−lower)·higherKey` with its
    * two lowerKey shortcuts (higher == lower; higherKey == lowerKey).
    * Scale shape: one hash aggregate to the histogram, the
    * [[graft.ops.TwoPassWindow]] grouped cumulative count (no
    * group-fat task), one aggregate pass back to one row per group.
    */
  private[graft] def exactQuantilesCont(df: DataFrame, group: String,
      value: String, ps: Seq[(Double, String)]): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    // NULL-value histogram rows are KEPT with a zeroed count: the
    // built-in percentile emits every group (NULL percentiles for an
    // all-NULL group) while ignoring NULL values in the math. A zeroed
    // count keeps the group present in one pass — NULLs sort first
    // with cumulative 0 and can never be selected (thresholds are
    // ≥ 1 whenever any value exists), the per-group n counts only
    // non-nulls, and an all-NULL group's neighbor mins come out NULL,
    // which the three-valued interpolation propagates to the output,
    // exactly the built-in's answer.
    val hist = df.groupBy(group, value).agg(count(lit(1)).as("__c0"))
      .select(col(group), col(value),
        when(col(value).isNotNull, col("__c0")).otherwise(0L).as("__c"))
    val cum = graft.ops.TwoPassWindow.withGroupedRunningSumAndTotal(
      hist, Seq(group), Seq(col(value)), col("__c"), "__cw", "__n")
    val aggs = first(col("__n")).as("__n") +:
      ps.zipWithIndex.flatMap { case ((p, _), i) =>
        val posRow = lit(p) * (col("__n") - 1).cast(DoubleType)
        Seq(
          min(when(col("__cw") >= floor(posRow).cast("long") + 1,
            col(value))).as(s"__lo$i"),
          min(when(col("__cw") >= ceil(posRow).cast("long") + 1,
            col(value))).as(s"__hi$i"))
      }
    val sel = cum.groupBy(group).agg(aggs.head, aggs.tail: _*)
    def posOut(i: Int) = lit(ps(i)._1) * (col("__n") - 1).cast(DoubleType)
    ps.zipWithIndex.foldLeft(sel) { case (acc, ((_, name), i)) =>
      acc.withColumn(name,
        when(floor(posOut(i)) === ceil(posOut(i)) ||
            col(s"__hi$i") === col(s"__lo$i"), col(s"__lo$i"))
          .otherwise((ceil(posOut(i)) - posOut(i)) * col(s"__lo$i") +
            (posOut(i) - floor(posOut(i))) * col(s"__hi$i")))
    }.select(col(group) +: ps.map { case (_, n) => col(n) }: _*)
  }

  val olapPercentileSql: String =
    """SELECT l_returnflag,
      |       quantile_cont(l_quantity, 0.5) AS p50_qty,
      |       quantile_cont(l_quantity, 0.9) AS p90_qty,
      |       quantile_cont(l_extendedprice, 0.5) AS p50_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** `olap_collect` — ordered aggregation made deterministic:
    * collect_list order is whatever the shuffle delivered, so the
    * contract is collect structs → array_sort (total struct order:
    * ts, then event_id) → project. The DuckDB twin's ORDER BY inside
    * string_agg states the same thing natively. First/last per group
    * fall out of element_at on the sorted array.
    */
  def olapCollect(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(
        col("ts_us"), col("event_id"), col("event_type")))).as("tl"))
      .select(
        col("user_id"),
        size(col("tl")).as("n_events"),
        col("tl").getItem(0).getField("event_type").as("first_type"),
        element_at(col("tl"), -1).getField("event_type").as("last_type"),
        array_join(transform(col("tl"), x => x.getField("event_type")), ",")
          .as("type_seq"))
      .orderBy("user_id")

  val olapCollectSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      |  FROM events
      |)
      |SELECT user_id,
      |       CAST(COUNT(*) AS INTEGER) AS n_events,
      |       (list(event_type ORDER BY ts_us, event_id))[1] AS first_type,
      |       (list(event_type ORDER BY ts_us, event_id))[-1] AS last_type,
      |       string_agg(event_type, ',' ORDER BY ts_us, event_id) AS type_seq
      |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin

  /** `analytics_calendar_rollup` — calendar bucketing (year/month
    * extract) with exact revenue: the date-dimension rollup every BI
    * layer needs. Plain partial+final aggregate; the date functions
    * are codegen'd column ops, identical across engines. (Formerly
    * registered as `analytics_seasonality`, where the later
    * day-of-week seasonality-index registration silently shadowed it
    * in the query Map — two operators, one name; both now live.)
    */
  def analyticsCalendarRollup(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(
        count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("revenue"))
      .orderBy("yr", "mo")

  val analyticsCalendarRollupSql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
      |       CAST(month(o_orderdate) AS INTEGER) AS mo,
      |       COUNT(*) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  /** `olap_count_distinct` — exact multi-column COUNT(DISTINCT) per
    * group. Spark plans two distinct columns via one Expand (row
    * replicated per distinct-set) + two-phase aggregate — no extra
    * shuffle per distinct column. At 100 TB the exact spelling is the
    * contract here; the approximate path (HLL approx_count_distinct)
    * trades this plan's Expand for sketch merges when a few-percent
    * error is acceptable, but its estimates are engine-specific and so
    * not oracle-comparable.
    */
  def olapCountDistinct(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val olapCountDistinctSql: String =
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_partkey) AS n_parts,
      |       COUNT(DISTINCT l_suppkey) AS n_supps,
      |       COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** `olap_topk_per_group` — top-3 parts per brand by exact revenue:
    * the rank-filter shape (window row_number ≤ k). Unlike global top-k
    * (q8's TakeOrderedAndProject) this is one shuffle on the group key
    * and a per-partition sort — the right plan when k·|groups| is far
    * larger than one node's memory but each group's candidates are not.
    * Ties break on p_partkey so both engines rank identically.
    */
  def olapTopkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = table(spark, sfDir, "lineitem")
    val p = table(spark, sfDir, "part")
    val byBrand = Window.partitionBy("p_brand")
      .orderBy(col("revenue").desc, col("p_partkey"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_partkey")
      .agg(exactSum(col("l_extendedprice")).as("revenue"))
      .withColumn("brand_rank", row_number().over(byBrand))
      .where(col("brand_rank") <= 3)
      .orderBy("p_brand", "brand_rank")
  }

  val olapTopkPerGroupSql: String =
    """SELECT p_brand, p_partkey, revenue, CAST(brand_rank AS INTEGER) AS brand_rank
      |FROM (
      |  SELECT p_brand, p_partkey,
      |         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS revenue,
      |         row_number() OVER (PARTITION BY p_brand
      |                            ORDER BY CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) DESC,
      |                                     p_partkey) AS brand_rank
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand, p_partkey
      |) WHERE brand_rank <= 3
      |ORDER BY p_brand, brand_rank""".stripMargin

  /** `analytics_window` — the analytic-function family over per-user
    * event history: lag, lead, row_number, rank, and a 3-row rolling
    * sum, all in integer cents over one shuffle on user_id.
    */
  def analyticsWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
    val rolling = byTime.rowsBetween(-2, Window.currentRow)
    val byValue = Window.partitionBy("user_id")
      .orderBy(col("cents").desc, col("event_id"))

    table(spark, sfDir, "events")
      .select(
        col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"),
        col("event_type"))
      .select(
        col("event_id"), col("user_id"), col("ts_us"), col("cents"),
        lag(col("cents"), 1).over(byTime).as("prev_cents"),
        lead(col("event_type"), 1).over(byTime).as("next_type"),
        row_number().over(byTime).as("seq"),
        sum(col("cents")).over(rolling).as("rolling3_cents"),
        rank().over(byValue).as("value_rank"))
      .orderBy("event_id")
  }

  val analyticsWindowSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |         CAST(round(value * 100) AS BIGINT) AS cents, event_type
      |  FROM events
      |)
      |SELECT event_id, user_id, ts_us, cents,
      |       lag(cents, 1) OVER wt AS prev_cents,
      |       lead(event_type, 1) OVER wt AS next_type,
      |       CAST(row_number() OVER wt AS INTEGER) AS seq,
      |       CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling3_cents,
      |       CAST(rank() OVER (PARTITION BY user_id ORDER BY cents DESC, event_id) AS INTEGER) AS value_rank
      |FROM e
      |WINDOW wt AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |ORDER BY event_id""".stripMargin

  /** `analytics_range_window` — a RANGE frame (value-based, not
    * row-count-based): per user, the exact-cents sum of events in the
    * trailing hour of EVENT TIME. Complements analytics_window's ROWS
    * frames — a RANGE frame's content depends only on the ordering
    * VALUE, so ties contribute symmetrically and the result is
    * order-insensitive by construction.
    *
    * Scale: one shuffle on user_id, per-partition sort, incremental
    * frame evaluation — same cost envelope as any keyed window.
    */
  def analyticsRangeWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byRange = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-3600000000L, 0)
    table(spark, sfDir, "events")
      .select(
        col("event_id"), col("user_id"),
        expr("ts DIV 1000").as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("trailing_1h_cents", sum("cents").over(byRange))
      .orderBy("event_id")
  }

  val analyticsRangeWindowSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |)
      |SELECT event_id, user_id, ts_us, cents,
      |       CAST(SUM(cents) OVER (PARTITION BY user_id ORDER BY ts_us
      |              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS trailing_1h_cents
      |FROM e ORDER BY event_id""".stripMargin

  /** `analytics_ntile` — distribution-rank analytics: per order
    * priority, each order's quartile (ntile(4)), percentile rank and
    * cumulative distribution by total price. The ordering key includes
    * o_orderkey so ties in price rank deterministically — ntile assigns
    * by ROW position, so an under-specified ORDER BY would hash-diverge
    * between engines.
    *
    * Scale: one shuffle on o_orderpriority + per-partition sort. Five
    * distinct priorities cap parallelism at 5 — fine for a reporting
    * rollup; the 100 TB spelling range-partitions on (priority, price)
    * and computes ntile from partition-level counts instead (the same
    * two-phase trick etl_drop_last_n uses for its global cutoff).
    */
  def analyticsNtile(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wp = Window.partitionBy("o_orderpriority")
      .orderBy(col("price_cents"), col("o_orderkey"))
    table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .withColumn("quartile", ntile(4).over(wp))
      .withColumn("pct_rank", percent_rank().over(wp))
      .withColumn("cume", cume_dist().over(wp))
      .orderBy("o_orderkey")
  }

  val analyticsNtileSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders
      |)
      |SELECT o_orderkey, o_orderpriority, price_cents,
      |       CAST(ntile(4) OVER wp AS INTEGER) AS quartile,
      |       percent_rank() OVER wp AS pct_rank,
      |       cume_dist() OVER wp AS cume
      |FROM o
      |WINDOW wp AS (PARTITION BY o_orderpriority ORDER BY price_cents, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** `analytics_anomaly` — per-group z-score outlier detection (the
    * data-quality tripwire in front of any ingest): events whose value
    * sits more than 3 population standard deviations from their
    * event_type's mean. Moments come from EXACT integer aggregates
    * (count, Σcents, Σcents² — all BIGINT, no float accumulation), so
    * mean/σ/z are single fixed-order double expressions and the 3σ cut
    * is bit-identical across engines and shuffle orders. Σcents² stays
    * well inside int64 (cents ≤ ~10⁴ ⇒ 10⁸/row ⇒ ~10¹⁸ at 10 B rows
    * per group; shard the group key before that).
    *
    * Scale: one map-side-combined hash-agg for the 5-row moment table,
    * broadcast back over the stream — a second narrow pass, no window,
    * no sort until the gate's ORDER BY.
    */
  def analyticsAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val c = table(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val moments = c.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum("cents").as("sm"),
      sum(col("cents") * col("cents")).as("ss"))
    c.join(broadcast(moments), "event_type")
      .withColumn("mean", col("sm").cast("double") / col("n"))
      .withColumn("sd",
        sqrt(col("ss").cast("double") / col("n") - col("mean") * col("mean")))
      .withColumn("z", (col("cents") - col("mean")) / col("sd"))
      .where(abs(col("z")) > 3.0)
      .select("event_id", "event_type", "cents", "z")
      .orderBy("event_id")
  }

  val analyticsAnomalySql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |), s AS (
      |  SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sm,
      |         CAST(sum(cents * cents) AS BIGINT) AS ss
      |  FROM c GROUP BY event_type
      |), z AS MATERIALIZED (
      |  SELECT event_id, event_type, cents,
      |         (cents - CAST(sm AS DOUBLE) / n)
      |           / sqrt(CAST(ss AS DOUBLE) / n
      |                  - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n)) AS z
      |  FROM c JOIN s USING (event_type)
      |)
      |SELECT event_id, event_type, cents, z FROM z
      |WHERE abs(z) > 3.0 ORDER BY event_id""".stripMargin

  /** `analytics_funnel` — ordered conversion funnel with a bounded
    * conversion window (the product-analytics staple): per user, first
    * view, then first click within 24 h OF THAT VIEW, then first
    * purchase within 24 h of that click. Emits per-user stage
    * timestamps (-1 for not-reached) and the reached stage — on this
    * corpus 150 users enter, 60 click in-window, 25 convert, so the
    * window logic demonstrably bites.
    *
    * Scale: each stage is one user-keyed aggregation over a
    * type-filtered slice joined to the previous stage's (small,
    * monotonically shrinking) user table — all three shuffles share the
    * user_id key, so AQE/co-partitioning collapses them in practice;
    * nothing is per-event stateful and no global window exists. The
    * streaming twin would be mapGroupsWithState keyed by user.
    */
  def analyticsFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val win = 24L * 3600 * 1000000
    val e = table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), expr("ts DIV 1000").as("t"))
    val s1 = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("t1"))
    val s2 = e.where(col("event_type") === "click").join(s1, "user_id")
      .where(col("t") > col("t1") && col("t") <= col("t1") + win)
      .groupBy("user_id").agg(min("t").as("t2"))
    val s3 = e.where(col("event_type") === "purchase").join(s2, "user_id")
      .where(col("t") > col("t2") && col("t") <= col("t2") + win)
      .groupBy("user_id").agg(min("t").as("t3"))
    s1.join(s2.join(s3, Seq("user_id"), "left"), Seq("user_id"), "left")
      .select(col("user_id"), col("t1").as("t1_us"),
        coalesce(col("t2"), lit(-1L)).as("t2_us"),
        coalesce(col("t3"), lit(-1L)).as("t3_us"),
        (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
          + when(col("t3").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy("user_id")
  }

  val analyticsFunnelSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
      |), s1 AS MATERIALIZED (
      |  SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
      |), s2 AS MATERIALIZED (
      |  SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND t > t1 AND t <= t1 + 86400000000
      |  GROUP BY e.user_id
      |), s3 AS (
      |  SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND t > t2 AND t <= t2 + 86400000000
      |  GROUP BY e.user_id
      |)
      |SELECT s1.user_id AS user_id, t1 AS t1_us,
      |       COALESCE(t2, -1) AS t2_us, COALESCE(t3, -1) AS t3_us,
      |       CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
      |              + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** `olap_unpivot` — wide→long reshape through the first-class
    * `Dataset.unpivot` (SQL MELT): per-returnflag metric columns become
    * (metric, value) rows. The wide frame is built with exact integer
    * cents; unpivot itself is a map-side `Expand` (rows × metrics), no
    * shuffle.
    */
  def olapUnpivot(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        sum(round(col("l_discount") * 100).cast("long")).as("disc_cents"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("qty_cents"), col("price_cents"), col("disc_cents")),
        "metric", "value_cents")
      .orderBy("l_returnflag", "metric")

  val olapUnpivotSql: String =
    """WITH w AS MATERIALIZED (
      |  SELECT l_returnflag,
      |         CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
      |         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
      |         CAST(SUM(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS disc_cents
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, 'qty_cents' AS metric, qty_cents AS value_cents FROM w
      |UNION ALL
      |SELECT l_returnflag, 'price_cents', price_cents FROM w
      |UNION ALL
      |SELECT l_returnflag, 'disc_cents', disc_cents FROM w
      |ORDER BY l_returnflag, metric""".stripMargin

  /** `olap_percentile_disc` — DISCRETE percentiles (an actual data
    * value, never an interpolation — what `percentile_disc` computes
    * and the continuous `olap_percentile` cannot give you): per
    * returnflag, the smallest price whose rank covers p·n, spelled as
    * an explicit rank selection so both engines execute the identical
    * definition in integer cents. One window + one aggregate per
    * group.
    */
  def olapPercentileDisc(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        cents(col("l_extendedprice")).as("price_c"))
    val w = Window.partitionBy("l_returnflag").orderBy("price_c")
    val n = Window.partitionBy("l_returnflag")
    val ranked = li
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(n))
    def pick(p: Double): org.apache.spark.sql.Column =
      min(when(col("rk") * 100 >= (col("n") * (p * 100).toLong), col("price_c")))
    ranked.groupBy("l_returnflag")
      .agg(
        pick(0.25).as("p25_c"), pick(0.5).as("p50_c"), pick(0.9).as("p90_c"))
      .orderBy("l_returnflag")
  }

  val olapPercentileDiscSql: String =
    """WITH li AS (
      |  SELECT l_returnflag,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c
      |  FROM lineitem
      |), r AS (
      |  SELECT l_returnflag, price_c,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY price_c) AS BIGINT) AS rk,
      |         CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
      |  FROM li
      |)
      |SELECT l_returnflag,
      |       MIN(CASE WHEN rk * 100 >= n * 25 THEN price_c END) AS p25_c,
      |       MIN(CASE WHEN rk * 100 >= n * 50 THEN price_c END) AS p50_c,
      |       MIN(CASE WHEN rk * 100 >= n * 90 THEN price_c END) AS p90_c
      |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** `olap_setsim` — exact Jaccard similarity between the user
    * populations of every event-type pair: dedupe to (type, user), one
    * self-join on user for intersections, set sizes broadcast back for
    * the union. |types|² output rows; the only data-sized shuffle is
    * the distinct, which map-side combines. The exact-pairwise cousin
    * of the sketch ops (HLL/MinHash estimate this when the pair count
    * explodes).
    */
  def olapSetsim(spark: SparkSession, sfDir: String): DataFrame = {
    val tu = table(spark, sfDir, "events")
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("sz"))
    val a = tu.select(col("event_type").as("type_a"), col("user_id"))
    val b = tu.select(col("event_type").as("type_b"), col("user_id"))
    val inter = a.join(b, "user_id")
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("sz", "sz_a")), "type_a")
      .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("sz", "sz_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("sz_a"), col("sz_b"),
        col("n_inter"),
        (col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"))
          .as("jaccard"))
      .orderBy("type_a", "type_b")
  }

  val olapSetsimSql: String =
    """WITH tu AS MATERIALIZED (
      |  SELECT DISTINCT event_type, user_id FROM events
      |), sz AS MATERIALIZED (
      |  SELECT event_type, COUNT(*) AS sz FROM tu GROUP BY event_type
      |), inter AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_inter
      |  FROM tu a JOIN tu b ON a.user_id = b.user_id
      |  WHERE a.event_type < b.event_type
      |  GROUP BY a.event_type, b.event_type
      |)
      |SELECT i.type_a, i.type_b, sa.sz AS sz_a, sb.sz AS sz_b, i.n_inter,
      |       CAST(i.n_inter AS DOUBLE) /
      |       CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
      |FROM inter i JOIN sz sa ON i.type_a = sa.event_type
      |             JOIN sz sb ON i.type_b = sb.event_type
      |ORDER BY i.type_a, i.type_b""".stripMargin

  /** `olap_skyline` — per-brand Pareto frontier: parts where no other
    * part of the brand is both cheaper AND larger (minimize price,
    * maximize size). The naive spelling is an n² dominance self-join;
    * the 2-D sweep does it in ONE brand-partitioned sort: a part is
    * dominated iff a strictly-cheaper part reaches its size
    * (`max(size) RANGE UNBOUNDED..1 PRECEDING ≥ size`) or an
    * equal-price PEER strictly exceeds it (`max(size) RANGE CURRENT
    * ROW..CURRENT ROW > size` — a RANGE current-row frame spans all
    * order-value peers, so both frames ride the SAME window sort: one
    * shuffle on brand, one sort, no self-join). At 100 TB each
    * partition's sweep is independent — the grouped skyline scales
    * with the widest group, not the table; dominance compares exact
    * integer cents, so the frontier is engine-stable.
    */
  def olapSkyline(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = table(spark, sfDir, "part").select(
      col("p_brand"), col("p_partkey"),
      cents(col("p_retailprice")).as("price_cents"),
      col("p_size").cast("long").as("psize"))
    val byPrice = Window.partitionBy("p_brand").orderBy("price_cents")
    val cheaper = byPrice.rangeBetween(Window.unboundedPreceding, -1)
    val peers = byPrice.rangeBetween(Window.currentRow, Window.currentRow)
    p.withColumn("mx_cheaper", max("psize").over(cheaper))
      .withColumn("mx_peer", max("psize").over(peers))
      .where((col("mx_cheaper").isNull || col("mx_cheaper") < col("psize")) &&
        col("mx_peer") <= col("psize"))
      .select("p_brand", "p_partkey", "price_cents", "psize")
      .transform(RefQueries.gateSort(_, "p_brand", "p_partkey"))
  }

  val olapSkylineSql: String =
    """WITH p AS MATERIALIZED (
      |  SELECT p_brand, p_partkey,
      |         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
      |         CAST(p_size AS BIGINT) AS psize
      |  FROM part
      |), w AS MATERIALIZED (
      |  SELECT *,
      |    max(psize) OVER (PARTITION BY p_brand ORDER BY price_cents
      |                     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx_cheaper,
      |    max(psize) OVER (PARTITION BY p_brand ORDER BY price_cents
      |                     RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS mx_peer
      |  FROM p
      |)
      |SELECT p_brand, p_partkey, price_cents, psize
      |FROM w
      |WHERE (mx_cheaper IS NULL OR mx_cheaper < psize) AND mx_peer <= psize
      |ORDER BY p_brand, p_partkey""".stripMargin

  // ---- relative-rank windows ------------------------------------------

  /** `olap_percent_rank` — the relative-rank window pair
    * (percent_rank, cume_dist) of account balance within each market
    * segment, for the top-20 balances per segment: the percentile-
    * position primitive under "where does this row sit in its cohort"
    * reporting. Both functions are rank-count ratios — integers divided
    * once — so the doubles are exact and engine-identical;
    * `row_number` on the (balance, custkey) total order pins ties.
    *
    * Scale: one sort-based window per segment + a rank-truncated
    * filter — the olap_topk_per_group shape with two extra ratio
    * columns.
    */
  def olapPercentRank(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("segment")
      .orderBy(desc("bal_c"), col("c_custkey"))
    table(spark, sfDir, "customer")
      .select(col("c_custkey"),
        col("c_mktsegment").as("segment"),
        cents(col("c_acctbal")).as("bal_c"))
      .withColumn("rn", row_number().over(w))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .where(col("rn") <= 20)
      .select("segment", "c_custkey", "bal_c", "rn", "pct_rank", "cume")
      .orderBy("segment", "rn")
  }

  val olapPercentRankSql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
      |  FROM customer
      |), w AS MATERIALIZED (
      |  SELECT segment, c_custkey, bal_c,
      |         row_number() OVER win AS rn,
      |         percent_rank() OVER win AS pct_rank,
      |         cume_dist() OVER win AS cume
      |  FROM c WINDOW win AS (PARTITION BY segment
      |                        ORDER BY bal_c DESC, c_custkey)
      |)
      |SELECT segment, c_custkey, bal_c, rn, pct_rank, cume
      |FROM w WHERE rn <= 20 ORDER BY segment, rn""".stripMargin

  /** `olap_ratio_to_parent` — hierarchical share-of-parent report over
    * the region → nation dimension path: each nation's order revenue,
    * its ppm share of its REGION's revenue, and the region's ppm share
    * of the GRAND total — the drill-down ratio column every BI rollup
    * renders next to the raw measure (Oracle's RATIO_TO_REPORT,
    * MDX's share-of-parent), absent from plain ROLLUP output.
    * Shares are floored integer ppm over exact cents (positive
    * operands, so Spark DIV / DuckDB // agree).
    *
    * Scale: one fact-table hash aggregate to nation grain (25 rows),
    * then dimension joins and parent shares run on the dimension-sized
    * frame — the region window is a 25-row sort. The customer→nation
    * map rides the fact aggregate as a broadcast join (dimension-sized
    * at any corpus scale).
    */
  def olapRatioToParent(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCust = table(spark, sfDir, "orders")
      .select(col("o_custkey"), cents(col("o_totalprice")).as("c"))
    val cust = table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = table(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = table(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"))
    val byNation = byCust
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey").agg(sum("c").as("nation_c"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
    // r21: the grand total was an EMPTY-partition window (Exchange
    // SinglePartition over the frame); a broadcast scalar is the same
    // exact sum with no single-task stage (§2). No persist: the fact
    // aggregate's exchange is canonically identical in both branches,
    // so ReuseExchange runs it once — and the plan pin keeps seeing
    // the dimension broadcasts (a checkpoint would hide them behind a
    // Scan ExistingRDD).
    val tot = byNation.agg(sum("nation_c").as("total_c"))
    byNation
      .withColumn("region_c",
        sum("nation_c").over(Window.partitionBy("r_regionkey")))
      .crossJoin(broadcast(tot))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        col("nation_c"), col("region_c"),
        // ppm scale through DECIMAL(38,0): region_c·10⁶ sits ~2× under
        // 2⁶³ at sf1 (the analytics_pareto overflow class) — widened
        // before it becomes the next scale factor's failure
        expr("CAST(nation_c AS DECIMAL(38,0)) * 1000000 DIV region_c")
          .as("share_of_region_ppm"),
        expr("CAST(region_c AS DECIMAL(38,0)) * 1000000 DIV total_c")
          .as("share_of_total_ppm"))
      .orderBy("region", "nation")
  }

  val olapRatioToParentSql: String =
    """WITH bn AS MATERIALIZED (
      |  SELECT c.c_nationkey,
      |         CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS nation_c
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY c.c_nationkey
      |), j AS (
      |  SELECT r.r_name AS region, n.n_name AS nation, bn.nation_c,
      |         CAST(SUM(bn.nation_c) OVER (PARTITION BY r.r_regionkey)
      |              AS BIGINT) AS region_c,
      |         CAST(SUM(bn.nation_c) OVER () AS BIGINT) AS total_c
      |  FROM bn
      |  JOIN nation n ON bn.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |)
      |SELECT region, nation, nation_c, region_c,
      |       CAST(CAST(nation_c AS HUGEINT) * 1000000 // region_c AS BIGINT)
      |         AS share_of_region_ppm,
      |       CAST(CAST(region_c AS HUGEINT) * 1000000 // total_c AS BIGINT)
      |         AS share_of_total_ppm
      |FROM j ORDER BY region, nation""".stripMargin
}

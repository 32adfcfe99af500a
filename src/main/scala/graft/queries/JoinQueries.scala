package graft.queries

import graft.ops.ExactAgg.{cents, exactSum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated queries for the join operators Spark has no built-in
  * for: as-of join and point-in-interval range join. The DuckDB twins
  * spell the same semantics as inequality joins + window dedup — fine at
  * oracle scale, quadratic at engine scale, which is exactly why the
  * Spark side uses the scalable spellings (union+window, binned join).
  */
object JoinQueries {
  import RefQueries.table

  /** `join_asof` — for each purchase event, the latest click by the same
    * user at or before the purchase (inner variant: purchases with no
    * prior click are dropped, keeping every output column non-nullable
    * so both engines land on identical pandas dtypes).
    *
    * Times flow as integer MICROSECONDS end to end: the parquet carries
    * TIMESTAMP(NANOS) (read as nano longs under nanosAsLong), DuckDB
    * reads the same file as TIMESTAMP_NS — `ts DIV 1000` here and
    * `epoch_us(ts)` there meet at the same BIGINT.
    */
  def joinAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val events = table(spark, sfDir, "events")
      .withColumn("ts_us", expr("ts DIV 1000"))
    val purchases = events.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "value")
    val clicks = events.where(col("event_type") === "click")
      .select(
        col("user_id"),
        col("ts_us").as("click_ts_us"),
        col("event_id").as("click_id"),
        col("value").as("click_value"))

    graft.ops.AsOfJoin.leftAsOf(
        purchases, clicks,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts_us", rightTime = "click_ts_us",
        rightPayload = Seq("click_id", "click_ts_us", "click_value"),
        rightTieBreak = "click_id")
      .where(col("click_id").isNotNull)
      .withColumn("gap_us", col("ts_us") - col("click_ts_us"))
      .orderBy("event_id")
  }

  val joinAsOfSql: String =
    """WITH l AS MATERIALIZED (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |  FROM events WHERE event_type = 'purchase'
      |), r AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) AS click_ts_us,
      |         event_id AS click_id, value AS click_value
      |  FROM events WHERE event_type = 'click'
      |), j AS (
      |  SELECT l.event_id, l.user_id, l.ts_us, l.value,
      |         r.click_id, r.click_ts_us, r.click_value,
      |         row_number() OVER (PARTITION BY l.event_id
      |                            ORDER BY r.click_ts_us DESC, r.click_id DESC) AS rn
      |  FROM l JOIN r ON r.user_id = l.user_id AND r.click_ts_us <= l.ts_us
      |)
      |SELECT event_id, user_id, ts_us, value,
      |       click_id, click_ts_us, click_value,
      |       ts_us - click_ts_us AS gap_us
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** `join_asof_tolerance` — the backward as-of bounded by a 1-hour
    * max gap (pandas merge_asof `tolerance`): a purchase whose latest
    * prior click is older than an hour gets NO click attribution — the
    * standard attribution-window semantics. Inner variant (unmatched
    * purchases dropped) for non-nullable dtype parity, like
    * `join_asof`. Zero extra shuffle over the plain backward join —
    * see AsOfJoin.leftAsOfTolerance for why post-filtering the latest
    * prior row is exactly tolerance semantics.
    */
  def joinAsOfTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    val events = table(spark, sfDir, "events")
      .withColumn("ts_us", expr("ts DIV 1000"))
    val purchases = events.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "value")
    val clicks = events.where(col("event_type") === "click")
      .select(
        col("user_id"),
        col("ts_us").as("click_ts_us"),
        col("event_id").as("click_id"),
        col("value").as("click_value"))
    graft.ops.AsOfJoin.leftAsOfTolerance(
        purchases, clicks,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts_us", rightTime = "click_ts_us",
        rightPayload = Seq("click_id", "click_ts_us", "click_value"),
        rightTieBreak = "click_id",
        tolerance = 3600000000L)
      .where(col("click_id").isNotNull)
      .withColumn("gap_us", col("ts_us") - col("click_ts_us"))
      .orderBy("event_id")
  }

  val joinAsOfToleranceSql: String =
    """WITH l AS MATERIALIZED (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |  FROM events WHERE event_type = 'purchase'
      |), r AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) AS click_ts_us,
      |         event_id AS click_id, value AS click_value
      |  FROM events WHERE event_type = 'click'
      |), j AS (
      |  SELECT l.event_id, l.user_id, l.ts_us, l.value,
      |         r.click_id, r.click_ts_us, r.click_value,
      |         row_number() OVER (PARTITION BY l.event_id
      |                            ORDER BY r.click_ts_us DESC, r.click_id DESC) AS rn
      |  FROM l JOIN r ON r.user_id = l.user_id AND r.click_ts_us <= l.ts_us
      |)
      |SELECT event_id, user_id, ts_us, value,
      |       click_id, click_ts_us, click_value,
      |       ts_us - click_ts_us AS gap_us
      |FROM j WHERE rn = 1 AND ts_us - click_ts_us <= 3600000000
      |ORDER BY event_id""".stripMargin

  /** `join_asof_forward` — the mirror as-of: each purchase joined to
    * the EARLIEST click at-or-after it per user (least click_id on
    * timestamp ties). Same union+window single-shuffle spelling as the
    * backward join, frame flipped (AsOfJoin.leftAsOfForward).
    */
  def joinAsOfForward(spark: SparkSession, sfDir: String): DataFrame = {
    val events = table(spark, sfDir, "events")
      .withColumn("ts_us", expr("ts DIV 1000"))
    val purchases = events.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "value")
    val clicks = events.where(col("event_type") === "click")
      .select(
        col("user_id"),
        col("ts_us").as("click_ts_us"),
        col("event_id").as("click_id"),
        col("value").as("click_value"))

    graft.ops.AsOfJoin.leftAsOfForward(
        purchases, clicks,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts_us", rightTime = "click_ts_us",
        rightPayload = Seq("click_id", "click_ts_us", "click_value"),
        rightTieBreak = "click_id")
      .where(col("click_id").isNotNull)
      .withColumn("gap_us", col("click_ts_us") - col("ts_us"))
      .orderBy("event_id")
  }

  val joinAsOfForwardSql: String =
    """WITH l AS MATERIALIZED (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |  FROM events WHERE event_type = 'purchase'
      |), r AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) AS click_ts_us,
      |         event_id AS click_id, value AS click_value
      |  FROM events WHERE event_type = 'click'
      |), j AS (
      |  SELECT l.event_id, l.user_id, l.ts_us, l.value,
      |         r.click_id, r.click_ts_us, r.click_value,
      |         row_number() OVER (PARTITION BY l.event_id
      |                            ORDER BY r.click_ts_us ASC, r.click_id ASC) AS rn
      |  FROM l JOIN r ON r.user_id = l.user_id AND r.click_ts_us >= l.ts_us
      |)
      |SELECT event_id, user_id, ts_us, value,
      |       click_id, click_ts_us, click_value,
      |       click_ts_us - ts_us AS gap_us
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** `join_asof_nearest` — the closest click to each purchase in
    * EITHER direction (AsOfJoin.leftAsOfNearest; pandas merge_asof
    * direction='nearest'): distance ties prefer the at-or-before
    * click, within-direction ties keep each direction's convention.
    * Signed gap (negative = click before purchase) pins which
    * direction won. Same single-shuffle union+two-frame spelling.
    */
  def joinAsOfNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val events = table(spark, sfDir, "events")
      .withColumn("ts_us", expr("ts DIV 1000"))
    val purchases = events.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "value")
    val clicks = events.where(col("event_type") === "click")
      .select(
        col("user_id"),
        col("ts_us").as("click_ts_us"),
        col("event_id").as("click_id"),
        col("value").as("click_value"))
    graft.ops.AsOfJoin.leftAsOfNearest(
        purchases, clicks,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts_us", rightTime = "click_ts_us",
        rightPayload = Seq("click_id", "click_ts_us", "click_value"),
        rightTieBreak = "click_id")
      .where(col("click_id").isNotNull)
      .withColumn("gap_us", col("click_ts_us") - col("ts_us"))
      .orderBy("event_id")
  }

  val joinAsOfNearestSql: String =
    """WITH l AS MATERIALIZED (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
      |  FROM events WHERE event_type = 'purchase'
      |), r AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) AS click_ts_us,
      |         event_id AS click_id, value AS click_value
      |  FROM events WHERE event_type = 'click'
      |), j AS (
      |  SELECT l.event_id, l.user_id, l.ts_us, l.value,
      |         r.click_id, r.click_ts_us, r.click_value,
      |         row_number() OVER (PARTITION BY l.event_id
      |           ORDER BY abs(r.click_ts_us - l.ts_us) ASC,
      |                    CASE WHEN r.click_ts_us <= l.ts_us THEN 0 ELSE 1 END ASC,
      |                    CASE WHEN r.click_ts_us <= l.ts_us
      |                         THEN -r.click_id ELSE r.click_id END ASC) AS rn
      |  FROM l JOIN r ON r.user_id = l.user_id
      |)
      |SELECT event_id, user_id, ts_us, value,
      |       click_id, click_ts_us, click_value,
      |       click_ts_us - ts_us AS gap_us
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** `join_range` — orders priced into 20 OVERLAPPING price bands
    * ([i·25k, i·25k+60k): each order lands in 2–3 bands, so this is a
    * genuine interval join, not a binning), aggregated per band with the
    * exact-decimal revenue sum. Band bounds derive from the band id by
    * pure integer arithmetic so both engines synthesize identical
    * DOUBLE bounds. binWidth 25k ≈ half the 60k span: each interval
    * explodes to ≤ 4 bin rows (80 total — broadcast side), and each
    * order crosses the equi-join exactly once.
    */
  def joinRange(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = table(spark, sfDir, "orders")
    val bands = spark.range(0, 20).select(
      col("id").as("band_id"),
      (col("id") * 25000).cast("double").as("lo"),
      (col("id") * 25000 + 60000).cast("double").as("hi"))

    graft.ops.RangeJoin.pointInInterval(
        orders, "o_totalprice", bands, "lo", "hi", binWidth = 25000.0)
      .groupBy("band_id", "lo", "hi")
      .agg(
        count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("revenue"))
      .orderBy("band_id")
  }

  val joinRangeSql: String =
    """WITH bands AS (
      |  SELECT i AS band_id,
      |         CAST(i * 25000 AS DOUBLE) AS lo,
      |         CAST(i * 25000 + 60000 AS DOUBLE) AS hi
      |  FROM range(0, 20) t(i)
      |)
      |SELECT band_id, lo, hi, COUNT(*) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM orders JOIN bands ON lo <= o_totalprice AND o_totalprice < hi
      |GROUP BY band_id, lo, hi ORDER BY band_id""".stripMargin

  /** `q10_semi_anti` — EXISTS / NOT EXISTS as left-semi and left-anti
    * joins: customers with at least one >400k order (semi) unioned with
    * those with none (anti), tagged. Both legs broadcast the filtered
    * order-key side (the predicate prunes orders BEFORE the join, and
    * only o_custkey survives the projection); neither leg shuffles the
    * customer side. The oracle spells the same thing as a correlated
    * EXISTS.
    */
  def q10SemiAnti(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = table(spark, sfDir, "customer")
    val bigOrders = table(spark, sfDir, "orders")
      .where(col("o_totalprice") > 400000)
      .select("o_custkey")
    val semi = customer
      .join(broadcast(bigOrders), col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("has_big_order", lit(true))
    val anti = customer
      .join(broadcast(bigOrders), col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("has_big_order", lit(false))
    semi.unionByName(anti)
      .select("c_custkey", "c_name", "has_big_order")
      .orderBy("c_custkey")
  }

  val q10SemiAntiSql: String =
    """SELECT c_custkey, c_name,
      |       EXISTS(SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c_custkey
      |                AND o.o_totalprice > 400000) AS has_big_order
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** `q11_outer_join` — left outer join where the right side is sparse
    * by construction (only >400k orders): most customers get the
    * NULL-extended row. COUNT(o_custkey) counts matched rows only (SQL
    * NULL semantics), so unmatched customers report 0, not 1; the sum
    * coalesces to an exact 0.00 on both engines. The pruned order side
    * broadcasts.
    */
  def q11OuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = table(spark, sfDir, "customer")
    val bigOrders = table(spark, sfDir, "orders")
      .where(col("o_totalprice") > 400000)
      .select("o_custkey", "o_totalprice")
    customer
      .join(broadcast(bigOrders), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey", "c_name")
      .agg(
        count(col("o_custkey")).as("n_big_orders"),
        // empty group -> NULL sum -> 0.0
        coalesce(exactSum(col("o_totalprice")), lit(0.0)).as("big_revenue"))
      .orderBy("c_custkey")
  }

  val q11OuterJoinSql: String =
    """SELECT c_custkey, c_name,
      |       COUNT(o_custkey) AS n_big_orders,
      |       COALESCE(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE), 0.0) AS big_revenue
      |FROM customer
      |LEFT OUTER JOIN (SELECT o_custkey, o_totalprice FROM orders
      |                 WHERE o_totalprice > 400000) o
      |  ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin

  /** `q12_set_ops` — INTERSECT / EXCEPT / UNION as one gated result:
    * for each part-key universe slice, a tag plus the key. Spark plans
    * INTERSECT/EXCEPT as left-semi/left-anti joins over distinct sets —
    * same broadcast shape as q10 but arrived at through the set-algebra
    * API.
    */
  def q12SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val used = table(spark, sfDir, "lineitem").select(col("l_partkey").as("key"))
    val bigParts = table(spark, sfDir, "part")
      .where(col("p_size") > 45).select(col("p_partkey").as("key"))
    val both = bigParts.intersect(used).withColumn("tag", lit("big_and_used"))
    val unused = bigParts.except(used).withColumn("tag", lit("big_unused"))
    both.unionByName(unused)
      .select("tag", "key")
      .orderBy("tag", "key")
  }

  val q12SetOpsSql: String =
    """WITH used AS MATERIALIZED (SELECT l_partkey AS key FROM lineitem),
      |     big AS MATERIALIZED (SELECT p_partkey AS key FROM part WHERE p_size > 45)
      |SELECT 'big_and_used' AS tag, key FROM (SELECT key FROM big INTERSECT SELECT key FROM used)
      |UNION ALL
      |SELECT 'big_unused' AS tag, key FROM (SELECT key FROM big EXCEPT SELECT key FROM used)
      |ORDER BY tag, key""".stripMargin

  /** `q13_star_join` — the full star topology in one query: the
    * lineitem fact joined through orders to the customer → nation →
    * region dimension chain, rolled up to revenue per region.
    *
    * Scale shape: exactly ONE shuffle join (fact ⋈ orders, both
    * fact-sized, keyed on orderkey) — every dimension hop after it is
    * an explicit broadcast, so the 100 TB plan is scan → shuffle →
    * three map-side hash joins → partial+final agg over 5 groups. This
    * is the plan Catalyst's join reorder should find on its own from
    * statistics; the hints pin it so a stats-less session (plain
    * parquet, no ANALYZE) can't degrade to sort-merge against a
    * 25-row table.
    */
  def q13StarJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val orders = table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = table(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    val region = table(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"))
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_extendedprice"))).as("revenue_cents"))
      .orderBy("r_name")
  }

  val q13StarJoinSql: String =
    """SELECT r.r_name, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |         AS revenue_cents
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_name ORDER BY r_name""".stripMargin

  /** `q14_correlated` — correlated scalar subquery: orders priced above
    * 1.5× their own customer's average order. Catalyst decorrelates
    * this into an aggregate + join (no per-row re-execution — the
    * rewrite that makes correlated SQL survive at scale); the oracle
    * runs the identical SQL text in DuckDB. The average uses the
    * exact-decimal-sum spelling so the 1.5× comparison is
    * bit-deterministic.
    */
  def q14Correlated(spark: SparkSession, sfDir: String): DataFrame = {
    table(spark, sfDir, "orders").createOrReplaceTempView("orders")
    spark.sql(q14CorrelatedSql)
  }

  val q14CorrelatedSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > CAST(1.5 AS DOUBLE) * (
      |  SELECT CAST(CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE)
      |         / COUNT(*)
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** `join_bucketed` — the co-located join: customer and orders written
    * as 8-bucket tables on the join key, then sort-merge joined with
    * ZERO shuffle exchange (the plan contract ScaleToolkitSpec asserts;
    * this query puts the same machinery under the value-hash gate). At
    * 100 TB bucketing is what turns every repeated fact⋈fact join from
    * a full shuffle into a local merge — the write pays the shuffle
    * once, every subsequent join rides it. Table names are pid-keyed so
    * concurrent verify/bench sessions don't clobber each other's
    * catalog entries.
    */
  def joinBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val pid = ProcessHandle.current().pid()
    val (ct, ot) = (s"cust_bkt_$pid", s"ord_bkt_$pid")
    try {
      // the one shared bucketed-write path (BucketedTables): pid-keyed
      // names rarely orphan, but a crashed prior run of the SAME pid
      // range would otherwise die on LOCATION_ALREADY_EXISTS — and two
      // spellings of the same write is drift waiting to happen
      graft.sources.BucketedTables.writeBucketed(
        table(spark, sfDir, "customer"), ct, "c_custkey", buckets = 8,
        source = Some(sfDir))
      graft.sources.BucketedTables.writeBucketed(
        table(spark, sfDir, "orders"), ot, "o_custkey", buckets = 8,
        source = Some(sfDir))
      val result = spark.table(ct).hint("merge")
        .join(spark.table(ot), col("c_custkey") === col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          exactSum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
      // materialize BEFORE dropping: the grouped result is bounded by
      // distinct c_mktsegment (5 in TPC-H-shaped data), so localizing it
      // is O(segments), not O(rows) — and it frees the tables for an
      // eager inline DROP. The earlier spelling returned the lazy plan
      // and deferred the drop to a JVM shutdown hook, which fired after
      // the driver's spark.stop() and silently failed — the pid-keyed
      // table pair leaked in the normal, non-crash path.
      val rows = result.collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), result.schema)
    } finally
      // per-table try: one failed DROP (metastore hiccup) must not skip
      // the remaining table
      Seq(ct, ot).foreach(t =>
        try spark.sql(s"DROP TABLE IF EXISTS $t")
        catch { case scala.util.control.NonFatal(_) => () })
  }

  val joinBucketedSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
}

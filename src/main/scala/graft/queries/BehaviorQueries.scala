package graft.queries

import graft.ops.ExactAgg
import graft.ops.Persist.PersistOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-behavior analytics over the `events` stream table and the
  * `orders` fact: cohort retention, RFM segmentation, per-user modal
  * behavior, exponentially-weighted smoothing, and value histograms —
  * the everyday product-analytics layer a warehouse team runs on top
  * of the reference's wage views (analysis.ipynb cell 4 is exactly a
  * "aggregate then rank" report; these are its event-stream cousins).
  *
  * Determinism notes (shared with the rest of the suite):
  *   - `events.ts` is TIMESTAMP(NANOS) parquet, surfaced as a nano
  *     long under `nanosAsLong`; every query converts via integer
  *     `div` (never double division) to microseconds or epoch days,
  *     matching DuckDB's `epoch_us` floor semantics;
  *   - money/value flows as integer cents via DECIMAL casts, so no
  *     hash can drift on float summation order;
  *   - EWMA is kept rational: the weighted numerator and denominator
  *     are emitted as two exact integers instead of dividing, because
  *     integer-division rounding (trunc vs floor) is the one place
  *     engines disagree.
  */
object BehaviorQueries {
  import RefQueries.table

  /** Event time in exact integer microseconds (ts is a nano long). */
  private def eventsUs(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .withColumn("us", expr("ts div 1000").cast("long"))

  private val UsPerDay = 86400000000L

  /** Exact integer cents (same spelling as StatQueries.cents). */
  private def cents(c: Column): Column =
    round(c * 100, 0).cast(org.apache.spark.sql.types.LongType)

  /** `analytics_cumulative_distinct` — running unique-user count per
    * day (the growth-chart number). A cumulative COUNT DISTINCT has no
    * decomposable window frame, so the distributable spelling is the
    * FIRST-SEEN trick: min(day) per user (one user-keyed hash agg),
    * count those per day (a second tiny agg), then one running sum
    * over the O(days) day table — the only non-distributed piece is a
    * window over a few hundred day rows. Days with events but no new
    * users still emit (left join against the distinct active-day
    * table, COALESCE 0).
    */
  def analyticsCumulativeDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val byDay = eventsUs(spark, sfDir)
      .select(col("user_id"), expr(s"us div $UsPerDay").cast("long").as("day"))
    val newPerDay = byDay
      .groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val days = byDay.select("day").distinct()
      .join(newPerDay, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
    // the day table is calendar-bounded (the event span), so the running
    // sum is the twin's plain window (TwoPassWindow's size rule)
    days.withColumn("cum_users", sum(col("new_users")).over(
        Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("day")
  }

  val analyticsCumulativeDistinctSql: String =
    """WITH byday AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), firstseen AS (
      |  SELECT user_id, MIN(day) AS day FROM byday GROUP BY user_id
      |), newperday AS (
      |  SELECT day, COUNT(*) AS new_users FROM firstseen GROUP BY day
      |)
      |SELECT d.day,
      |       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
      |       CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
      |FROM (SELECT DISTINCT day FROM byday) d
      |LEFT JOIN newperday n USING (day)
      |ORDER BY d.day""".stripMargin

  /** `analytics_seasonality` — weekday revenue profile per event type:
    * events and cents by day-of-week, plus a 1e6-scaled seasonality
    * index (weekday mean ÷ overall mean). The weekday is PURE INTEGER
    * arithmetic — (epoch_day + 4) mod 7, anchored on 1970-01-01 being
    * a Thursday — never an engine date function (locale-dependent
    * week-start conventions are exactly the cross-engine trap).
    * The index divides via milli-cent averages (two integral DIVs,
    * identical flooring both engines).
    *
    * Scale: one (type, dow) hash aggregate — 7×|types| groups — with
    * per-type totals rejoined broadcast.
    */
  def analyticsSeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val base = eventsUs(spark, sfDir)
      .select(col("event_type"),
        ((expr(s"us div $UsPerDay") + 4) % 7).cast("long").as("dow"),
        cents(col("value")).as("c"))
    val byDow = base.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("sum_c"))
    val tot = byDow.groupBy("event_type")
      .agg(sum(col("n_events")).as("tot_n"), sum(col("sum_c")).as("tot_c"))
    byDow.join(broadcast(tot), "event_type")
      // ×1000 over SUMMED cents routes through DECIMAL(38,0) — the
      // analytics_pareto overflow class (GateHygieneSpec):
      // tot_c·10³ clears 2⁶³ around ~10³× the sf1 event volume. The
      // DIV lands back in LONG, so downstream algebra is unchanged.
      .withColumn("dow_avg_mc",
        expr("CAST(sum_c AS DECIMAL(38,0)) * 1000 DIV n_events"))
      .withColumn("all_avg_mc",
        expr("CAST(tot_c AS DECIMAL(38,0)) * 1000 DIV tot_n"))
      // the second step widens TOO (r17 advice): the twin's chain is
      // HUGEINT end-to-end, so leaving dow_avg_mc·10⁶ in LONG would
      // ANSI-error on Spark's side alone once average milli-cents
      // clear ~9.2e12 — a loud gate DIVERGENCE (oracle returns, engine
      // throws) rather than a shared loud failure. Post-aggregate
      // site: 7×|types| rows, decimal cost immaterial.
      .select(col("event_type"), col("dow"), col("n_events"), col("sum_c"),
        expr("(CAST(dow_avg_mc AS DECIMAL(38,0)) * 1000000)" +
          " DIV all_avg_mc").as("index_1e6"))
      .orderBy("event_type", "dow")
  }

  val analyticsSeasonalitySql: String =
    """WITH base AS (
      |  SELECT event_type,
      |         (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
      |         CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events
      |), bydow AS MATERIALIZED (
      |  SELECT event_type, dow, COUNT(*) AS n_events,
      |         CAST(SUM(c) AS BIGINT) AS sum_c
      |  FROM base GROUP BY 1, 2
      |), tot AS (
      |  SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS tot_n,
      |         CAST(SUM(sum_c) AS BIGINT) AS tot_c
      |  FROM bydow GROUP BY event_type
      |)
      |SELECT b.event_type, CAST(b.dow AS BIGINT) AS dow, b.n_events, b.sum_c,
      |       CAST(((CAST(b.sum_c AS HUGEINT) * 1000 // b.n_events) * 1000000)
      |            // (CAST(t.tot_c AS HUGEINT) * 1000 // t.tot_n) AS BIGINT) AS index_1e6
      |FROM bydow b JOIN tot t USING (event_type)
      |ORDER BY b.event_type, b.dow""".stripMargin

  /** `analytics_cohort` — classic retention triangle: users grouped by
    * the day of their first event, counted on each subsequent active
    * day. Pipeline: dedupe to (user, active-day) pairs, window-min for
    * the cohort day, aggregate (cohort, offset).
    *
    * Scale: the dedupe and the window both hash-partition on user_id —
    * AQE coalesces them into one exchange reuse — and the final
    * aggregate's key space is tiny (days × offsets), so the last
    * shuffle moves almost nothing after map-side combine. No driver
    * collection anywhere; at 100 TB the (user, day) dedupe is the only
    * real shuffle and it's over pre-combined partial distincts.
    */
  def analyticsCohort(spark: SparkSession, sfDir: String): DataFrame = {
    val days = eventsUs(spark, sfDir)
      .select(col("user_id"), expr(s"us div $UsPerDay").cast("long").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id")
    // rows are unique per (user, day) and cohort is functionally
    // dependent on user, so count(*) below IS distinct-user count
    days
      .withColumn("cohort", min(col("day")).over(w))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .select(
        date_format(timestamp_micros(col("cohort") * UsPerDay), "yyyy-MM-dd")
          .as("cohort_date"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_date", "day_offset")
  }

  val analyticsCohortSql: String =
    """WITH days AS MATERIALIZED (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |), c AS MATERIALIZED (
      |  SELECT user_id, day,
      |         MIN(day) OVER (PARTITION BY user_id) AS cohort
      |  FROM days
      |)
      |SELECT strftime(to_timestamp(cohort * 86400), '%Y-%m-%d') AS cohort_date,
      |       day - cohort AS day_offset,
      |       COUNT(*) AS n_users
      |FROM c
      |GROUP BY cohort, day - cohort
      |ORDER BY cohort_date, day_offset""".stripMargin

  /** `analytics_cohort_ltv` — the monetary companion of
    * [[analyticsCohort]]'s retention triangle: per signup cohort
    * (first-event day) and day offset, the period purchase revenue,
    * the RUNNING cumulative revenue, and LTV-per-cohort-user in
    * millicents — the curve a growth team actually reads ("day-7 LTV
    * by cohort"). Revenue is exact integer cents; the per-user divide
    * is integer millicents (positive DIV, engines agree); the
    * cumulative is a window sum over the O(cohorts × offsets) rollup,
    * not over events.
    *
    * Scale: one (user, day) revenue pre-aggregate + the same user-
    * partitioned first-day window as the retention triangle (AQE
    * reuses the exchange), then windows over a calendar-bounded frame.
    */
  def analyticsCohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsUs(spark, sfDir)
      .select(col("user_id"), expr(s"us div $UsPerDay").cast("long").as("day"),
        when(col("event_type") === "purchase", cents(col("value")))
          .otherwise(0L).as("c"))
    val perUserDay = ev.groupBy("user_id", "day").agg(sum("c").as("rev_c"))
    val w = Window.partitionBy("user_id")
    val withCohort = perUserDay
      .withColumn("cohort", min(col("day")).over(w))
    val sizes = withCohort.select("user_id", "cohort").distinct()
      .groupBy("cohort").agg(count(lit(1)).as("n_cohort_users"))
    val rolled = withCohort
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
      .agg(sum("rev_c").as("period_rev_c"))
    val cw = Window.partitionBy("cohort").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    rolled
      .withColumn("cum_rev_c", sum("period_rev_c").over(cw))
      .join(broadcast(sizes), "cohort")
      .select(
        date_format(timestamp_micros(col("cohort") * UsPerDay), "yyyy-MM-dd")
          .as("cohort_date"),
        col("day_offset"), col("n_cohort_users"), col("period_rev_c"),
        col("cum_rev_c"),
        // cumulative cents ×10³ → DECIMAL(38,0): the analytics_pareto
        // overflow class (GateHygieneSpec); DIV returns LONG
        expr("CAST(cum_rev_c AS DECIMAL(38,0)) * 1000 DIV n_cohort_users")
          .as("ltv_mc"))
      .orderBy("cohort_date", "day_offset")
  }

  val analyticsCohortLtvSql: String =
    """WITH pud AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         CAST(SUM(CASE WHEN event_type = 'purchase'
      |                       THEN CAST(round(value * 100) AS BIGINT)
      |                       ELSE 0 END) AS BIGINT) AS rev_c
      |  FROM events GROUP BY 1, 2
      |), c AS MATERIALIZED (
      |  SELECT user_id, day, rev_c,
      |         MIN(day) OVER (PARTITION BY user_id) AS cohort
      |  FROM pud
      |), sizes AS (
      |  SELECT cohort, COUNT(DISTINCT user_id) AS n_cohort_users
      |  FROM c GROUP BY cohort
      |), rolled AS (
      |  SELECT cohort, day - cohort AS day_offset,
      |         CAST(SUM(rev_c) AS BIGINT) AS period_rev_c
      |  FROM c GROUP BY cohort, day - cohort
      |), cum AS MATERIALIZED (
      |  SELECT cohort, day_offset, period_rev_c,
      |         CAST(SUM(period_rev_c) OVER (PARTITION BY cohort
      |              ORDER BY day_offset ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS cum_rev_c
      |  FROM rolled
      |)
      |SELECT strftime(to_timestamp(cohort * 86400), '%Y-%m-%d') AS cohort_date,
      |       cum.day_offset, s.n_cohort_users, cum.period_rev_c,
      |       cum.cum_rev_c,
      |       CAST(CAST(cum.cum_rev_c AS HUGEINT) * 1000 // s.n_cohort_users
      |            AS BIGINT) AS ltv_mc
      |FROM cum JOIN sizes s USING (cohort)
      |ORDER BY cohort_date, day_offset""".stripMargin

  /** `analytics_growth_accounting` — the standard DAU growth-accounting
    * decomposition (the a16z "quick ratio" table): every (user, day)
    * activity classified as NEW (first day ever), RETAINED (also active
    * the previous day), or RESURRECTED (active today, silent yesterday,
    * seen before), plus CHURNED counted on the first missing day —
    * satisfying the identity active(d) = new + retained + resurrected
    * and active(d) − active(d−1) = new + resurrected − churned, which
    * the spec asserts day by day. Quick ratio = (new + resurrected) /
    * churned in floored ppm (churn-0 days guarded with GREATEST 1).
    *
    * Scale: one (user, day) dedupe, a per-user first-day window, and
    * two self-equi-joins on (user, day±1) — all hash-partitioned on
    * user_id, AQE-reusable; the daily rollup is calendar-bounded.
    */
  def analyticsGrowthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    val days = eventsUs(spark, sfDir)
      .select(col("user_id"), expr(s"us div $UsPerDay").cast("long").as("day"))
      .distinct()
      .truncateLineage(true)
    val w = Window.partitionBy("user_id")
    val flagged = days.withColumn("first_day", min("day").over(w))
    val prev = days.select(col("user_id"), (col("day") + 1).as("day"),
      lit(1L).as("had_prev"))
    val next = days.select(col("user_id"), (col("day") - 1).as("day"),
      lit(1L).as("has_next"))
    val maxDay = days.agg(max("day").as("max_day"))
    val classed = flagged
      .join(prev, Seq("user_id", "day"), "left")
      .withColumn("cls",
        when(col("day") === col("first_day"), "new")
          .when(col("had_prev").isNotNull, "retained")
          .otherwise("resurrected"))
    val activity = classed.groupBy("day").agg(
      count(lit(1)).as("n_active"),
      sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
        .as("n_resurrected"))
    val churned = days
      .join(next, Seq("user_id", "day"), "left")
      .crossJoin(broadcast(maxDay))
      .where(col("has_next").isNull && col("day") < col("max_day"))
      .groupBy((col("day") + 1).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    activity
      .join(churned, Seq("day"), "full")
      .select(col("day"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .withColumn("quick_ratio_ppm",
        expr("(n_new + n_resurrected) * 1000000L div greatest(n_churned, 1L)"))
      .orderBy("day")
  }

  val analyticsGrowthAccountingSql: String =
    """WITH days AS MATERIALIZED (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events
      |), f AS MATERIALIZED (
      |  SELECT user_id, day,
      |         MIN(day) OVER (PARTITION BY user_id) AS first_day
      |  FROM days
      |), classed AS (
      |  SELECT f.day,
      |         CASE WHEN f.day = f.first_day THEN 'new'
      |              WHEN p.user_id IS NOT NULL THEN 'retained'
      |              ELSE 'resurrected' END AS cls
      |  FROM f LEFT JOIN days p
      |    ON p.user_id = f.user_id AND p.day = f.day - 1
      |), activity AS (
      |  SELECT day, COUNT(*) AS n_active,
      |         CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_new,
      |         CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_retained,
      |         CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_resurrected
      |  FROM classed GROUP BY day
      |), churned AS (
      |  SELECT d.day + 1 AS day, COUNT(*) AS n_churned
      |  FROM days d
      |  LEFT JOIN days n ON n.user_id = d.user_id AND n.day = d.day + 1
      |  WHERE n.user_id IS NULL AND d.day < (SELECT MAX(day) FROM days)
      |  GROUP BY d.day + 1
      |)
      |SELECT COALESCE(a.day, c.day) AS day,
      |       COALESCE(a.n_active, 0) AS n_active,
      |       COALESCE(a.n_new, 0) AS n_new,
      |       COALESCE(a.n_retained, 0) AS n_retained,
      |       COALESCE(a.n_resurrected, 0) AS n_resurrected,
      |       COALESCE(c.n_churned, 0) AS n_churned,
      |       CAST((COALESCE(a.n_new, 0) + COALESCE(a.n_resurrected, 0))
      |            * 1000000 // greatest(COALESCE(c.n_churned, 0), 1)
      |            AS BIGINT) AS quick_ratio_ppm
      |FROM activity a FULL OUTER JOIN churned c ON a.day = c.day
      |ORDER BY day""".stripMargin

  /** `analytics_decile_lift` — the cumulative-gains ("lift") table:
    * customers ranked by order revenue into deciles (ntile ties broken
    * on the key, the RFM doctrine), each reporting its revenue share
    * and the RUNNING cumulative share in floored ppm — the table every
    * targeting/model evaluation reads ("the top decile holds X% of
    * value"), the tabular form of the Lorenz curve whose scalar
    * summaries (`analytics_gini`, `analytics_pareto`) already ship.
    * Integer cents end to end; shares are positive-DIV ppm with the
    * ×10⁶ step widened to DECIMAL(38,0)/HUGEINT — cents·10⁶ measured a
    * long overflow at sf1 (the analytics_pareto finding).
    *
    * Scale: one fact aggregate to customer grain, one global ntile
    * over the DIMENSION-sized frame (the honest cost of exact decile
    * labels — see analyticsRfm's note), then a 10-row rollup.
    */
  def analyticsDecileLift(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = table(spark, sfDir, "orders")
      .groupBy("o_custkey")
      .agg(sum(ExactAgg.cents(col("o_totalprice"))).as("rev_c"))
    // r21: exact deciles via the two-pass global ntile (the O(customers)
    // frame previously sorted through ONE task; §2 offset correction).
    // The prefix/total over the TEN decile rows is one broadcast
    // self-join with a conditional sum — same integers (decile unique
    // per row), no window machinery, no single-task stage.
    val deciles = graft.ops.TwoPassWindow.withNtile(perCust, 10,
        Seq(col("rev_c").desc, col("o_custkey")), "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("rev_c").as("decile_rev_c"))
      .persistIntermediate // scanned by both sides of the 10-row join
    deciles.join(broadcast(deciles.select(col("decile").as("bd"),
        col("decile_rev_c").as("bc"))), lit(true))
      .groupBy("decile", "n_customers", "decile_rev_c")
      .agg(sum(when(col("bd") <= col("decile"), col("bc"))).as("cum_rev_c"),
        sum("bc").as("total_c"))
      .select(col("decile"), col("n_customers"), col("decile_rev_c"),
        expr("CAST(decile_rev_c AS DECIMAL(38,0)) * 1000000 DIV total_c")
          .as("share_ppm"),
        expr("CAST(cum_rev_c AS DECIMAL(38,0)) * 1000000 DIV total_c")
          .as("cum_share_ppm"))
      .orderBy("decile")
  }

  val analyticsDecileLiftSql: String =
    """WITH pc AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
      |              AS BIGINT) AS rev_c
      |  FROM orders GROUP BY o_custkey
      |), dd AS (
      |  SELECT CAST(ntile(10) OVER (ORDER BY rev_c DESC, o_custkey)
      |              AS BIGINT) AS decile, rev_c
      |  FROM pc
      |), agg AS (
      |  SELECT decile, COUNT(*) AS n_customers,
      |         CAST(SUM(rev_c) AS BIGINT) AS decile_rev_c
      |  FROM dd GROUP BY decile
      |), cum AS MATERIALIZED (
      |  SELECT decile, n_customers, decile_rev_c,
      |         CAST(SUM(decile_rev_c) OVER (ORDER BY decile
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_c,
      |         CAST(SUM(decile_rev_c) OVER () AS BIGINT) AS total_c
      |  FROM agg
      |)
      |SELECT decile, n_customers, decile_rev_c,
      |       CAST(CAST(decile_rev_c AS HUGEINT) * 1000000 // total_c
      |            AS BIGINT) AS share_ppm,
      |       CAST(CAST(cum_rev_c AS HUGEINT) * 1000000 // total_c
      |            AS BIGINT) AS cum_share_ppm
      |FROM cum ORDER BY decile""".stripMargin

  /** `analytics_rfm` — recency/frequency/monetary quintile segmentation
    * of customers from their order history, the standard CRM cut.
    * Recency anchors on a FIXED literal date (2001-09-01, just past the
    * generated order range) — never now(), for replayability.
    *
    * Scale: one aggregate over the fact shrinks input to one row per
    * customer; the three global ntile windows then run over a
    * DIMENSION-sized frame (customers ≪ orders), which is the honest
    * cost of exact quantile labels. If the segmented entity were
    * fact-sized, the spelling changes to percentile boundaries
    * (one aggregate) broadcast against the rows — approximate at the
    * bucket edges but shuffle-free; exact ntile needs the total order.
    * Every ntile ORDER BY ends in the key, so bucket assignment is
    * deterministic under ties cross-engine (ntile is purely
    * row-order-driven in both engines).
    */
  def analyticsRfm(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = table(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        datediff(to_date(lit("2001-09-01")), max(to_date(col("o_orderdate"))))
          .cast("long").as("rec_days"),
        count(lit(1)).as("freq"),
        sum(ExactAgg.cents(col("o_totalprice"))).as("mon_cents"))
    // r21: the three exact quintile labels run as two-pass global
    // ntiles (§2 offset correction) — the O(customers) frame previously
    // made three trips through ONE task; each label now costs one range
    // exchange + a pid-partitioned window
    import graft.ops.TwoPassWindow.withNtile
    val scored = withNtile(withNtile(withNtile(perCust,
      5, Seq(col("rec_days"), col("o_custkey")), "r"),
      5, Seq(col("freq").desc, col("o_custkey")), "f"),
      5, Seq(col("mon_cents").desc, col("o_custkey")), "m")
    scored
      .select(col("o_custkey"), col("rec_days"), col("freq"), col("mon_cents"),
        col("r"), col("f"), col("m"))
      .withColumn("segment", concat(lit("R"), col("r"), lit("F"), col("f"),
        lit("M"), col("m")))
      .orderBy("o_custkey")
  }

  val analyticsRfmSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey,
      |         CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
      |                        DATE '2001-09-01') AS BIGINT) AS rec_days,
      |         COUNT(*) AS freq,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |           AS mon_cents
      |  FROM orders GROUP BY o_custkey
      |), scored AS (
      |  SELECT o_custkey, rec_days, freq, mon_cents,
      |         CAST(ntile(5) OVER (ORDER BY rec_days, o_custkey) AS BIGINT) AS r,
      |         CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f,
      |         CAST(ntile(5) OVER (ORDER BY mon_cents DESC, o_custkey) AS BIGINT) AS m
      |  FROM per_cust
      |)
      |SELECT o_custkey, rec_days, freq, mon_cents, r, f, m,
      |       'R' || r || 'F' || f || 'M' || m AS segment
      |FROM scored ORDER BY o_custkey""".stripMargin

  /** `olap_mode` — exact per-group mode (most frequent event_type per
    * user), tie-broken to the lexicographically smallest type so the
    * answer is a function of the data, not of scan order. Count-then-
    * rank: one hash aggregate on (user, type), one window on user —
    * the exact-mode shape that scales (the group cardinality is
    * users × 5 types, far smaller than the event count after map-side
    * combine). Spark's native `mode()` agg is order-nondeterministic on
    * ties, hence the explicit spelling.
    */
  def olapMode(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = table(spark, sfDir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("n_events").desc, col("event_type"))
    counts
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("n_events"))
      .orderBy("user_id")
  }

  val olapModeSql: String =
    """WITH counts AS (
      |  SELECT user_id, event_type, COUNT(*) AS n_events
      |  FROM events GROUP BY user_id, event_type
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |            ORDER BY n_events DESC, event_type) AS rn
      |  FROM counts
      |)
      |SELECT user_id, event_type AS mode_type, n_events
      |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** `analytics_ewma` — exponentially weighted moving average of each
    * user's event value, alpha = 1/2 over a trailing-4 frame, spelled
    * as explicit lags with power-of-two weights (8,4,2,1). The result
    * is emitted as an exact integer numerator/denominator pair rather
    * than divided: cents are < 2^36, the weighted sum adds 3 more
    * bits, so both integers are exact in 64-bit — and skipping the
    * division sidesteps the one genuine cross-engine hazard (integer
    * division rounding direction).
    *
    * Scale: a single window shuffle on user_id; lag frames are O(1)
    * state per row. The trailing-K spelling (vs. unbounded recursive
    * EWMA) is what makes the operator embarrassingly parallel — an
    * unbounded EWMA is a sequential scan per key by definition.
    */
  def analyticsEwma(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val cents = ExactAgg.cents(col("value"))
    val e = eventsUs(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("us"), cents.as("cents"))
    val l1 = lag(col("cents"), 1).over(w)
    val l2 = lag(col("cents"), 2).over(w)
    val l3 = lag(col("cents"), 3).over(w)
    e.select(
      col("user_id"), col("event_id"), col("cents"),
      (col("cents") * 8 + coalesce(l1, lit(0L)) * 4 +
        coalesce(l2, lit(0L)) * 2 + coalesce(l3, lit(0L))).as("ewma_num"),
      (lit(8L) + when(l1.isNull, 0L).otherwise(4L) +
        when(l2.isNull, 0L).otherwise(2L) +
        when(l3.isNull, 0L).otherwise(1L)).as("ewma_den"))
      .orderBy("user_id", "event_id")
  }

  val analyticsEwmaSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events
      |), lagged AS (
      |  SELECT user_id, event_id, cents,
      |         lag(cents, 1) OVER w AS l1,
      |         lag(cents, 2) OVER w AS l2,
      |         lag(cents, 3) OVER w AS l3
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |)
      |SELECT user_id, event_id, cents,
      |       cents * 8 + COALESCE(l1, 0) * 4 + COALESCE(l2, 0) * 2
      |         + COALESCE(l3, 0) AS ewma_num,
      |       8 + CASE WHEN l1 IS NULL THEN 0 ELSE 4 END
      |         + CASE WHEN l2 IS NULL THEN 0 ELSE 2 END
      |         + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END AS ewma_den
      |FROM lagged ORDER BY user_id, event_id""".stripMargin

  /** `olap_histogram` — equi-width value histogram per event type,
    * bucket width 50.00 in exact integer cents (cents div 5000 — both
    * operands non-negative here, so trunc-vs-floor division semantics
    * coincide across engines). One hash aggregate with map-side
    * combine; the output key space is types × buckets, constant in
    * data size — the cheapest possible distribution profile at 100 TB.
    */
  def olapHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = ExactAgg.cents(col("value"))
    table(spark, sfDir, "events")
      .select(col("event_type"), cents.as("cents"))
      .groupBy(col("event_type"), expr("cents div 5000").as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"), col("bucket"),
        (col("bucket") * 50).as("bucket_lo"), col("n_events"))
      .orderBy("event_type", "bucket")
  }

  val olapHistogramSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000 AS bucket
      |  FROM events
      |)
      |SELECT event_type, bucket, bucket * 50 AS bucket_lo,
      |       COUNT(*) AS n_events
      |FROM e GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin

  /** `analytics_markov` — first-order Markov transition matrix over
    * each user's event-type sequence: counts and exact-division
    * probabilities for every (from → to) pair. The lag comes from one
    * window over (user_id; us, event_id) — event_id breaks timestamp
    * ties deterministically — and the matrix aggregate's key space is
    * |types|², constant in data size. At 100 TB this is one shuffle on
    * user_id (the same partitioning sessionization uses) plus a
    * map-side-combined aggregate: the canonical clickstream shape.
    */
  def analyticsMarkov(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = transitionCounts(spark, sfDir)
    val totals = pairs.groupBy("from_type").agg(sum("n").as("n_from"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** (from_type, to_type, n): each user's consecutive event-type pairs
    * counted per cell — the chain both [[analyticsMarkov]] and
    * [[analyticsMarkovStationary]] read.
    */
  private def transitionCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    eventsUs(spark, sfDir)
      .select(col("user_id"), col("us"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  private val StationaryRounds = 6

  /** The most transition cells [[analyticsMarkovStationary]] fetches to
    * the driver: the chain is |event types|² cells (25 on every corpus
    * here), so more than this is a broken categorical domain.
    */
  private val StationaryCellBound = 100000L

  /** `analytics_markov_stationary` — the stationary distribution of
    * [[analyticsMarkov]]'s event-type chain by fixed-round power
    * iteration (the pagerank unroll doctrine): transition probabilities
    * as floored integer ppm, π₀ uniform, π_{t+1}(j) = ⌊Σᵢ πₜ(i)·p(i,j)
    * / 10⁶⌋ for [[StationaryRounds]] rounds — where the session "spends
    * its time" in the long run, the summary number the per-edge
    * transition matrix doesn't give. All integer arithmetic (one DIV
    * per state per round, after the sum — minimal truncation), so the
    * gate is exact; the ≤ n_states ppm mass leak per round is the
    * documented price of integer determinism.
    *
    * Scale: the chain is O(event types)² — after the one fact-table
    * lead-window pass, the cell counts are fetched once under
    * [[StationaryCellBound]], and the ppm matrix and the rounds run on
    * the driver in `Long` arithmetic: `multiplyExact`/`addExact` keep
    * ANSI's loud overflow, and the floor DIVs are the twin's (every
    * operand is non-negative). A NULL from-type drops out, as in the
    * twin's equi-join with the totals.
    */
  def analyticsMarkovStationary(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = graft.ops.Bounded.rows(transitionCounts(spark, sfDir),
        StationaryCellBound, "analytics_markov_stationary transitions")
      .filter(!_.isNullAt(0))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nFrom = cells.groupMapReduce(_._1)(_._3)(math.addExact)
    val trans = cells.map { case (f, t, n) =>
      (f, t, math.multiplyExact(n, 1000000L) / nFrom(f)) }
    val states = (trans.map(_._1) ++ trans.map(_._2)).distinct
    var pi = states.map(_ -> 1000000L / states.length).toMap
    for (_ <- 1 to StationaryRounds) {
      val s = trans.groupMapReduce(_._2)(t => math.multiplyExact(pi(t._1), t._3))(
        math.addExact)
      pi = states.map(j => j -> s.get(j).fold(0L)(_ / 1000000L)).toMap
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      states.map(j => org.apache.spark.sql.Row(j, pi(j))).toList.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("pi_ppm",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .orderBy("event_type")
  }

  val analyticsMarkovStationarySql: String = {
    val rounds = (1 to StationaryRounds).map { r =>
      s"""pi$r AS MATERIALIZED (
         |  SELECT s.state,
         |         COALESCE(CAST(x.s AS BIGINT), 0) AS pi_ppm
         |  FROM states s LEFT JOIN (
         |    SELECT t.to_type AS state,
         |           CAST(SUM(p.pi_ppm * t.p_ppm) // 1000000 AS BIGINT) AS s
         |    FROM trans t JOIN pi${r - 1} p ON p.state = t.from_type
         |    GROUP BY t.to_type
         |  ) x ON x.state = s.state
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type
       |  FROM events
       |), p0 AS (
       |  SELECT event_type AS from_type,
       |         lead(event_type) OVER (PARTITION BY user_id
       |                                ORDER BY us, event_id) AS to_type
       |  FROM e
       |), pairs AS MATERIALIZED (
       |  SELECT from_type, to_type, COUNT(*) AS n
       |  FROM p0 WHERE to_type IS NOT NULL GROUP BY from_type, to_type
       |), totals AS (
       |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
       |  FROM pairs GROUP BY from_type
       |), trans AS MATERIALIZED (
       |  SELECT p.from_type, p.to_type,
       |         CAST(p.n * 1000000 // t.n_from AS BIGINT) AS p_ppm
       |  FROM pairs p JOIN totals t USING (from_type)
       |), states AS MATERIALIZED (
       |  SELECT DISTINCT from_type AS state FROM trans
       |  UNION
       |  SELECT DISTINCT to_type AS state FROM trans
       |), pi0 AS (
       |  SELECT state,
       |         CAST(1000000 // (SELECT COUNT(*) FROM states) AS BIGINT)
       |           AS pi_ppm
       |  FROM states
       |), $rounds
       |SELECT state AS event_type, pi_ppm
       |FROM pi$StationaryRounds ORDER BY event_type""".stripMargin
  }

  val analyticsMarkovSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      |), s AS (
      |  SELECT user_id, event_type,
      |         LEAD(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY us, event_id) AS next_type
      |  FROM e
      |), pairs AS MATERIALIZED (
      |  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |  FROM s WHERE next_type IS NOT NULL
      |  GROUP BY event_type, next_type
      |), tot AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
      |  FROM pairs GROUP BY from_type
      |)
      |SELECT p.from_type, p.to_type, p.n,
      |       CAST(p.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
      |FROM pairs p JOIN tot t ON p.from_type = t.from_type
      |ORDER BY p.from_type, p.to_type""".stripMargin

  /** `analytics_resample` — calendar resampling with gap fill: each
    * user's event stream re-gridded to one row per day between that
    * user's first and last active day, zero-filled on silent days. The
    * date spine is generated per user from its own [min, max] day span
    * (a `sequence` + explode — rows proportional to user-days, never a
    * global cross join), left-joined against the daily aggregate on the
    * same (user, day) key. Restricted to user_id < 100 to keep the
    * gated output a stable slice. All-integer output.
    */
  def analyticsResample(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = eventsUs(spark, sfDir)
      .where(col("user_id") < 100)
      .select(col("user_id"), expr(s"us div $UsPerDay").cast("long").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_events"))
    val spine = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("n_events").isNull.as("gap_filled"))
      .orderBy("user_id", "day")
  }

  val analyticsResampleSql: String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT user_id, epoch_us(ts) // $UsPerDay AS day, COUNT(*) AS n_events
      |  FROM events WHERE user_id < 100
      |  GROUP BY user_id, epoch_us(ts) // $UsPerDay
      |), spine AS (
      |  SELECT user_id, unnest(range(MIN(day), MAX(day) + 1)) AS day
      |  FROM daily GROUP BY user_id
      |)
      |SELECT s.user_id, s.day,
      |       COALESCE(d.n_events, 0) AS n_events,
      |       d.n_events IS NULL AS gap_filled
      |FROM spine s LEFT JOIN daily d
      |  ON s.user_id = d.user_id AND s.day = d.day
      |ORDER BY s.user_id, s.day""".stripMargin

  /** `analytics_streaks` — gaps-and-islands: per user, the longest run
    * of consecutive active days and the number of distinct runs. The
    * classic spelling: distinct (user, day) → row_number within user →
    * `day − rn` is constant within a consecutive island → aggregate
    * twice. One shuffle on user_id (dedupe + window share it under
    * AQE); the island aggregate's keys are (user, island), bounded by
    * active days. All-integer output.
    */
  def analyticsStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    val days = eventsUs(spark, sfDir)
      .select(col("user_id"), expr(s"us div $UsPerDay").cast("long").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val islands = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("run_len"))
    islands.groupBy("user_id")
      .agg(
        sum("run_len").as("n_active_days"),
        max("run_len").as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  val analyticsStreaksSql: String =
    s"""WITH days AS MATERIALIZED (
      |  SELECT DISTINCT user_id, epoch_us(ts) // $UsPerDay AS day FROM events
      |), isl AS (
      |  SELECT user_id,
      |         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM days
      |), runs AS (
      |  SELECT user_id, grp, COUNT(*) AS run_len
      |  FROM isl GROUP BY user_id, grp
      |)
      |SELECT user_id, CAST(SUM(run_len) AS BIGINT) AS n_active_days,
      |       MAX(run_len) AS longest_streak, COUNT(*) AS n_streaks
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  /** `analytics_weekday_profile` — traffic profile by day-of-week:
    * event counts and exact-cents value per weekday, every weekday ×
    * event-type cell. The weekday comes from pure integer arithmetic
    * on the epoch day ((day+3) mod 7, 0 = Monday — 1970-01-01 was a
    * Thursday), so no engine date-function semantics are in the hash
    * path. Constant key space, one map-side-combined aggregate.
    */
  def analyticsWeekdayProfile(spark: SparkSession, sfDir: String): DataFrame =
    eventsUs(spark, sfDir)
      .select(
        expr(s"(us div $UsPerDay + 3) % 7").cast("long").as("weekday"),
        col("event_type"),
        ExactAgg.cents(col("value")).as("cents"))
      .groupBy("weekday", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
      .orderBy("weekday", "event_type")

  val analyticsWeekdayProfileSql: String =
    s"""WITH e AS (
      |  SELECT (epoch_us(ts) // $UsPerDay + 3) % 7 AS weekday, event_type,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events
      |)
      |SELECT weekday, event_type, COUNT(*) AS n_events,
      |       CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM e GROUP BY weekday, event_type
      |ORDER BY weekday, event_type""".stripMargin

  /** `analytics_active_users` — DAU + trailing 7-day active users per
    * calendar day. A windowed COUNT DISTINCT cannot use a plain window
    * frame (distinct isn't frame-decomposable), so the spelling is the
    * distributable one: dedupe to (user, day), then a range join of the
    * day spine against the 7-day trail, then count distinct per spine
    * day. The join explodes each (user, day) into ≤7 spine rows —
    * bounded fan-out, shuffled on the spine day; at 100 TB the dedupe
    * is the only data-sized shuffle (same note as the cohort op).
    */
  def analyticsActiveUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val days = eventsUs(spark, sfDir)
      .select(col("user_id"), expr(s"us div $UsPerDay").cast("long").as("day"))
      .distinct()
    val dau = days.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val spine = days.select(col("day").as("d")).distinct()
    val wau = days.join(spine,
        col("day") >= col("d") - 6 && col("day") <= col("d"))
      .groupBy("d")
      .agg(countDistinct("user_id").as("wau"))
    dau.join(wau, col("day") === col("d"))
      .select(col("day"), col("dau"), col("wau"))
      .orderBy("day")
  }

  val analyticsActiveUsersSql: String =
    s"""WITH days AS MATERIALIZED (
      |  SELECT DISTINCT user_id, epoch_us(ts) // $UsPerDay AS day FROM events
      |), dau AS MATERIALIZED (
      |  SELECT day, COUNT(DISTINCT user_id) AS dau FROM days GROUP BY day
      |), spine AS (SELECT DISTINCT day AS d FROM days
      |), wau AS MATERIALIZED (
      |  SELECT s.d, COUNT(DISTINCT days.user_id) AS wau
      |  FROM days JOIN spine s
      |    ON days.day >= s.d - 6 AND days.day <= s.d
      |  GROUP BY s.d
      |)
      |SELECT dau.day, dau.dau, wau.wau
      |FROM dau JOIN wau ON dau.day = wau.d
      |ORDER BY dau.day""".stripMargin

  /** `analytics_interpolate` — two-sided linear gap fill: at every
    * click's timestamp, interpolate the user's purchase value between
    * the nearest purchase BEFORE and AFTER (the query-time imputation
    * behind sensor/price series and feature backfills; `etl_ffill` is
    * the one-sided cousin). Edge rows keep NULL — a click before the
    * first or after the last purchase has no bracketing pair, and
    * inventing one is a correctness bug, not a feature.
    *
    * Plan: one window pass per direction over (user, time) — Spark's
    * `last(_, ignoreNulls)` over an UNBOUNDED PRECEDING…−1 frame and
    * `first` over 1…UNBOUNDED FOLLOWING — so the whole operator is ONE
    * shuffle on user_id and two sorted frame scans, no self-join, no
    * explode. The bracketing (us, cents) pairs ride the SAME ordered
    * frame, so both columns come from the same bracketing row by
    * construction. At 100 TB: partition by user, sort within partition
    * — the canonical time-series window shape.
    *
    * Determinism: timestamps are exact integer µs, values exact integer
    * cents; the interpolation prev + (next−prev)·((t−t₀)/(t₁−t₀)) is a
    * fixed IEEE op sequence over exact operands (all < 2^53), spelled
    * identically in the oracle — bit-identical, no epsilon. The
    * degenerate same-timestamp bracket (t₁ = t₀, a µs-truncation
    * collision) short-circuits to the previous value BEFORE the
    * division: under ANSI even double 0/0 errors rather than NaN.
    */
  def analyticsInterpolate(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = ExactAgg.cents(col("value"))
    val e = eventsUs(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("us"),
        when(col("event_type") === "purchase", cents).as("pc"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wNext = w.rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("prev_us",
        last(when(col("pc").isNotNull, col("us")), ignoreNulls = true).over(wPrev))
      .withColumn("prev_cents", last(col("pc"), ignoreNulls = true).over(wPrev))
      .withColumn("next_us",
        first(when(col("pc").isNotNull, col("us")), ignoreNulls = true).over(wNext))
      .withColumn("next_cents", first(col("pc"), ignoreNulls = true).over(wNext))
      .where(col("event_type") === "click")
      .withColumn("interp_cents",
        when(col("prev_us").isNull || col("next_us").isNull,
          lit(null).cast("double"))
          .when(col("next_us") === col("prev_us"),
            col("prev_cents").cast("double"))
          .otherwise(col("prev_cents").cast("double") +
            (col("next_cents") - col("prev_cents")).cast("double") *
              ((col("us") - col("prev_us")).cast("double") /
                (col("next_us") - col("prev_us")).cast("double"))))
      .select("user_id", "event_id", "us", "prev_us", "next_us",
        "interp_cents")
      .transform(RefQueries.gateSort(_, "event_id"))
  }

  val analyticsInterpolateSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |         CASE WHEN event_type = 'purchase'
      |              THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS pc
      |  FROM events
      |), f AS MATERIALIZED (
      |  SELECT user_id, event_id, event_type, us,
      |         last_value(CASE WHEN pc IS NOT NULL THEN us END IGNORE NULLS)
      |           OVER wp AS prev_us,
      |         last_value(pc IGNORE NULLS) OVER wp AS prev_cents,
      |         first_value(CASE WHEN pc IS NOT NULL THEN us END IGNORE NULLS)
      |           OVER wn AS next_us,
      |         first_value(pc IGNORE NULLS) OVER wn AS next_cents
      |  FROM e
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY us, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |         wn AS (PARTITION BY user_id ORDER BY us, event_id
      |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
      |)
      |SELECT user_id, event_id, us, prev_us, next_us,
      |       CASE WHEN prev_us IS NULL OR next_us IS NULL THEN NULL
      |            WHEN next_us = prev_us THEN CAST(prev_cents AS DOUBLE)
      |            ELSE CAST(prev_cents AS DOUBLE)
      |                 + CAST(next_cents - prev_cents AS DOUBLE)
      |                   * (CAST(us - prev_us AS DOUBLE)
      |                      / CAST(next_us - prev_us AS DOUBLE))
      |       END AS interp_cents
      |FROM f WHERE event_type = 'click'
      |ORDER BY event_id""".stripMargin

  // ---- new vs returning users -----------------------------------------

  /** `analytics_new_returning` — per-day split of active users into new
    * (first-ever activity that day) and returning, with the new-user
    * share in ppm: the growth-accounting daily the first-seen trick
    * makes cheap — min(day) per user is ONE aggregate, then each active
    * (user, day) pair classifies by comparison, with no
    * ever-growing seen-set state.
    *
    * Scale: two hash aggregates (per-user first day; per-day
    * classified counts) and one broadcast-shaped join keyed by user.
    */
  def analyticsNewReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = eventsUs(spark, sfDir)
      .select(expr("us DIV 86400000000").cast("long").as("day"),
        col("user_id"))
      .distinct()
      .persistIntermediate
    val firstSeen = ud.groupBy("user_id").agg(min("day").as("first_day"))
    ud.join(firstSeen, "user_id")
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        expr("n_new * 1000000L DIV n_active").as("new_share_ppm"))
      .orderBy("day")
  }

  val analyticsNewReturningSql: String =
    """WITH ud AS MATERIALIZED (
      |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
      |  FROM events
      |), fs AS MATERIALIZED (
      |  SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id
      |)
      |SELECT ud.day, COUNT(*) AS n_active,
      |       CAST(SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_new,
      |       CAST(COUNT(*) - SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_returning,
      |       CAST(SUM(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
      |            * 1000000 // COUNT(*) AS BIGINT) AS new_share_ppm
      |FROM ud JOIN fs ON fs.user_id = ud.user_id
      |GROUP BY ud.day ORDER BY ud.day""".stripMargin

  // ---- market-basket association --------------------------------------

  /** `analytics_basket_lift` — association mining over user "baskets"
    * (the set of event types each user ever fired): support, confidence
    * and lift for every type pair, the frequent-itemset primitive
    * behind cross-sell and co-occurrence analysis. With U total users,
    * n_a users touching type a and n_ab touching both,
    *   support = n_ab/U,  lift = n_ab·U / (n_a·n_b),
    * both exported as exact ppm integers (DIV floor — all operands
    * positive). Lift > 1e6 ppm means the pair co-occurs more than
    * independence predicts.
    *
    * Scale: one distinct (user, type) aggregate, a per-user pair
    * generation bounded by |types|² per user (types are an enum — this
    * is NOT a quadratic-in-users join), and a types²-keyed count. The
    * canonical a-priori first pass, all map-side combinable.
    */
  def analyticsBasketLift(spark: SparkSession, sfDir: String): DataFrame = {
    val ut = table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type")).distinct().persistIntermediate
    val users = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val marg = ut.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val pairs = ut.as("a")
      .join(ut.as("b"), Seq("user_id"))
      .where(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), "type_a")
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(users))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        expr("n_ab * 1000000L DIV n_users").as("support_ppm"),
        expr("(n_ab * n_users * 1000000L) DIV (n_a * n_b)").as("lift_ppm"))
      .orderBy("type_a", "type_b")
  }

  val analyticsBasketLiftSql: String =
    """WITH ut AS MATERIALIZED (
      |  SELECT DISTINCT user_id, event_type FROM events
      |), u AS MATERIALIZED (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
      |marg AS MATERIALIZED (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY event_type),
      |pairs AS MATERIALIZED (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         COUNT(*) AS n_ab
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |  WHERE a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT p.type_a, p.type_b,
      |       CAST(ma.n_t AS BIGINT) AS n_a, CAST(mb.n_t AS BIGINT) AS n_b,
      |       p.n_ab,
      |       CAST(p.n_ab * 1000000 // u.n_users AS BIGINT) AS support_ppm,
      |       CAST((p.n_ab * u.n_users * 1000000) // (ma.n_t * mb.n_t) AS BIGINT) AS lift_ppm
      |FROM pairs p
      |JOIN marg ma ON ma.event_type = p.type_a
      |JOIN marg mb ON mb.event_type = p.type_b
      |CROSS JOIN u
      |ORDER BY p.type_a, p.type_b""".stripMargin

  /** `analytics_attribution` — multi-touch marketing attribution: every
    * `purchase` event distributes conversion credit to the same user's
    * preceding `click`/`view` touches inside a 7-day lookback, under
    * the three classic models at once — FIRST-touch (+1 to the earliest
    * touch's type), LAST-touch (+1 to the latest), and LINEAR (equal
    * split). The linear share is carried as an exact integer:
    * 1000000 DIV k ppm per touch (positive operands, so Spark's
    * truncating DIV and DuckDB's flooring // agree), summed per type —
    * no 1.0/k double ever enters an aggregate. Touch order ties break
    * on (ts, event_id), a total key, so first/last are deterministic.
    *
    * Scale: the touch↔purchase match is a per-user time-bounded range
    * join — candidate pairs ∝ each user's activity inside one 7-day
    * window, never |events|²; it shuffles both sides once on user_id
    * and AQE handles power-user skew. The per-purchase windows
    * partition on the purchase key, and the final rollup is
    * O(event types).
    */
  def analyticsAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsUs(spark, sfDir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("us").as("p_us"))
    val touches = ev.where(col("event_type").isin("click", "view"))
      .select(col("event_id").as("t_id"), col("user_id"),
        col("us").as("t_us"), col("event_type").as("touch_type"))
    val lookbackUs = 7L * UsPerDay
    val matched = purchases.join(touches, Seq("user_id"))
      .where(col("t_us") < col("p_us") &&
        col("t_us") >= col("p_us") - lookbackUs)
    val w = Window.partitionBy("p_id").orderBy(col("t_us"), col("t_id"))
    val scored = matched
      .withColumn("rn", row_number().over(w))
      .withColumn("k", count(lit(1)).over(Window.partitionBy("p_id")))
    scored.groupBy("touch_type").agg(
      sum(when(col("rn") === 1, 1L).otherwise(0L)).as("first_touch"),
      sum(when(col("rn") === col("k"), 1L).otherwise(0L)).as("last_touch"),
      sum(expr("1000000L div k")).as("linear_ppm"),
      count(lit(1)).as("n_touches"))
      .orderBy("touch_type")
  }

  val analyticsAttributionSql: String =
    """WITH p AS MATERIALIZED (
      |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase'
      |), t AS MATERIALIZED (
      |  SELECT event_id AS t_id, user_id, epoch_us(ts) AS t_us,
      |         event_type AS touch_type
      |  FROM events WHERE event_type IN ('click', 'view')
      |), m AS (
      |  SELECT p.p_id, t.t_id, t.t_us, t.touch_type
      |  FROM p JOIN t ON p.user_id = t.user_id
      |  WHERE t.t_us < p.p_us AND t.t_us >= p.p_us - 604800000000
      |), s AS (
      |  SELECT touch_type,
      |         row_number() OVER (PARTITION BY p_id
      |                            ORDER BY t_us, t_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY p_id) AS k
      |  FROM m
      |)
      |SELECT touch_type,
      |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS first_touch,
      |       CAST(SUM(CASE WHEN rn = k THEN 1 ELSE 0 END) AS BIGINT)
      |         AS last_touch,
      |       CAST(SUM(1000000 // k) AS BIGINT) AS linear_ppm,
      |       COUNT(*) AS n_touches
      |FROM s GROUP BY touch_type
      |ORDER BY touch_type""".stripMargin
}

package graft.queries

import graft.ops.ExactAgg
import graft.ops.Persist.PersistOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Statistical analytics + data-quality operators, oracle-gated.
  *
  * Determinism doctrine (same as the rest of the suite, pushed one level
  * further because these operators are *made of* floating point):
  *
  *   - every aggregate that feeds an fp formula is an EXACT sum — either
  *     a DECIMAL(18,2) sum (money) or a BIGINT sum of integer cents —
  *     so the aggregation is bit-identical under any shuffle order and
  *     any engine;
  *   - the fp formula itself is then a FIXED sequence of scalar IEEE-754
  *     ops over those exact values, written with the same operand order
  *     in the Spark column expression and the DuckDB oracle. `+ - * /
  *     sqrt` are correctly-rounded by IEEE-754, so identical inputs +
  *     identical op sequence = identical bits, no rounding tolerance
  *     needed;
  *   - medians/quantiles run in the INTEGER CENTS domain: every operand
  *     of the interpolation is an exact double (|v| ≪ 2^52), so even the
  *     half-way interpolation (a+b)/2 is exact and formula-shape
  *     differences between engines cannot produce different bits.
  *
  * Scale notes: every operator here is a partial+final hash aggregate
  * (one shuffle) followed by scalar math, or a narrow map joined against
  * a broadcast of per-group constants — the group cardinality (return
  * flags, market segments) is tiny next to the fact table, which is the
  * shape that survives 1000 executors. Nothing sorts globally, nothing
  * collects to the driver.
  */
object StatQueries {
  import RefQueries.table

  /** Integer cents by rounding the double ×100, as the twins'
    * `CAST(round(x * 100) AS BIGINT)` (the DECIMAL(18,2) rounding is
    * [[graft.ops.ExactAgg.cents]]).
    */
  private def cents(c: Column): Column = round(c * 100, 0).cast(LongType)

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  // ---- per-group OLS regression --------------------------------------

  /** `analytics_regression` — ordinary-least-squares fit of
    * extendedprice against quantity per returnflag (slope, intercept,
    * r²), from the five classic exact sufficient statistics. The sums
    * are exact decimals; slope/intercept/r² are then computed in double
    * with a fixed op order (see object doc), so the gate needs no
    * epsilon. This is the standard scalable spelling: one aggregate
    * pass builds the sufficient statistics, the model solve is O(groups)
    * scalar math — the same plan at 100 TB, just more map tasks.
    */
  def analyticsRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    val stats = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(x).cast(DoubleType).as("sx"),
      sum(y).cast(DoubleType).as("sy"),
      sum(x * x).cast(DoubleType).as("sxx"),
      sum(x * y).cast(DoubleType).as("sxy"),
      sum(y * y).cast(DoubleType).as("syy"))
    val nD = col("n").cast(DoubleType)
    // fixed op order, mirrored verbatim in the oracle SQL
    val slope = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * col("sxx") - col("sx") * col("sx"))
    val intercept = (col("sy") - col("slope") * col("sx")) / nD
    val r2 = ((nD * col("sxy") - col("sx") * col("sy")) *
      (nD * col("sxy") - col("sx") * col("sy"))) /
      ((nD * col("sxx") - col("sx") * col("sx")) *
        (nD * col("syy") - col("sy") * col("sy")))
    stats
      .withColumn("slope", slope)
      .withColumn("intercept", intercept)
      .withColumn("r2", r2)
      .select(col("l_returnflag").as("returnflag"), col("n"),
        col("slope"), col("intercept"), col("r2"))
      .orderBy("returnflag")
  }

  val analyticsRegressionSql: String =
    """WITH s AS MATERIALIZED (
      |  SELECT l_returnflag AS returnflag, COUNT(*) AS n,
      |         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sx,
      |         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sy,
      |         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sxx,
      |         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sxy,
      |         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag
      |), m AS MATERIALIZED (
      |  SELECT returnflag, n,
      |         (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |         (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
      |         sx, sy, sxx, sxy, syy
      |  FROM s
      |)
      |SELECT returnflag, n, slope,
      |       (sy - slope * sx) / CAST(n AS DOUBLE) AS intercept,
      |       ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy)) /
      |       ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
      |FROM m ORDER BY returnflag""".stripMargin

  // ---- per-group Pearson correlation / covariance --------------------

  /** `analytics_corr` — Pearson correlation and sample covariance of
    * discount vs tax per returnflag. Same sufficient-statistics shape as
    * the regression; `sqrt` is correctly-rounded per IEEE-754, so the
    * result stays bit-deterministic cross-engine.
    */
  def analyticsCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val x = dec(col("l_discount"))
    val y = dec(col("l_tax"))
    val stats = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(x).cast(DoubleType).as("sx"),
      sum(y).cast(DoubleType).as("sy"),
      sum(x * x).cast(DoubleType).as("sxx"),
      sum(x * y).cast(DoubleType).as("sxy"),
      sum(y * y).cast(DoubleType).as("syy"))
    val nD = col("n").cast(DoubleType)
    val corr = (nD * col("sxy") - col("sx") * col("sy")) /
      (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
        sqrt(nD * col("syy") - col("sy") * col("sy")))
    val cov = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * (nD - lit(1.0d)))
    stats
      .withColumn("pearson_r", corr)
      .withColumn("cov_samp", cov)
      .select(col("l_returnflag").as("returnflag"), col("n"),
        col("pearson_r"), col("cov_samp"))
      .orderBy("returnflag")
  }

  val analyticsCorrSql: String =
    """WITH s AS MATERIALIZED (
      |  SELECT l_returnflag AS returnflag, COUNT(*) AS n,
      |         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sx,
      |         CAST(CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sy,
      |         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sxx,
      |         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sxy,
      |         CAST(CAST(SUM(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT returnflag, n,
      |       (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |       (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS pearson_r,
      |       (CAST(n AS DOUBLE) * sxy - sx * sy) /
      |       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS cov_samp
      |FROM s ORDER BY returnflag""".stripMargin

  // ---- Spearman rank correlation --------------------------------------

  /** `analytics_spearman` — Spearman rank correlation of quantity vs
    * extended price per returnflag: the robust (monotone, outlier-proof)
    * sibling of `analytics_corr`. Tie-aware: each value's rank is the
    * AVERAGE rank of its tie group, which the classic 6·Σd² shortcut
    * does not handle — so this computes Pearson over ranks, the
    * definitionally correct tie spelling. Fractional average ranks
    * would put a 0.5 into the sufficient statistics, so both engines
    * carry DOUBLED ranks, which are always integers:
    * 2·avgrank = 2·minrank + ties − 1 (minrank = SQL `rank()`, ties =
    * the tie-group size). The doubling cancels in the correlation.
    * Sufficient stats are exact BIGINT sums; the one double expression
    * at the end is the same op sequence in both engines.
    *
    * Scale: two sort-based window passes partitioned by the group key
    * (rank by x, rank by y) and one hash aggregate — the standard
    * distributed ranking shape, no driver state. Rank windows sort
    * within group partitions only; groups parallelize independently.
    * Overflow horizon: the squared-rank SUMS run in DECIMAL(38,0)
    * (both engines sum decimals exactly), so only the per-term
    * r2x·r2y must fit a BIGINT — safe to ~1.5e9 rows per group.
    */
  def analyticsSpearman(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("g"),
        col("l_quantity").cast(DecimalType(18, 2)).as("x"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("y"))
    // r21: the x-axis never needed a full-table rank window —
    // l_quantity has ~50 distinct values per flag, so its doubled rank
    // is a function of the (g, x) HISTOGRAM: 2·avgrank = 2·(#smaller+1)
    // + ties − 1, with #smaller an exclusive prefix sum over the ~150-
    // row histogram and ties its count. One tiny hash aggregate + a
    // broadcast join replaces one of the two full-table sorts (§1.2 /
    // §2.4 — the r20 spelling measured both axes at 3.45 s in-sweep;
    // the y-axis keeps the windowed rank because l_extendedprice is
    // ~row-distinct, so its histogram would be as big as the table).
    val hx = li.groupBy("g", "x").agg(count(lit(1)).as("cnt"))
    val wk = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    // null-SAFE x equality in the probe: rank() treats a NULL x as a
    // rankable value (NULLS FIRST), so the histogram row for NULL x
    // must re-attach too — a plain equi-join would silently drop those
    // rows and change n/sums vs the windowed spelling (latent on this
    // corpus, where l_quantity is NOT NULL)
    val xr = hx
      .withColumn("cumprev", coalesce(sum("cnt").over(wk), lit(0L)))
      .select(col("g").as("xg"), col("x").as("xx"),
        (lit(2) * (col("cumprev") + 1) + col("cnt") - 1).cast(LongType)
          .as("r2x"))
    val wy = Window.partitionBy("g").orderBy("y")
    val ry = rank().over(wy)
    val ty = count(lit(1)).over(wy.rangeBetween(Window.currentRow, Window.currentRow))
    val ranked = li
      .withColumn("r2y", (lit(2) * ry + ty - 1).cast(LongType))
      .join(broadcast(xr),
        col("g") === col("xg") && col("x") <=> col("xx"))
      .drop("xg", "xx")
    val big = DecimalType(38, 0)
    val stats = ranked.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum("r2x").as("sx"), sum("r2y").as("sy"),
      sum((col("r2x") * col("r2x")).cast(big)).as("sxx"),
      sum((col("r2x") * col("r2y")).cast(big)).as("sxy"),
      sum((col("r2y") * col("r2y")).cast(big)).as("syy"))
    val nD = col("n").cast(DoubleType)
    val num = nD * col("sxy").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("sy").cast(DoubleType)
    val den = sqrt(nD * col("sxx").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
      sqrt(nD * col("syy").cast(DoubleType) -
        col("sy").cast(DoubleType) * col("sy").cast(DoubleType))
    stats
      .withColumn("spearman_rho", num / den)
      .select(col("g").as("returnflag"), col("n"), col("spearman_rho"))
      .orderBy("returnflag")
  }

  val analyticsSpearmanSql: String =
    """WITH r AS MATERIALIZED (
      |  SELECT l_returnflag AS g,
      |         CAST(2 * rank() OVER (PARTITION BY l_returnflag
      |                ORDER BY CAST(l_quantity AS DECIMAL(18,2)))
      |              + COUNT(*) OVER (PARTITION BY l_returnflag,
      |                  CAST(l_quantity AS DECIMAL(18,2))) - 1 AS BIGINT) AS r2x,
      |         CAST(2 * rank() OVER (PARTITION BY l_returnflag
      |                ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)))
      |              + COUNT(*) OVER (PARTITION BY l_returnflag,
      |                  CAST(l_extendedprice AS DECIMAL(18,2))) - 1 AS BIGINT) AS r2y
      |  FROM lineitem
      |), s AS MATERIALIZED (
      |  SELECT g, COUNT(*) AS n,
      |         CAST(SUM(r2x) AS BIGINT) AS sx, CAST(SUM(r2y) AS BIGINT) AS sy,
      |         CAST(SUM(r2x * r2x) AS DECIMAL(38,0)) AS sxx,
      |         CAST(SUM(r2x * r2y) AS DECIMAL(38,0)) AS sxy,
      |         CAST(SUM(r2y * r2y) AS DECIMAL(38,0)) AS syy
      |  FROM r GROUP BY g
      |)
      |SELECT g AS returnflag, n,
      |       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |       (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |             CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |        sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
      |             CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS spearman_rho
      |FROM s ORDER BY returnflag""".stripMargin

  // ---- robust outliers: median + MAD ---------------------------------

  /** `analytics_mad` — robust outlier detection per market segment:
    * median account balance, median absolute deviation, and the count of
    * customers beyond 3·1.4826·MAD (the normal-consistent MAD z-score).
    * Runs entirely in integer cents so the quantile interpolation is
    * exact fp (see object doc). Two aggregate passes (median, then MAD
    * over |x−med|) joined through a broadcast of per-segment constants —
    * the canonical distributed spelling; an exact distributed median is
    * one sort-based aggregate per pass regardless of table size.
    */
  def analyticsMad(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_mktsegment").as("segment"), cents(col("c_acctbal")).as("bal_c"))
    val med = cust.groupBy("segment")
      .agg(percentile(col("bal_c"), lit(0.5)).as("median_bal_c"))
    val dev = cust.join(broadcast(med), "segment")
      .withColumn("adev_c", abs(col("bal_c").cast(DoubleType) - col("median_bal_c")))
    val mad = dev.groupBy("segment")
      .agg(percentile(col("adev_c"), lit(0.5)).as("mad_c"),
        count(lit(1)).as("n"))
    dev
      .join(broadcast(mad.select("segment", "mad_c")), "segment")
      .groupBy("segment")
      .agg(
        count(lit(1)).as("n"),
        first(col("median_bal_c") / lit(100.0d)).as("median_bal"),
        first(col("mad_c") / lit(100.0d)).as("mad"),
        sum(when(col("adev_c") > lit(3.0d) * (lit(1.4826d) * col("mad_c")), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("segment")
  }

  /** `analytics_iqr` — Tukey-fence outlier accounting per market
    * segment: quartiles of account balance, the interquartile range,
    * the 1.5·IQR fences, and how many customers fall below/above them —
    * the boxplot companion to `analytics_mad`'s robust z-score.
    * Quantities stay in integer cents until the exact interpolated
    * quartiles (integer inputs ≪ 2⁵² ⇒ identical interpolation both
    * engines — the olap_percentile doctrine); fences are a fixed double
    * op sequence over those.
    *
    * Scale: one quartile aggregate (sort-based, per segment) broadcast
    * back over one counting pass — two shuffles keyed by segment, no
    * driver state.
    */
  def analyticsIqr(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_mktsegment").as("segment"), cents(col("c_acctbal")).as("bal_c"))
    val q = cust.groupBy("segment").agg(
      percentile(col("bal_c"), lit(0.25)).as("q1_c"),
      percentile(col("bal_c"), lit(0.75)).as("q3_c"))
    cust.join(broadcast(q), "segment")
      .withColumn("iqr_c", col("q3_c") - col("q1_c"))
      .withColumn("lo_c", col("q1_c") - lit(1.5d) * col("iqr_c"))
      .withColumn("hi_c", col("q3_c") + lit(1.5d) * col("iqr_c"))
      .groupBy("segment")
      .agg(
        count(lit(1)).as("n"),
        first(col("q1_c") / lit(100.0d)).as("q1"),
        first(col("q3_c") / lit(100.0d)).as("q3"),
        first(col("iqr_c") / lit(100.0d)).as("iqr"),
        sum(when(col("bal_c").cast(DoubleType) < col("lo_c"), 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("bal_c").cast(DoubleType) > col("hi_c"), 1L)
          .otherwise(0L)).as("n_high"))
      .orderBy("segment")
  }

  val analyticsIqrSql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT c_mktsegment AS segment,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer
      |), q AS MATERIALIZED (
      |  SELECT segment, quantile_cont(bal_c, 0.25) AS q1_c,
      |         quantile_cont(bal_c, 0.75) AS q3_c
      |  FROM c GROUP BY segment
      |)
      |SELECT c.segment, COUNT(*) AS n,
      |       any_value(q.q1_c / 100.0) AS q1,
      |       any_value(q.q3_c / 100.0) AS q3,
      |       any_value((q.q3_c - q.q1_c) / 100.0) AS iqr,
      |       CAST(SUM(CASE WHEN CAST(c.bal_c AS DOUBLE) <
      |                          q.q1_c - 1.5 * (q.q3_c - q.q1_c)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |       CAST(SUM(CASE WHEN CAST(c.bal_c AS DOUBLE) >
      |                          q.q3_c + 1.5 * (q.q3_c - q.q1_c)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high
      |FROM c JOIN q ON c.segment = q.segment
      |GROUP BY c.segment ORDER BY c.segment""".stripMargin

  val analyticsMadSql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT c_mktsegment AS segment,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer
      |), med AS MATERIALIZED (
      |  SELECT segment, quantile_cont(bal_c, 0.5) AS median_bal_c
      |  FROM c GROUP BY segment
      |), dev AS MATERIALIZED (
      |  SELECT c.segment, abs(CAST(c.bal_c AS DOUBLE) - med.median_bal_c) AS adev_c,
      |         med.median_bal_c
      |  FROM c JOIN med ON c.segment = med.segment
      |), mad AS MATERIALIZED (
      |  SELECT segment, quantile_cont(adev_c, 0.5) AS mad_c
      |  FROM dev GROUP BY segment
      |)
      |SELECT dev.segment, COUNT(*) AS n,
      |       any_value(dev.median_bal_c / 100.0) AS median_bal,
      |       any_value(mad.mad_c / 100.0) AS mad,
      |       CAST(SUM(CASE WHEN dev.adev_c > 3.0 * (1.4826 * mad.mad_c)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM dev JOIN mad ON dev.segment = mad.segment
      |GROUP BY dev.segment ORDER BY dev.segment""".stripMargin

  // ---- missing-value imputation --------------------------------------

  /** `etl_impute` — mean imputation: a negative account balance is
    * treated as missing and replaced by the mean of the segment's valid
    * balances (exact cents sum ÷ count, one double division). The
    * per-segment means are a tiny broadcast against the fact scan — the
    * imputation itself stays a narrow map.
    */
  def etlImpute(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        col("c_acctbal"), cents(col("c_acctbal")).as("bal_c"))
    val means = cust.where(col("bal_c") >= 0)
      .groupBy("segment")
      .agg((sum(col("bal_c")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("mean_c"))
    cust.join(broadcast(means), "segment")
      .select(
        col("c_custkey"),
        col("segment"),
        col("c_acctbal"),
        when(col("bal_c") < 0, col("mean_c") / lit(100.0d))
          .otherwise(col("c_acctbal")).as("acctbal_filled"),
        (col("bal_c") < 0).as("was_imputed"))
      .orderBy("c_custkey")
  }

  val etlImputeSql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT c_custkey, c_mktsegment AS segment, c_acctbal,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer
      |), m AS MATERIALIZED (
      |  SELECT segment,
      |         CAST(SUM(bal_c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_c
      |  FROM c WHERE bal_c >= 0 GROUP BY segment
      |)
      |SELECT c.c_custkey, c.segment, c.c_acctbal,
      |       CASE WHEN c.bal_c < 0 THEN m.mean_c / 100.0
      |            ELSE c.c_acctbal END AS acctbal_filled,
      |       c.bal_c < 0 AS was_imputed
      |FROM c JOIN m ON c.segment = m.segment
      |ORDER BY c.c_custkey""".stripMargin

  // ---- feature scaling ------------------------------------------------

  /** `etl_minmax_scale` — min-max normalization of extendedprice within
    * each returnflag group, in exact cents: integer subtraction, one
    * double division. Group min/max broadcast against the fact scan;
    * the scan itself is a narrow map — the feature-scaling shape that
    * holds at any size.
    */
  def etlMinmaxScale(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"), cents(col("l_extendedprice")).as("price_c"))
    val ranges = li.groupBy("l_returnflag")
      .agg(min("price_c").as("min_c"), max("price_c").as("max_c"))
    li.join(broadcast(ranges), "l_returnflag")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag").as("returnflag"),
        col("l_extendedprice"),
        ((col("price_c") - col("min_c")).cast(DoubleType) /
          (col("max_c") - col("min_c")).cast(DoubleType)).as("scaled"))
      // (l_orderkey, l_linenumber) is NOT unique in this corpus (the
      // gateSort doctrine): extend the key until tied rows are
      // identical in every output column — returnflag+extendedprice
      // determine `scaled`, so this order is content-total and the
      // row-by-row gate compare is engine-order-independent
      .orderBy("l_orderkey", "l_linenumber", "returnflag",
        "l_extendedprice")
  }

  val etlMinmaxScaleSql: String =
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      |  FROM lineitem
      |), r AS MATERIALIZED (
      |  SELECT l_returnflag, MIN(price_c) AS min_c, MAX(price_c) AS max_c
      |  FROM li GROUP BY l_returnflag
      |)
      |SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag AS returnflag,
      |       li.l_extendedprice,
      |       CAST(li.price_c - r.min_c AS DOUBLE) /
      |       CAST(r.max_c - r.min_c AS DOUBLE) AS scaled
      |FROM li JOIN r ON li.l_returnflag = r.l_returnflag
      |ORDER BY li.l_orderkey, li.l_linenumber, returnflag,
      |         li.l_extendedprice""".stripMargin

  // ---- order-independent table checksum ------------------------------

  /** `etl_checksum` — audit checksum per table: each row canonicalized
    * to a string array, hashed with the repo's engine-neutral polynomial
    * fingerprint (TextOps.fingerprint — mod 1e9+7, so per-row hashes
    * stay < 2^30 and a BIGINT sum over billions of rows cannot
    * overflow), then summed. Addition is commutative over exact
    * integers, so the checksum is independent of row order AND partition
    * count — the property that makes it usable as a cross-cluster /
    * cross-engine migration validation at 100 TB (one narrow map + one
    * scalar aggregate, no shuffle of the data itself).
    */
  def etlChecksum(spark: SparkSession, sfDir: String): DataFrame = {
    def summarize(df: DataFrame, name: String, canon: Column): DataFrame =
      df.select(graft.functions.StringArrayFingerprint.fingerprint(canon).as("row_h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("row_h")).as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))

    val cust = summarize(
      table(spark, sfDir, "customer"), "customer",
      array(col("c_custkey").cast("string"), col("c_name"),
        col("c_nationkey").cast("string"),
        cents(col("c_acctbal")).cast("string"), col("c_mktsegment")))
    val ord = summarize(
      table(spark, sfDir, "orders"), "orders",
      array(col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
        col("o_orderstatus"), cents(col("o_totalprice")).cast("string"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"),
        col("o_orderpriority")))
    cust.unionAll(ord).orderBy("table_name")
  }

  val etlChecksumSql: String =
    """WITH rh AS (
      |  SELECT 'customer' AS table_name,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(
      |             [CAST(c_custkey AS VARCHAR), c_name,
      |              CAST(c_nationkey AS VARCHAR),
      |              CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR),
      |              c_mktsegment], t ->
      |             list_reduce(list_prepend(CAST(0 AS BIGINT),
      |               list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
      |               (a, c) -> (a * 131 + c) % 1000000007))),
      |           (acc, h) -> (acc * 31 + h) % 1000000007) AS row_h
      |  FROM customer
      |  UNION ALL
      |  SELECT 'orders' AS table_name,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(
      |             [CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
      |              o_orderstatus,
      |              CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
      |              strftime(o_orderdate, '%Y-%m-%d'),
      |              o_orderpriority], t ->
      |             list_reduce(list_prepend(CAST(0 AS BIGINT),
      |               list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
      |               (a, c) -> (a * 131 + c) % 1000000007))),
      |           (acc, h) -> (acc * 31 + h) % 1000000007) AS row_h
      |  FROM orders
      |)
      |SELECT table_name, COUNT(*) AS n_rows,
      |       CAST(SUM(row_h) AS BIGINT) AS checksum
      |FROM rh GROUP BY table_name ORDER BY table_name""".stripMargin

  // ---- k-anonymity audit ---------------------------------------------

  /** `etl_k_anonymity` — privacy audit of the quasi-identifier pair
    * (market segment, nation): group sizes and an `at_risk` flag for
    * groups smaller than k=5 — the rows a k-anonymous release would
    * have to suppress or generalize (Sweeney, k-anonymity). One hash
    * aggregate over a constant key space; the 100 TB plan is identical.
    */
  def etlKAnonymity(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "customer")
      .groupBy(col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("group_size"))
      .withColumn("at_risk", col("group_size") < 5)
      .orderBy("segment", "nationkey")

  val etlKAnonymitySql: String =
    """SELECT c_mktsegment AS segment, CAST(c_nationkey AS BIGINT) AS nationkey,
      |       COUNT(*) AS group_size, COUNT(*) < 5 AS at_risk
      |FROM customer GROUP BY c_mktsegment, c_nationkey
      |ORDER BY segment, nationkey""".stripMargin

  /** `etl_l_diversity` — the companion privacy audit k-anonymity can't
    * replace (Machanavajjhala 2007): a quasi-identifier group can be
    * large yet still leak if everyone in it SHARES the sensitive value.
    * Per (segment, nation) group: size, distinct sensitive values
    * (order priority of the customers' orders), the dominant value's
    * share in ppm, and the l < 3 diversity flag. One join to attach the
    * sensitive attribute + two hash aggregates over the constant QI key
    * space; the dominant share is a struct-argmax whose count ties
    * resolve to the lexicographically greatest value in BOTH engines
    * (struct comparison is field-ordered), so the report is a function
    * of the data.
    */
  def etlLDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nationkey"))
    val sens = table(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderpriority").as("sensitive"))
    val cells = cust
      .join(sens, cust("c_custkey") === sens("o_custkey"))
      .groupBy("segment", "nationkey", "sensitive")
      .agg(count(lit(1)).as("cnt"))
    cells.groupBy("segment", "nationkey")
      .agg(sum("cnt").as("group_size"),
        count(lit(1)).as("l_distinct"),
        max(struct(col("cnt"), col("sensitive").as("s"))).as("top"))
      .select(col("segment"), col("nationkey"), col("group_size"),
        col("l_distinct"),
        expr("top.cnt * 1000000L DIV group_size").as("dominant_ppm"),
        (col("l_distinct") < 3).as("low_diversity"))
      .orderBy("segment", "nationkey")
  }

  val etlLDiversitySql: String =
    """WITH j AS (
      |  SELECT c.c_mktsegment AS segment, CAST(c.c_nationkey AS BIGINT) AS nationkey,
      |         o.o_orderpriority AS sensitive
      |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |), cells AS MATERIALIZED (
      |  SELECT segment, nationkey, sensitive, COUNT(*) AS cnt
      |  FROM j GROUP BY 1, 2, 3
      |), g AS MATERIALIZED (
      |  SELECT segment, nationkey,
      |         CAST(SUM(cnt) AS BIGINT) AS group_size,
      |         COUNT(*) AS l_distinct,
      |         MAX(struct_pack(cnt := cnt, s := sensitive)) AS top
      |  FROM cells GROUP BY 1, 2
      |)
      |SELECT segment, nationkey, group_size, l_distinct,
      |       CAST(top.cnt * 1000000 // group_size AS BIGINT) AS dominant_ppm,
      |       l_distinct < 3 AS low_diversity
      |FROM g ORDER BY segment, nationkey""".stripMargin

  // ---- two-proportion A/B test ---------------------------------------

  /** `analytics_abtest` — two-proportion z-test: users deterministically
    * split by `user_id % 2` (the reproducible-assignment rule every
    * experiment pipeline needs — never random() at query time),
    * conversion = strictly more `purchase` than `error` events (a
    * scale-independent ~coin-flip metric; "has any purchase" is
    * degenerate on this data — every user converts — and a degenerate
    * p makes the pooled variance 0). The z-score is the pooled-variance
    * spelling over exact integer counts, fixed op order, NULL-guarded
    * when the variance is 0; `sqrt` is IEEE-correctly-rounded, so the
    * single output row hashes identically cross-engine.
    */
  def analyticsAbtest(spark: SparkSession, sfDir: String): DataFrame = {
    val users = table(spark, sfDir, "events")
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >
        sum(when(col("event_type") === "error", 1L).otherwise(0L)))
        .cast("long").as("converted"))
      // abs before %: Spark pmod and DuckDB % disagree on NEGATIVE ids
      // (pmod(-3,2)=1, -3%2=-1 — the row would silently fall out of
      // both buckets on the oracle side). The corpus generates
      // non-negative ids, but unlike etl_shard that invariant is not
      // part of this operator's contract — abs makes the split total.
      .withColumn("grp", abs(col("user_id")) % 2)
    val agg = users.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("converted").as("conv"))
    // two rows → one: conditional aggregation keeps it a single pass
    val wide = agg.agg(
      sum(when(col("grp") === 0, col("n"))).as("n0"),
      sum(when(col("grp") === 0, col("conv"))).as("conv0"),
      sum(when(col("grp") === 1, col("n"))).as("n1"),
      sum(when(col("grp") === 1, col("conv"))).as("conv1"))
    val p0 = col("conv0").cast(DoubleType) / col("n0").cast(DoubleType)
    val p1 = col("conv1").cast(DoubleType) / col("n1").cast(DoubleType)
    val pPool = (col("conv0") + col("conv1")).cast(DoubleType) /
      (col("n0") + col("n1")).cast(DoubleType)
    wide
      .withColumn("p0", p0)
      .withColumn("p1", p1)
      .withColumn("p_pool", pPool)
      .withColumn("se",
        sqrt(col("p_pool") * (lit(1.0d) - col("p_pool")) *
          (lit(1.0d) / col("n0").cast(DoubleType) +
            lit(1.0d) / col("n1").cast(DoubleType))))
      .withColumn("z",
        when(col("se") > 0, (col("p1") - col("p0")) / col("se")))
      .select("n0", "conv0", "n1", "conv1", "p0", "p1", "z")
  }

  val analyticsAbtestSql: String =
    """WITH u AS MATERIALIZED (
      |  SELECT user_id,
      |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >
      |              SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS converted,
      |         abs(user_id) % 2 AS grp
      |  FROM events GROUP BY user_id
      |), w AS (
      |  SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 END) AS BIGINT) AS n0,
      |         CAST(SUM(CASE WHEN grp = 0 THEN converted END) AS BIGINT) AS conv0,
      |         CAST(SUM(CASE WHEN grp = 1 THEN 1 END) AS BIGINT) AS n1,
      |         CAST(SUM(CASE WHEN grp = 1 THEN converted END) AS BIGINT) AS conv1
      |  FROM u
      |), p AS (
      |  SELECT n0, conv0, n1, conv1,
      |         CAST(conv0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
      |         CAST(conv1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
      |         CAST(conv0 + conv1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE) AS p_pool
      |  FROM w
      |), s AS MATERIALIZED (
      |  SELECT *, sqrt(p_pool * (1.0 - p_pool) *
      |                 (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) AS se
      |  FROM p
      |)
      |SELECT n0, conv0, n1, conv1, p0, p1,
      |       CASE WHEN se > 0 THEN (p1 - p0) / se END AS z
      |FROM s""".stripMargin

  // ---- Gini / Lorenz inequality --------------------------------------

  /** `analytics_gini` — Gini coefficient of positive account balances
    * per market segment, by the sorted-rank identity
    * G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx): the numerator stays an exact
    * BIGINT over integer cents (rank ties are irrelevant — equal x
    * contribute the same regardless of order), so the whole statistic
    * is one double division at the end. One rank window per segment +
    * one aggregate — the distributed-inequality-report shape.
    */
  def analyticsGini(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        cents(col("c_acctbal")).as("bal_c"))
      .where(col("bal_c") > 0)
    val w = Window.partitionBy("segment").orderBy("bal_c", "c_custkey")
    c.withColumn("i", row_number().over(w).cast("long"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum("bal_c").as("sum_c"),
        sum(col("i") * col("bal_c")).as("sum_ix"))
      .select(col("segment"), col("n"), col("sum_c"),
        ((lit(2L) * col("sum_ix") - (col("n") + 1) * col("sum_c"))
          .cast(DoubleType) /
          (col("n") * col("sum_c")).cast(DoubleType)).as("gini"))
      .orderBy("segment")
  }

  val analyticsGiniSql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer
      |  WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0
      |), r AS MATERIALIZED (
      |  SELECT segment, bal_c,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY segment
      |                                 ORDER BY bal_c, c_custkey) AS BIGINT) AS i
      |  FROM c
      |), a AS (
      |  SELECT segment, COUNT(*) AS n,
      |         CAST(SUM(bal_c) AS BIGINT) AS sum_c,
      |         CAST(SUM(i * bal_c) AS BIGINT) AS sum_ix
      |  FROM r GROUP BY segment
      |)
      |SELECT segment, n, sum_c,
      |       CAST(2 * sum_ix - (n + 1) * sum_c AS DOUBLE) /
      |       CAST(n * sum_c AS DOUBLE) AS gini
      |FROM a ORDER BY segment""".stripMargin

  // ---- Benford first-digit audit -------------------------------------

  /** `analytics_benford` — first-significant-digit distribution of
    * order totals (the classic fraud/materiality audit signal). The
    * digit comes from the CENTS VALUE AS A STRING — pure integer+string
    * engine surface, no log10 in the hash path (cents > 0 ⇒ first char
    * of the decimal rendering IS the leading significant digit).
    * Output: digit, count, exact-division share. One constant-key
    * aggregate.
    */
  def analyticsBenford(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = table(spark, sfDir, "orders")
      .select(cents(col("o_totalprice")).as("c"))
      .where(col("c") > 0)
    val digits = ord
      .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum("n").as("n_total"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        (col("n").cast(DoubleType) / col("n_total").cast(DoubleType))
          .as("share"))
      .orderBy("digit")
  }

  val analyticsBenfordSql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
      |), d AS MATERIALIZED (
      |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |         COUNT(*) AS n
      |  FROM c WHERE c > 0 GROUP BY 1
      |), t AS MATERIALIZED (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM d)
      |SELECT d.digit, d.n,
      |       CAST(d.n AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS share
      |FROM d CROSS JOIN t ORDER BY d.digit""".stripMargin

  // ---- cumulative monthly revenue ------------------------------------

  /** `analytics_cumulative` — month-over-month running revenue per
    * returnflag: exact cents sums per (flag, month), then a running
    * window over the TINY aggregated frame (flags × months — the
    * window runs on dozens of rows regardless of fact-table size,
    * which is what makes a global cumulative report scale).
    */
  def analyticsCumulative(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = table(spark, sfDir, "lineitem")
      .select(col("l_returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        ExactAgg.cents(col("l_extendedprice")).as("cents"))
      .groupBy("l_returnflag", "month")
      .agg(sum("cents").as("month_cents"))
    val w = Window.partitionBy("l_returnflag").orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("cum_cents", sum("month_cents").over(w))
      .select(col("l_returnflag").as("returnflag"), col("month"),
        col("month_cents"), col("cum_cents"))
      .orderBy("returnflag", "month")
  }

  val analyticsCumulativeSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT l_returnflag AS returnflag,
      |         strftime(l_shipdate, '%Y-%m') AS month,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS month_cents
      |  FROM lineitem GROUP BY 1, 2
      |)
      |SELECT returnflag, month, month_cents,
      |       CAST(SUM(month_cents) OVER (PARTITION BY returnflag ORDER BY month
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |FROM m ORDER BY returnflag, month""".stripMargin

  // ---- chi-square independence cells ---------------------------------

  /** `analytics_chi2` — chi-square independence analysis of event type
    * vs weekday, reported PER CELL (observed, expected, χ² contribution)
    * rather than as one summed statistic: a 35-term double sum is
    * aggregation-order-dependent, per-cell values are each a fixed op
    * sequence over exact integers — so the gate stays bit-exact and the
    * caller can sum (or rank cells by contribution, the usual use).
    * Three tiny aggregates (cell/row/column margins) broadcast against
    * each other; key space is |types|×7.
    */
  def analyticsChi2(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = table(spark, sfDir, "events")
      .select(expr("((ts div 1000) div 86400000000 + 3) % 7").cast("long")
        .as("weekday"), col("event_type"))
      .groupBy("weekday", "event_type")
      .agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy("weekday").agg(sum("observed").as("row_n"))
    val colTot = cells.groupBy("event_type").agg(sum("observed").as("col_n"))
    val grand = cells.agg(sum("observed").as("n"))
    cells
      .join(broadcast(rowTot), "weekday")
      .join(broadcast(colTot), "event_type")
      .crossJoin(broadcast(grand))
      .withColumn("expected",
        (col("row_n") * col("col_n")).cast(DoubleType) /
          col("n").cast(DoubleType))
      .withColumn("chi2_cell",
        ((col("observed").cast(DoubleType) - col("expected")) *
          (col("observed").cast(DoubleType) - col("expected"))) /
          col("expected"))
      .select("weekday", "event_type", "observed", "expected", "chi2_cell")
      .orderBy("weekday", "event_type")
  }

  val analyticsChi2Sql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT (epoch_us(ts) // 86400000000 + 3) % 7 AS weekday, event_type,
      |         COUNT(*) AS observed
      |  FROM events GROUP BY 1, 2
      |), rt AS MATERIALIZED (SELECT weekday, CAST(SUM(observed) AS BIGINT) AS row_n
      |          FROM cells GROUP BY weekday),
      |ct AS MATERIALIZED (SELECT event_type, CAST(SUM(observed) AS BIGINT) AS col_n
      |       FROM cells GROUP BY event_type),
      |g AS MATERIALIZED (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM cells)
      |SELECT c.weekday, c.event_type, c.observed,
      |       CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(g.n AS DOUBLE) AS expected,
      |       ((CAST(c.observed AS DOUBLE) -
      |         CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(g.n AS DOUBLE)) *
      |        (CAST(c.observed AS DOUBLE) -
      |         CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(g.n AS DOUBLE))) /
      |       (CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(g.n AS DOUBLE)) AS chi2_cell
      |FROM cells c
      |JOIN rt ON c.weekday = rt.weekday
      |JOIN ct ON c.event_type = ct.event_type
      |CROSS JOIN g
      |ORDER BY c.weekday, c.event_type""".stripMargin

  // ---- mutual information ---------------------------------------------

  /** `analytics_mutual_info` — mutual information of the same
    * event-type × weekday contingency the χ² gate tests, reported per
    * cell: the information-theoretic association measure (feature
    * selection, drift detection) next to the frequentist one. With
    * cell count cxy, margins cx (weekday) and cy (type), total N,
    *   MI = (1/N)·Σ cxy·log2( cxy·N / (cx·cy) ),
    * each cell's log term restated exactly in scaled integers via the
    * shared [[graft.functions.IntegerLog2]] kernel:
    * pmi_1e6 = log2s(cxy) + log2s(N) − log2s(cx) − log2s(cy) (every
    * argument a positive count), and the cell's additive contribution
    * mi_contrib_1e6 = cxy·pmi_1e6 — a plain BIGINT, so the caller's
    * SUM(mi_contrib_1e6)/N is order-insensitive and bit-stable, unlike
    * a 35-term double sum.
    *
    * Scale: identical shape to `analytics_chi2` — one counting
    * aggregate keyed by (weekday, type) plus two margin aggregates and
    * a scalar total, all broadcast. Key space |types|×7.
    */
  def analyticsMutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.IntegerLog2
    val cells = table(spark, sfDir, "events")
      .select(expr("((ts div 1000) div 86400000000 + 3) % 7").cast("long")
        .as("weekday"), col("event_type"))
      .groupBy("weekday", "event_type")
      .agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy("weekday").agg(sum("observed").as("row_n"))
    val colTot = cells.groupBy("event_type").agg(sum("observed").as("col_n"))
    val grand = cells.agg(sum("observed").as("n"))
    cells
      .join(broadcast(rowTot), "weekday")
      .join(broadcast(colTot), "event_type")
      .crossJoin(broadcast(grand))
      .withColumn("pmi_1e6",
        IntegerLog2.log2s(col("observed")) + IntegerLog2.log2s(col("n"))
          - IntegerLog2.log2s(col("row_n")) - IntegerLog2.log2s(col("col_n")))
      .withColumn("mi_contrib_1e6", col("observed") * col("pmi_1e6"))
      .select("weekday", "event_type", "observed", "row_n", "col_n",
        "pmi_1e6", "mi_contrib_1e6")
      .orderBy("weekday", "event_type")
  }

  val analyticsMutualInfoSql: String = {
    import graft.functions.IntegerLog2.log2Sql
    s"""WITH cells AS MATERIALIZED (
       |  SELECT (epoch_us(ts) // 86400000000 + 3) % 7 AS weekday, event_type,
       |         COUNT(*) AS observed
       |  FROM events GROUP BY 1, 2
       |), rt AS MATERIALIZED (SELECT weekday, CAST(SUM(observed) AS BIGINT) AS row_n
       |          FROM cells GROUP BY weekday),
       |ct AS MATERIALIZED (SELECT event_type, CAST(SUM(observed) AS BIGINT) AS col_n
       |       FROM cells GROUP BY event_type),
       |g AS MATERIALIZED (SELECT CAST(SUM(observed) AS BIGINT) AS n FROM cells),
       |j AS (
       |  SELECT c.weekday, c.event_type, c.observed, rt.row_n, ct.col_n, g.n
       |  FROM cells c
       |  JOIN rt ON c.weekday = rt.weekday
       |  JOIN ct ON c.event_type = ct.event_type
       |  CROSS JOIN g
       |), sc AS (
       |  SELECT weekday, event_type, observed, row_n, col_n,
       |         ${log2Sql("observed")} + ${log2Sql("n")}
       |           - ${log2Sql("row_n")} - ${log2Sql("col_n")} AS pmi_1e6
       |  FROM j
       |)
       |SELECT weekday, event_type, observed, row_n, col_n, pmi_1e6,
       |       CAST(observed * pmi_1e6 AS BIGINT) AS mi_contrib_1e6
       |FROM sc ORDER BY weekday, event_type""".stripMargin
  }

  // ---- month-over-month growth ----------------------------------------

  /** `analytics_mom` — month-over-month revenue growth per returnflag:
    * monthly cents, the previous month's, and the delta in ppm. The
    * delta can be NEGATIVE, which is exactly where cross-engine
    * integer conversion diverges (Spark's cast truncates, DuckDB's
    * rounds, `DIV` floors vs `//` truncates) — so both sides spell it
    * as an explicit `floor` of the double quotient, the one conversion
    * they agree on. Months are calendar strings (the
    * analytics_cumulative spelling); month gaps surface as missing
    * rows because the month key is part of the output.
    *
    * PRECISION HORIZON (the DOUBLE-ppm doctrine, r17): the ppm is
    * EXACT while |rev_c − prev_c| · 10⁶ < 2⁵³, i.e. monthly deltas
    * under ~9.0e9 cents (~$90 M/month — ≈ sf0.5 of this corpus).
    * Beyond that the product rounds, but every step (long→double
    * cast, ×10⁶, ÷, floor) is IEEE-determined and spelled identically
    * in both engines, so the GATE stays bit-green at any magnitude —
    * the reported ppm merely drifts from the infinite-precision value
    * by ≤ 1 unit in the quotient's last place (≪ 1 ppm of relative
    * error; for month-over-month GROWTH, noise far below the metric's
    * meaning). Widening through DECIMAL would buy exactness the metric
    * cannot use at the cost of decimal division in the hot window —
    * documented horizon over respell, unlike the integer-overflow
    * class (GateHygieneSpec) where the narrow spelling ERRORS
    * under ANSI mode instead of drifting.
    *
    * Scale: one monthly hash aggregate + one lag window per flag.
    */
  def analyticsMom(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = table(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        ExactAgg.cents(col("l_extendedprice")).as("cents"))
      .groupBy("returnflag", "month")
      .agg(sum("cents").as("rev_c"))
    val w = Window.partitionBy("returnflag").orderBy("month")
    monthly
      .withColumn("prev_c", lag("rev_c", 1).over(w))
      .where(col("prev_c").isNotNull)
      .withColumn("mom_ppm",
        floor((col("rev_c") - col("prev_c")).cast(DoubleType) * 1000000.0d /
          col("prev_c").cast(DoubleType)).cast(LongType))
      .select("returnflag", "month", "rev_c", "prev_c", "mom_ppm")
      .orderBy("returnflag", "month")
  }

  val analyticsMomSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT l_returnflag AS returnflag,
      |         strftime(l_shipdate, '%Y-%m') AS month,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |              AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1, 2
      |), lagged AS (
      |  SELECT returnflag, month, rev_c, lag(rev_c) OVER w AS prev_c
      |  FROM m WINDOW w AS (PARTITION BY returnflag ORDER BY month)
      |)
      |SELECT returnflag, month, rev_c, prev_c,
      |       CAST(floor(CAST(rev_c - prev_c AS DOUBLE) * 1000000.0
      |                  / CAST(prev_c AS DOUBLE)) AS BIGINT) AS mom_ppm
      |FROM lagged WHERE prev_c IS NOT NULL
      |ORDER BY returnflag, month""".stripMargin

  // ---- Wald–Wolfowitz runs test ---------------------------------------

  /** `analytics_runs_test` — the Wald–Wolfowitz runs test on each
    * event type's daily revenue DIRECTION sequence (up/down vs the
    * previous day, zero-change days dropped — the standard runs-
    * above/below treatment): too few runs ⇒ trending, too many ⇒
    * oscillating, completing the nonparametric family next to KS and
    * Mann–Whitney. Counts (n_up, n_down, n_runs) are exact integers
    * from one lag window; the z-score against μ = 2·n₁n₂/n + 1 and
    * σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) is a fixed double op sequence over
    * them, NULL-guarded when σ = 0 (degenerate one-sided sequences).
    *
    * Scale: one daily pre-aggregate + one lag window per series +
    * an O(days) rollup — series cardinality throughout.
    */
  def analyticsRunsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, sfDir, "events")
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").cast("long").as("day"),
        ExactAgg.cents(col("value")).as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("c"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val signed = daily
      .withColumn("prev", lag("c", 1).over(w))
      .where(col("prev").isNotNull && col("c") =!= col("prev"))
      .withColumn("up", (col("c") > col("prev")).cast("long"))
    val w2 = Window.partitionBy("event_type").orderBy("day")
    val runs = signed
      .withColumn("prevUp", lag("up", 1).over(w2))
      .withColumn("newRun",
        when(col("prevUp").isNull || col("up") =!= col("prevUp"), 1L)
          .otherwise(0L))
      .groupBy("event_type")
      .agg(sum("up").as("n_up"),
        (count(lit(1)) - sum("up")).as("n_down"),
        sum("newRun").as("n_runs"))
    val n1 = col("n_up").cast(DoubleType)
    val n2 = col("n_down").cast(DoubleType)
    val n = n1 + n2
    val mu = lit(2.0d) * n1 * n2 / n + lit(1.0d)
    val sig2 = lit(2.0d) * n1 * n2 * (lit(2.0d) * n1 * n2 - n) /
      (n * n * (n - lit(1.0d)))
    runs
      .withColumn("z",
        when(col("n_up") > 0 && col("n_down") > 0 && sig2 > 0,
          (col("n_runs").cast(DoubleType) - mu) / sqrt(sig2)))
      .select("event_type", "n_up", "n_down", "n_runs", "z")
      .orderBy("event_type")
  }

  val analyticsRunsTestSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |              AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2
      |), lagged AS (
      |  SELECT event_type, day, c, lag(c) OVER w AS prev
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |), signed AS (
      |  SELECT event_type, day, CASE WHEN c > prev THEN 1 ELSE 0 END AS up
      |  FROM lagged WHERE prev IS NOT NULL AND c <> prev
      |), marked AS (
      |  SELECT event_type, up, lag(up) OVER w AS prevUp
      |  FROM signed WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |), agg AS (
      |  SELECT event_type,
      |         CAST(SUM(up) AS BIGINT) AS n_up,
      |         CAST(COUNT(*) - SUM(up) AS BIGINT) AS n_down,
      |         CAST(SUM(CASE WHEN prevUp IS NULL OR up <> prevUp
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      |  FROM marked GROUP BY event_type
      |)
      |SELECT event_type, n_up, n_down, n_runs,
      |       CASE WHEN n_up > 0 AND n_down > 0
      |                 AND 2.0 * n_up * n_down * (2.0 * n_up * n_down
      |                     - (CAST(n_up AS DOUBLE) + n_down))
      |                   / ((CAST(n_up AS DOUBLE) + n_down)
      |                      * (CAST(n_up AS DOUBLE) + n_down)
      |                      * (CAST(n_up AS DOUBLE) + n_down - 1.0)) > 0
      |            THEN (CAST(n_runs AS DOUBLE)
      |                  - (2.0 * n_up * n_down
      |                     / (CAST(n_up AS DOUBLE) + n_down) + 1.0))
      |                 / sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down
      |                        - (CAST(n_up AS DOUBLE) + n_down))
      |                        / ((CAST(n_up AS DOUBLE) + n_down)
      |                           * (CAST(n_up AS DOUBLE) + n_down)
      |                           * (CAST(n_up AS DOUBLE) + n_down - 1.0)))
      |       END AS z
      |FROM agg ORDER BY event_type""".stripMargin

  // ---- geometric mean --------------------------------------------------

  /** `analytics_geo_mean` — geometric mean of quantity per returnflag
    * in the scaled-log2 domain: gmean = 2^(Σ log2 x / n), carried as
    * exact integers via the shared [[graft.functions.IntegerLog2]]
    * kernel (Σ log2s(x) and its DIV-n mean — all x ≥ 1, everything
    * non-negative, floor division agrees cross-engine). The right mean
    * for ratio-scaled quantities, where the arithmetic mean
    * over-weights large orders; exported in log2-1e6 units — the
    * ranking/filtering currency — because exponentiating back would
    * reintroduce the cross-engine pow() ulp hazard the kernel exists
    * to avoid.
    *
    * Scale: one hash aggregate, map-side combinable.
    */
  def analyticsGeoMean(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.IntegerLog2
    table(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("returnflag"),
        col("l_quantity").cast(LongType).as("q"))
      .where(col("q") >= 1)
      .groupBy("returnflag")
      .agg(count(lit(1)).as("n"),
        sum(IntegerLog2.log2s(col("q"))).as("sum_log2_1e6"))
      .withColumn("gmean_log2_1e6", expr("sum_log2_1e6 DIV n"))
      .orderBy("returnflag")
  }

  val analyticsGeoMeanSql: String = {
    import graft.functions.IntegerLog2.log2Sql
    s"""WITH s AS MATERIALIZED (
       |  SELECT l_returnflag AS returnflag, CAST(l_quantity AS BIGINT) AS q
       |  FROM lineitem WHERE CAST(l_quantity AS BIGINT) >= 1
       |), l AS (
       |  SELECT returnflag, ${log2Sql("q")} AS lg FROM s
       |)
       |SELECT returnflag, COUNT(*) AS n,
       |       CAST(SUM(lg) AS BIGINT) AS sum_log2_1e6,
       |       CAST(SUM(lg) // COUNT(*) AS BIGINT) AS gmean_log2_1e6
       |FROM l GROUP BY returnflag ORDER BY returnflag""".stripMargin
  }

  // ---- local-extrema detection ----------------------------------------

  /** `analytics_peaks` — local maxima of the daily revenue series per
    * event type: days strictly above both calendar neighbors, with
    * prominence measured against the smaller neighbor — the
    * peak-detection primitive under alerting and seasonality-eyeballing
    * dashboards. Neighbors are CALENDAR lags (a self-join on day−1 /
    * day+1), not row lags, so a missing day breaks the neighborhood
    * instead of silently comparing across a gap — same doctrine as
    * `analytics_forecast`. Exact integer cents end to end.
    *
    * Scale: one daily hash pre-aggregate and two self-joins keyed by
    * (type, day) — series-cardinality work, broadcastable after the
    * rollup.
    */
  def analyticsPeaks(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = table(spark, sfDir, "events")
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").cast("long").as("day"),
        ExactAgg.cents(col("value")).as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("c"))
      .persistIntermediate
    daily.as("x")
      .join(daily.as("p"), col("p.event_type") === col("x.event_type") &&
        col("p.day") === col("x.day") - 1)
      .join(daily.as("n"), col("n.event_type") === col("x.event_type") &&
        col("n.day") === col("x.day") + 1)
      .where(col("x.c") > col("p.c") && col("x.c") > col("n.c"))
      .select(col("x.event_type").as("event_type"), col("x.day").as("day"),
        col("x.c").as("level_c"),
        (col("x.c") - greatest(col("p.c"), col("n.c"))).as("prominence_c"))
      .orderBy("event_type", "day")
  }

  val analyticsPeaksSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |              AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT x.event_type, x.day, x.c AS level_c,
      |       CAST(x.c - greatest(p.c, n.c) AS BIGINT) AS prominence_c
      |FROM daily x
      |JOIN daily p ON p.event_type = x.event_type AND p.day = x.day - 1
      |JOIN daily n ON n.event_type = x.event_type AND n.day = x.day + 1
      |WHERE x.c > p.c AND x.c > n.c
      |ORDER BY x.event_type, x.day""".stripMargin

  // ---- fulfillment-latency percentiles --------------------------------

  /** `analytics_ship_latency` — order-to-ship latency distribution per
    * order priority: count, min/max and the exact p50/p90/p99 of
    * (ship day − order day). The operational-SLA report shape: a fact
    * join, an integer-day difference, and percentile interpolation over
    * integers (exact in both engines — the olap_percentile doctrine).
    * Day arithmetic is epoch-day integers end to end, never an
    * engine-specific date diff.
    *
    * Scale: the lineitem⋈orders equi-join shuffles on the order key
    * (AQE picks broadcast when the order side fits); one percentile
    * aggregate per priority after.
    */
  def analyticsShipLatency(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem").select(col("l_orderkey"),
      expr("CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000 AS BIGINT)")
        .as("ship_day"))
    val o = table(spark, sfDir, "orders").select(col("o_orderkey"),
      col("o_orderpriority").as("priority"),
      expr("CAST(unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000 AS BIGINT)")
        .as("order_day"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("lat_days", col("ship_day") - col("order_day"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n"),
        min("lat_days").as("min_days"),
        max("lat_days").as("max_days"),
        percentile(col("lat_days"), lit(0.5)).as("p50"),
        percentile(col("lat_days"), lit(0.9)).as("p90"),
        percentile(col("lat_days"), lit(0.99)).as("p99"))
      .orderBy("priority")
  }

  val analyticsShipLatencySql: String =
    """WITH j AS (
      |  SELECT o.o_orderpriority AS priority,
      |         epoch_ms(l.l_shipdate) // 86400000
      |           - epoch_ms(o.o_orderdate) // 86400000 AS lat_days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |)
      |SELECT priority, COUNT(*) AS n,
      |       CAST(MIN(lat_days) AS BIGINT) AS min_days,
      |       CAST(MAX(lat_days) AS BIGINT) AS max_days,
      |       quantile_cont(lat_days, 0.5) AS p50,
      |       quantile_cont(lat_days, 0.9) AS p90,
      |       quantile_cont(lat_days, 0.99) AS p99
      |FROM j GROUP BY priority ORDER BY priority""".stripMargin

  // ---- z-score standardization ----------------------------------------

  /** `etl_standardize` — per-segment z-score standardization of account
    * balances: the StandardScaler sibling of `etl_minmax_scale`, the
    * other canonical ML-preprocessing transform. Sufficient statistics
    * (n, Σx, Σx²) accumulate as exact integers in cents (order-free —
    * the regression doctrine), so mean and sample-std are one fixed
    * double op sequence per group and every row's z is bit-identical
    * across engines.
    *
    * Scale: one hash aggregate for the per-group stats, broadcast back
    * over the row stream — a 100 TB standardize is one shuffle + one
    * narrow map, no sorting.
    */
  def etlStandardize(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        cents(col("c_acctbal")).as("bal_c"))
    val stats = cust.groupBy("segment").agg(
      count(lit(1)).as("n"),
      sum("bal_c").as("sx"),
      sum(col("bal_c") * col("bal_c")).as("sxx"))
    val nD = col("n").cast(DoubleType)
    cust.join(broadcast(stats), "segment")
      .withColumn("mean_c", col("sx").cast(DoubleType) / nD)
      .withColumn("std_c",
        sqrt((nD * col("sxx").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) /
          (nD * (nD - lit(1.0d)))))
      .select(col("c_custkey"), col("segment"), col("bal_c"),
        ((col("bal_c").cast(DoubleType) - col("mean_c")) / col("std_c"))
          .as("z"))
      .transform(RefQueries.gateSort(_, "c_custkey"))
  }

  val etlStandardizeSql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer
      |), s AS MATERIALIZED (
      |  SELECT segment, COUNT(*) AS n, CAST(SUM(bal_c) AS BIGINT) AS sx,
      |         CAST(SUM(bal_c * bal_c) AS BIGINT) AS sxx
      |  FROM c GROUP BY segment
      |)
      |SELECT c.c_custkey, c.segment, c.bal_c,
      |       (CAST(c.bal_c AS DOUBLE) - CAST(s.sx AS DOUBLE) / CAST(s.n AS DOUBLE)) /
      |       sqrt((CAST(s.n AS DOUBLE) * CAST(s.sxx AS DOUBLE) -
      |             CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)) /
      |            (CAST(s.n AS DOUBLE) * (CAST(s.n AS DOUBLE) - 1.0))) AS z
      |FROM c JOIN s ON c.segment = s.segment
      |ORDER BY c.c_custkey""".stripMargin

  // ---- drawdown accounting --------------------------------------------

  /** `analytics_drawdown` — peak-to-trough drawdown of the daily revenue
    * level per event type: running peak, per-day drawdown
    * (peak − level), and the maximum drawdown with the day it bottomed
    * (earliest such day on ties — a deterministic argmax via min-day
    * filter). The standard risk/health metric for any monitored series;
    * every quantity is exact integer cents, so both engines agree
    * bit-for-bit.
    *
    * Scale: one daily hash pre-aggregate, one running-max window per
    * type (sort within series), one O(days) final aggregate — series
    * cardinality everywhere, the same shape as `analytics_cusum`.
    */
  def analyticsDrawdown(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, sfDir, "events")
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").cast("long").as("day"),
        ExactAgg.cents(col("value")).as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("level_c"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val dd = daily
      .withColumn("peak_c", max("level_c").over(w))
      .withColumn("dd_c", col("peak_c") - col("level_c"))
    val agg = dd.groupBy("event_type").agg(
      count(lit(1)).as("n_days"),
      max("peak_c").as("max_peak_c"),
      max("dd_c").as("max_dd_c"))
    dd.join(agg, "event_type")
      .where(col("dd_c") === col("max_dd_c"))
      .groupBy("event_type")
      .agg(
        first("n_days", ignoreNulls = true).as("n_days"),
        first("max_peak_c", ignoreNulls = true).as("max_peak_c"),
        first("max_dd_c", ignoreNulls = true).as("max_dd_c"),
        min("day").as("trough_day"))
      .orderBy("event_type")
  }

  val analyticsDrawdownSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |              AS BIGINT) AS level_c
      |  FROM events GROUP BY 1, 2
      |), dd AS (
      |  SELECT event_type, day, level_c,
      |         MAX(level_c) OVER (PARTITION BY event_type ORDER BY day
      |           ROWS UNBOUNDED PRECEDING) AS peak_c
      |  FROM daily
      |), dd2 AS MATERIALIZED (
      |  SELECT event_type, day, peak_c - level_c AS dd_c, peak_c FROM dd
      |), agg AS (
      |  SELECT event_type, COUNT(*) AS n_days,
      |         CAST(MAX(peak_c) AS BIGINT) AS max_peak_c,
      |         CAST(MAX(dd_c) AS BIGINT) AS max_dd_c
      |  FROM dd2 GROUP BY event_type
      |)
      |SELECT d.event_type, any_value(a.n_days) AS n_days,
      |       any_value(a.max_peak_c) AS max_peak_c,
      |       any_value(a.max_dd_c) AS max_dd_c,
      |       MIN(d.day) AS trough_day
      |FROM dd2 d JOIN agg a ON d.event_type = a.event_type
      |WHERE d.dd_c = a.max_dd_c
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  // ---- Holt double-exponential smoothing ------------------------------

  /** `analytics_holt` — Holt linear-trend (double-exponential)
    * smoothing of the daily revenue series per event type, α = β = ½,
    * over a trailing 5-observation frame: the level+trend upgrade of
    * `analytics_ewma`, feeding the same one-step-ahead forecast use.
    * The recurrence l' = ½y + ½(l+b), b' = ½(l'−l) + ½b is unrolled
    * 4 steps from a (l=oldest, b=0) seed — every coefficient is dyadic,
    * so the whole fold runs in EXACT integer numerators at fixed scale
    * 256: per step from scale s, L' = 2(s·y + L + B), B' = s·y − L + 3B
    * at scale 4s. No float recurrence, no rounding-direction hazard;
    * the two exported doubles (level, one-step forecast) are dyadic
    * rationals exactly representable in IEEE-754.
    *
    * The trailing-frame restatement (vs the unbounded textbook
    * recurrence) is deliberate — same doctrine as `analytics_ewma`:
    * windowed state keeps the operator embarrassingly parallel, while
    * an unbounded Holt is a sequential per-key scan by definition (and
    * α = ½ forgets the seed at 1/16 weight anyway). Rows without a full
    * 5-deep frame are warm-up and not emitted.
    *
    * Scale: one daily pre-aggregate (hash, keyed by type × day) and one
    * lag window per type — series cardinality, not event cardinality.
    */
  def analyticsHolt(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, sfDir, "events")
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").cast("long").as("day"),
        ExactAgg.cents(col("value")).as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("y"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val framed = daily
      .withColumn("y1", lag(col("y"), 1).over(w))
      .withColumn("y2", lag(col("y"), 2).over(w))
      .withColumn("y3", lag(col("y"), 3).over(w))
      .withColumn("y4", lag(col("y"), 4).over(w))
      .where(col("y4").isNotNull)
    // unrolled dyadic fold, scale 1 → 4 → 16 → 64 → 256
    val l1 = (col("y3") + col("y4")) * 2
    val b1 = col("y3") - col("y4")
    val l2 = (col("y2") * 4 + l1 + b1) * 2
    val b2 = col("y2") * 4 - l1 + b1 * 3
    val l3 = (col("y1") * 16 + l2 + b2) * 2
    val b3 = col("y1") * 16 - l2 + b2 * 3
    val l4 = (col("y") * 64 + l3 + b3) * 2
    val b4 = col("y") * 64 - l3 + b3 * 3
    framed.select(
      col("event_type"), col("day"), col("y").as("actual_c"),
      l4.as("level_num_256"), b4.as("trend_num_256"),
      (l4.cast(DoubleType) / lit(25600.0d)).as("level"),
      ((l4 + b4).cast(DoubleType) / lit(25600.0d)).as("forecast_next"))
      .orderBy("event_type", "day")
  }

  val analyticsHoltSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |              AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2
      |), framed AS (
      |  SELECT event_type, day, y,
      |         lag(y, 1) OVER w AS y1, lag(y, 2) OVER w AS y2,
      |         lag(y, 3) OVER w AS y3, lag(y, 4) OVER w AS y4
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |), s1 AS (
      |  SELECT *, (y3 + y4) * 2 AS l1, y3 - y4 AS b1
      |  FROM framed WHERE y4 IS NOT NULL
      |), s2 AS (
      |  SELECT *, (y2 * 4 + l1 + b1) * 2 AS l2, y2 * 4 - l1 + b1 * 3 AS b2
      |  FROM s1
      |), s3 AS (
      |  SELECT *, (y1 * 16 + l2 + b2) * 2 AS l3, y1 * 16 - l2 + b2 * 3 AS b3
      |  FROM s2
      |), s4 AS (
      |  SELECT *, (y * 64 + l3 + b3) * 2 AS l4, y * 64 - l3 + b3 * 3 AS b4
      |  FROM s3
      |)
      |SELECT event_type, day, y AS actual_c,
      |       CAST(l4 AS BIGINT) AS level_num_256,
      |       CAST(b4 AS BIGINT) AS trend_num_256,
      |       CAST(l4 AS DOUBLE) / 25600.0 AS level,
      |       CAST(l4 + b4 AS DOUBLE) / 25600.0 AS forecast_next
      |FROM s4 ORDER BY event_type, day""".stripMargin

  // ---- seasonal-naive forecast backtest ------------------------------

  /** `analytics_forecast` — seasonal-naive backtest: forecast for day d
    * is the actual of day d−7 (same weekday), scored per event type
    * with MAE and mean signed bias over every day that HAS a
    * week-earlier observation. The forecast "join" is a calendar
    * self-join on (type, day−7) — NOT lag(7) over row positions, which
    * silently mis-aligns when days are missing. Integer cents until
    * the two final divisions.
    */
  def analyticsForecast(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = table(spark, sfDir, "events")
      .select(col("event_type"),
        expr("(ts div 1000) div 86400000000").cast("long").as("day"),
        ExactAgg.cents(col("value")).as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("actual_c"))
    val fc = daily.select(col("event_type"),
      (col("day") + 7).as("day"), col("actual_c").as("forecast_c"))
    daily.join(fc, Seq("event_type", "day"))
      .withColumn("err_c", col("actual_c") - col("forecast_c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("err_c"))).as("abs_err_c"),
        sum(col("err_c")).as("sum_err_c"))
      .select(col("event_type"), col("n_days"),
        (col("abs_err_c").cast(DoubleType) /
          col("n_days").cast(DoubleType)).as("mae_c"),
        (col("sum_err_c").cast(DoubleType) /
          col("n_days").cast(DoubleType)).as("bias_c"))
      .orderBy("event_type")
  }

  val analyticsForecastSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS actual_c
      |  FROM events GROUP BY event_type, epoch_us(ts) // 86400000000
      |), j AS (
      |  SELECT a.event_type, a.day,
      |         a.actual_c - f.actual_c AS err_c
      |  FROM daily a JOIN daily f
      |    ON a.event_type = f.event_type AND a.day = f.day + 7
      |)
      |SELECT event_type, COUNT(*) AS n_days,
      |       CAST(SUM(abs(err_c)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mae_c,
      |       CAST(SUM(err_c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS bias_c
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin

  /** `analytics_hhi` — Herfindahl–Hirschman concentration index per
    * market segment: Σ over customers of (their revenue share)², the
    * antitrust/market-power summary (1e6 ≡ monopoly, →0 ≡ atomized).
    *
    * Determinism: revenue floors to integer THOUSANDS of dollars
    * (cents DIV 100000) and the index is DEFINED as the sum of
    * per-customer integral terms (rev_k²·1e6) DIV tot_k² — floors
    * commute with nothing, so both engines spell the same flooring.
    * Bounds: rev_k ≤ ~10⁴ at sf0.1 → per-term numerator ≤ 10¹⁴ and
    * tot_k² ≤ ~10¹⁴, far under 2⁶³ even at 100× data; past that the
    * numerator cast widens to DECIMAL, same algebra.
    *
    * Scale: two hash aggregates (orders→customer revenue, then the
    * per-segment index) with the segment totals rejoined as a
    * broadcast — group keys are customers then segments, the
    * classic shrinking-cardinality pipeline.
    */
  def analyticsHhi(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = table(spark, sfDir, "orders")
      .join(broadcast(table(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
      .select(col("segment"), expr("rev_c DIV 100000").as("rev_k"))
    val tot = rev.groupBy("segment")
      .agg(sum(col("rev_k")).as("tot_k"), count(lit(1)).as("n_customers"))
    rev.join(broadcast(tot), "segment")
      .groupBy("segment")
      .agg(max(col("n_customers")).as("n_customers"),
        max(col("tot_k")).as("tot_k"),
        // rev_k²·10⁶ (and tot_k²) are squared SUMMED-revenue magnitudes
        // — widened through DECIMAL(38,0) per the analytics_pareto
        // overflow class (GateHygieneSpec); the r16 verdict
        // accepted the documented per-customer bound, but the r17
        // doctrine widens the whole class rather than carrying
        // per-site headroom arguments. DIV lands back in LONG.
        sum(expr("CAST(rev_k AS DECIMAL(38,0)) * rev_k * 1000000" +
          " DIV (CAST(tot_k AS DECIMAL(38,0)) * tot_k)"))
          .as("hhi_1e6"))
      .orderBy("segment")
  }

  val analyticsHhiSql: String =
    """WITH rev AS MATERIALIZED (
      |  SELECT c.c_mktsegment AS segment, o.o_custkey,
      |         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           // 100000 AS rev_k
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2
      |), tot AS (
      |  SELECT segment, CAST(SUM(rev_k) AS BIGINT) AS tot_k,
      |         COUNT(*) AS n_customers
      |  FROM rev GROUP BY segment
      |)
      |SELECT r.segment, t.n_customers, t.tot_k,
      |       CAST(SUM(CAST(r.rev_k AS HUGEINT) * r.rev_k * 1000000
      |                // (CAST(t.tot_k AS HUGEINT) * t.tot_k))
      |            AS BIGINT) AS hhi_1e6
      |FROM rev r JOIN tot t ON t.segment = r.segment
      |GROUP BY r.segment, t.n_customers, t.tot_k
      |ORDER BY r.segment""".stripMargin

  /** `analytics_bollinger` — rolling volatility bands per event type:
    * over the daily revenue series, the trailing-7-day mean ± 2σ and a
    * breach flag (the time-LOCAL anomaly signal; analytics_anomaly is
    * the global-3σ complement — a regime shift flags here first).
    *
    * Determinism doctrine: the rolling window aggregates are exact
    * BIGINT sums of integer cents (count/sum/sumsq over a ROWS frame —
    * frame membership is integral), and mean/σ/bands are then a fixed
    * scalar IEEE sequence (÷, −, ×, √ — all correctly rounded) spelled
    * identically in the oracle. Only full 7-day windows emit (a
    * partial-window σ is not the 7-day band).
    *
    * Overflow horizon: the squared term `day_c * day_c` is BIGINT, so a
    * single (type, day) exceeding ~3.03e9 cents (≈ $30.4M/day) would
    * overflow — where non-ANSI Spark wraps silently and DuckDB errors,
    * a cross-engine divergence. The gated corpus tops out around 1e7
    * cents/day (values ≤ 1000.0, ≤ ~1e4 events/type/day at sf0.1),
    * five orders of magnitude inside the horizon; a 100 TB deployment
    * crossing it must widen the squared term to DECIMAL(38,0) before
    * summing (same doctrine note as analytics_hhi).
    *
    * Scale: one shuffle on event_type for the daily rollup (map-side
    * combined), then a per-type ROWS window over O(days) rows.
    */
  def analyticsBollinger(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, sfDir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000) div 86400000000").cast("long").as("day"))
      .agg(sum(cents(col("value"))).as("day_c"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-6, 0)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sm", sum(col("day_c")).over(w))
      .withColumn("ss", sum(col("day_c") * col("day_c")).over(w))
      .where(col("n") === 7)
      .withColumn("mean", col("sm").cast(DoubleType) / lit(7.0))
      .withColumn("sd",
        sqrt(col("ss").cast(DoubleType) / lit(7.0) - col("mean") * col("mean")))
      .select(col("event_type"), col("day"), col("day_c"),
        (col("mean") + lit(2.0) * col("sd")).as("upper_c"),
        (col("mean") - lit(2.0) * col("sd")).as("lower_c"),
        (col("day_c").cast(DoubleType) > col("mean") + lit(2.0) * col("sd") ||
          col("day_c").cast(DoubleType) < col("mean") - lit(2.0) * col("sd"))
          .cast("long").as("breach"))
      .orderBy("event_type", "day")
  }

  val analyticsBollingerSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_c
      |  FROM events GROUP BY 1, 2
      |), win AS (
      |  SELECT event_type, day, day_c,
      |         COUNT(*) OVER w AS n,
      |         CAST(SUM(day_c) OVER w AS BIGINT) AS sm,
      |         CAST(SUM(day_c * day_c) OVER w AS BIGINT) AS ss
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |), bands AS (
      |  SELECT event_type, day, day_c,
      |         CAST(sm AS DOUBLE) / 7.0 AS mean,
      |         sqrt(CAST(ss AS DOUBLE) / 7.0
      |              - (CAST(sm AS DOUBLE) / 7.0) * (CAST(sm AS DOUBLE) / 7.0))
      |           AS sd
      |  FROM win WHERE n = 7
      |)
      |SELECT event_type, day, day_c,
      |       mean + 2.0 * sd AS upper_c,
      |       mean - 2.0 * sd AS lower_c,
      |       CAST(CAST(day_c AS DOUBLE) > mean + 2.0 * sd
      |            OR CAST(day_c AS DOUBLE) < mean - 2.0 * sd AS BIGINT) AS breach
      |FROM bands ORDER BY event_type, day""".stripMargin

  /** `analytics_survival` — Kaplan–Meier curve for time-to-first-
    * purchase: per user, duration in days from their first event to
    * their first purchase (event) or to their last observed event
    * (right-censored). At each event time t: n = users still at risk,
    * d = events at t, and the survival estimate
    * S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) — the standard estimator under
    * right-censoring (Kaplan & Meier 1958).
    *
    * Determinism: n and d are exact integers (one cumulative integer
    * window), and S is DEFINED as the LEFT FOLD of (1 − d/n) factors
    * in ascending-t order — the Spark side folds with `aggregate` over
    * the step prefix, the oracle replays the identical fold as a
    * recursive CTE (S₀ = 1, Sᵢ = Sᵢ₋₁·(1 − dᵢ/nᵢ)). Same fixed IEEE
    * op sequence, no product-reassociation drift (a window PRODUCT
    * aggregate would multiply in segment-tree order — different bits).
    *
    * Scale: two hash aggregates down to O(distinct durations) step
    * rows; ONE linear state-array fold over that tiny step table (k ≈
    * observation span in days), never over users.
    */
  def analyticsSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = table(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(
        min(expr("(ts div 1000) div 86400000000")).as("first_day"),
        max(expr("(ts div 1000) div 86400000000")).as("last_day"),
        min(when(col("event_type") === "purchase",
          expr("(ts div 1000) div 86400000000"))).as("purch_day"))
      .select(col("user_id"),
        (coalesce(col("purch_day"), col("last_day")) - col("first_day"))
          .cast("long").as("dur"),
        col("purch_day").isNotNull.cast("long").as("ev"))
    val byDur = perUser.groupBy("dur")
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("leaving"))
      .persistIntermediate // scanned by the prefix sum AND the total
    // the exclusive "already gone" prefix is the INCLUSIVE running sum
    // minus the row's own count (first row: leaving − leaving = 0), over
    // O(distinct durations) rows — the observation span in days, so a
    // plain window (TwoPassWindow's size rule)
    val steps = byDur
      .withColumn("cum_leaving", sum(col("leaving")).over(
        Window.orderBy("dur")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(byDur.agg(sum(col("leaving")).as("total"))))
      .withColumn("gone", col("cum_leaving") - col("leaving"))
      .select(col("dur").as("t"), col("d"),
        (col("total") - col("gone")).as("n"))
      .where(col("d") > 0)
    // all steps into ONE ordered array (k rows), then ONE linear left
    // fold whose accumulator carries (current product, all prefix
    // products so far): out[i] is exactly the fold of factors 1..i+1,
    // the same IEEE multiply sequence the old per-row
    // aggregate(slice(arr, 1, i+1), …) re-ran from scratch — that
    // shape was O(k²) lambda evaluations per group; this is O(k) fold
    // steps (the array concat copies keep it O(k²) in 8-byte moves,
    // negligible next to interpreted expression evals). Identical
    // bits, since prefix j's value is the identical ordered product.
    steps
      .agg(sort_array(collect_list(struct(col("t"), col("d"), col("n"))))
        .as("arr"))
      .select(col("arr"),
        aggregate(col("arr"),
          struct(lit(1.0).as("s"),
            array().cast("array<double>").as("out")),
          (acc, x) => {
            val newS = acc.getField("s") * (lit(1.0) -
              x.getField("d").cast(DoubleType) /
                x.getField("n").cast(DoubleType))
            struct(newS.as("s"),
              concat(acc.getField("out"), array(newS)).as("out"))
          },
          acc => acc.getField("out")).as("surv"))
      .select(posexplode(arrays_zip(col("arr"), col("surv")))
        .as(Seq("i", "z")))
      .select(
        col("z.arr.t").as("t"), col("z.arr.n").as("n_risk"),
        col("z.arr.d").as("d_events"), col("z.surv").as("survival"))
      .orderBy("t")
  }

  val analyticsSurvivalSql: String =
    """WITH RECURSIVE per_user AS MATERIALIZED (
      |  SELECT user_id,
      |         COALESCE(MIN(CASE WHEN event_type = 'purchase'
      |                           THEN epoch_us(ts) // 86400000000 END),
      |                  MAX(epoch_us(ts) // 86400000000))
      |           - MIN(epoch_us(ts) // 86400000000) AS dur,
      |         CAST(MIN(CASE WHEN event_type = 'purchase'
      |                       THEN epoch_us(ts) // 86400000000 END) IS NOT NULL
      |              AS BIGINT) AS ev
      |  FROM events GROUP BY user_id
      |), by_dur AS MATERIALIZED (
      |  SELECT dur, CAST(SUM(ev) AS BIGINT) AS d, COUNT(*) AS leaving
      |  FROM per_user GROUP BY dur
      |), steps AS (
      |  SELECT dur AS t, d,
      |         CAST((SELECT SUM(leaving) FROM by_dur) AS BIGINT)
      |           - CAST(COALESCE(SUM(leaving) OVER
      |               (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
      |                AND 1 PRECEDING), 0) AS BIGINT) AS n
      |  FROM by_dur QUALIFY d > 0
      |), numbered AS MATERIALIZED (
      |  SELECT t, d, n, row_number() OVER (ORDER BY t) AS rn FROM steps
      |), fold AS (
      |  SELECT t, d, n, rn,
      |         1.0 * (1.0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE)) AS s
      |  FROM numbered WHERE rn = 1
      |  UNION ALL
      |  SELECT x.t, x.d, x.n, x.rn,
      |         f.s * (1.0 - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE))
      |  FROM numbered x JOIN fold f ON x.rn = f.rn + 1
      |)
      |SELECT t, n AS n_risk, d AS d_events, s AS survival
      |FROM fold ORDER BY t""".stripMargin

  /** `analytics_cusum` — CUSUM changepoint detection on the per-type
    * daily revenue series (Page 1954): the one-sided cumulative sum of
    * deviations from the series mean, sᵢ = max(0, sᵢ₋₁ + devᵢ), which
    * accumulates through a sustained level shift that per-day z-scores
    * (analytics_anomaly) and rolling bands (analytics_bollinger) both
    * miss. A day flags when its CUSUM exceeds 1/5 of the series' total
    * absolute deviation — a scale-free integer comparison.
    *
    * Determinism: ENTIRELY integer. Deviations are scaled by n
    * (dev = day_c·n − sm, units cents·n) so the mean never becomes a
    * rational. The recurrence sᵢ = max(0, sᵢ₋₁ + devᵢ) is evaluated
    * through its exact closed form sᵢ = Cᵢ − min(0, min_{j≤i} Cⱼ)
    * with Cᵢ the running deviation sum (induction: s₁ = max(0, C₁) =
    * C₁ − min(0, C₁); sᵢ = max(0, Cᵢ − mᵢ₋₁) = Cᵢ − min(mᵢ₋₁, Cᵢ, 0)
    * = Cᵢ − mᵢ) — running sum and running min over BIGINTs, so the
    * integers are bit-identical to the oracle's recursive-CTE left
    * fold of the recurrence itself, no floats anywhere.
    *
    * Scale: one hash aggregate to O(types × days) rows, then two
    * cumulative window passes per type — linear in series length and
    * fully whole-stage-codegen, no per-row array re-folds (the
    * previous aggregate(slice(arr, 1, i+1)) shape was O(days²)
    * interpreted lambda evals per type) and no O(series) array in
    * memory, so a series longer than a collect_list can hold is fine.
    */
  def analyticsCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, sfDir, "events")
      .groupBy(col("event_type"),
        expr("(ts div 1000) div 86400000000").cast("long").as("day"))
      .agg(sum(cents(col("value"))).as("day_c"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("day_c")).as("sm"))
    // O(types) rows — broadcast the totals back onto the daily series
    val dev = daily.join(broadcast(tot), Seq("event_type"))
      .withColumn("dev", col("day_c") * col("n") - col("sm"))
    val wRun = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    dev
      .withColumn("c", sum(col("dev")).over(wRun))
      .withColumn("m", min(col("c")).over(wRun))
      .withColumn("cusum_scaled", col("c") - least(lit(0L), col("m")))
      .withColumn("sumabs", sum(abs(col("dev"))).over(wAll))
      .select(col("event_type"), col("day"), col("day_c"),
        col("cusum_scaled"),
        (col("cusum_scaled") * 5 > col("sumabs")).cast("long").as("flag"))
      .orderBy("event_type", "day")
  }

  val analyticsCusumSql: String =
    """WITH RECURSIVE daily AS MATERIALIZED (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_c
      |  FROM events GROUP BY 1, 2
      |), tot AS (
      |  SELECT event_type, COUNT(*) AS n,
      |         CAST(SUM(day_c) AS BIGINT) AS sm
      |  FROM daily GROUP BY event_type
      |), devs AS MATERIALIZED (
      |  SELECT d.event_type, d.day, d.day_c,
      |         d.day_c * t.n - t.sm AS dev,
      |         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
      |  FROM daily d JOIN tot t USING (event_type)
      |), sumabs AS MATERIALIZED (
      |  SELECT event_type, CAST(SUM(abs(dev)) AS BIGINT) AS sumabs
      |  FROM devs GROUP BY event_type
      |), fold AS (
      |  SELECT event_type, day, day_c, rn,
      |         GREATEST(CAST(0 AS BIGINT), dev) AS s
      |  FROM devs WHERE rn = 1
      |  UNION ALL
      |  SELECT x.event_type, x.day, x.day_c, x.rn,
      |         GREATEST(CAST(0 AS BIGINT), f.s + x.dev)
      |  FROM devs x JOIN fold f
      |    ON x.event_type = f.event_type AND x.rn = f.rn + 1
      |)
      |SELECT f.event_type, f.day, f.day_c,
      |       f.s AS cusum_scaled,
      |       CAST(f.s * 5 > a.sumabs AS BIGINT) AS flag
      |FROM fold f JOIN sumabs a USING (event_type)
      |ORDER BY f.event_type, f.day""".stripMargin

  // ---- inequality / concentration ------------------------------------

  /** `analytics_theil` — Theil T inequality index per market segment,
    * the entropy-based sibling of [[analyticsGini]]: T = Σ (xᵢ/S)·log(xᵢ·n/S)
    * — zero for perfect equality, log n for total concentration, and
    * (unlike Gini) exactly decomposable into within/between-group terms,
    * which is why economists report it alongside Gini.
    *
    * Log base 2 via the [[graft.functions.IntegerLog2]] kernel (shared
    * mantissa table, bit-identical cross-engine); reported as
    * theil_log2_1e6 = (Σ xᵢ·(log2_1e6(xᵢ·n) − log2_1e6(S))) DIV S —
    * multiply by ln 2 for the natural-log spelling. Overflow horizon:
    * the per-row term is ≤ x·log2_1e6(x·n) ≈ 10⁶·3.5·10⁷; the BIGINT
    * sum holds through ~sf1 (150k rows/segment) with ~15× headroom and
    * would move to DECIMAL(38) beyond (the analytics_hhi doctrine).
    *
    * Scale: one aggregate for per-segment (n, S), one broadcast join
    * back, one aggregate of per-row terms — two shuffles total, both
    * keyed on the tiny segment domain.
    */
  def analyticsTheil(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.IntegerLog2
    val cust = table(spark, sfDir, "customer")
      .select(col("c_mktsegment").as("segment"), cents(col("c_acctbal")).as("x"))
      .where(col("x") > 0)
    val tot = cust.groupBy("segment")
      .agg(count(lit(1)).as("n"), sum("x").as("s"))
    cust.join(broadcast(tot), "segment")
      .withColumn("term",
        col("x") * (IntegerLog2.log2s(col("x") * col("n")) -
          IntegerLog2.log2s(col("s"))))
      .groupBy("segment")
      .agg(max("n").as("n"), max("s").as("sum_cents"),
        sum("term").as("tnum"))
      .select(col("segment"), col("n"), col("sum_cents"),
        expr("tnum DIV sum_cents").as("theil_log2_1e6"))
      .orderBy("segment")
  }

  val analyticsTheilSql: String = {
    import graft.functions.IntegerLog2.log2Sql
    s"""WITH src AS MATERIALIZED (
       |  SELECT segment, x FROM (
       |    SELECT c_mktsegment AS segment,
       |           CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x
       |    FROM customer
       |  ) WHERE x > 0
       |), tot AS (
       |  SELECT segment, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sc
       |  FROM src GROUP BY segment
       |), terms AS (
       |  SELECT s.segment, s.x, t.n, t.sc, s.x * t.n AS xn
       |  FROM src s JOIN tot t USING (segment)
       |), scored AS (
       |  SELECT segment, n, sc,
       |         x * (${log2Sql("xn")} - ${log2Sql("sc")}) AS term
       |  FROM terms
       |)
       |SELECT segment, CAST(MAX(n) AS BIGINT) AS n,
       |       CAST(MAX(sc) AS BIGINT) AS sum_cents,
       |       CAST(SUM(term) // MAX(sc) AS BIGINT) AS theil_log2_1e6
       |FROM scored GROUP BY segment ORDER BY segment""".stripMargin
  }

  /** `analytics_pareto` — the classic concentration report ("do 20% of
    * customers carry 80% of revenue?"): customers ranked by total order
    * spend, split into spend deciles, each decile reported with its
    * customer count, revenue, and the CUMULATIVE revenue share in ppm
    * (integral: cum·10⁶ DIV total). The table a revenue analyst reads
    * next to [[analyticsGini]]'s single coefficient.
    *
    * Determinism: the rank order is total (spend desc, custkey), ntile
    * remainder distribution is the SQL-standard front-loading in both
    * engines, and all arithmetic is integer cents — with the ppm scale
    * routed through DECIMAL(38,0) (HUGEINT in the twin): cum_cents·10⁶
    * measured a long overflow at sf1 (~2.3e13 total cents × 1e6 >
    * 2⁶³), the first operator the 100×-scale run actually named.
    *
    * Scale: per-customer rollup is one hash aggregate; the ranking
    * window is over the CUSTOMER aggregate (not the fact table) and
    * range-partitions at real scale; the decile rollup and prefix sum
    * run on 10 rows.
    */
  def analyticsPareto(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = table(spark, sfDir, "orders")
      .select(col("o_custkey"), cents(col("o_totalprice")).as("c"))
      .groupBy("o_custkey").agg(sum("c").as("spend_c"))
    // r21: exact deciles via the two-pass global ntile (§2 offset
    // correction) — the customer frame previously sorted through ONE
    // task. The prefix sum + grand total over the TEN decile rows need
    // no window machinery at all: one broadcast self-join with a
    // conditional sum is the same integers (decile is unique per row)
    // with no single-task stage and no extra passes.
    val dec = graft.ops.TwoPassWindow.withNtile(spend, 10,
        Seq(desc("spend_c"), col("o_custkey")), "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("spend_c").as("decile_cents"))
      .persistIntermediate // scanned by both sides of the 10-row join
    dec.join(broadcast(dec.select(col("decile").as("bd"),
        col("decile_cents").as("bc"))), lit(true))
      .groupBy("decile", "n_customers", "decile_cents")
      .agg(sum(when(col("bd") <= col("decile"), col("bc"))).as("cum_cents"),
        sum("bc").as("total_cents"))
      .select(col("decile"), col("n_customers"), col("decile_cents"),
        expr("CAST(cum_cents AS DECIMAL(38,0)) * 1000000 DIV total_cents")
          .as("cum_share_ppm"))
      .orderBy("decile")
  }

  val analyticsParetoSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS spend_c
      |  FROM orders GROUP BY o_custkey
      |), dec AS (
      |  SELECT CAST(ntile(10) OVER (ORDER BY spend_c DESC, o_custkey) AS BIGINT) AS decile,
      |         spend_c
      |  FROM spend
      |), rolled AS MATERIALIZED (
      |  SELECT decile, COUNT(*) AS n_customers,
      |         CAST(SUM(spend_c) AS BIGINT) AS decile_cents
      |  FROM dec GROUP BY decile
      |)
      |SELECT decile, n_customers, decile_cents,
      |       CAST(CAST(SUM(decile_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
      |            AS HUGEINT)
      |            * 1000000 // (SELECT SUM(decile_cents) FROM rolled) AS BIGINT)
      |         AS cum_share_ppm
      |FROM rolled ORDER BY decile""".stripMargin

  /** `analytics_stl_decompose` — additive trend/seasonal/residual
    * decomposition of the daily revenue series (the STL shape, with
    * the classical moving-average estimators): trend = centered 7-day
    * mean (full windows only), seasonal = per-weekday mean of the
    * detrended series, residual = the rest. All integer cents with DIV
    * floors — trend_c NULL on the 3-day edges, where seasonal/residual
    * are NULL too. The decomposition behind every "is this spike
    * seasonality or anomaly?" dashboard.
    *
    * Scale: one daily rollup (fact-table hash agg), one O(days)
    * centered window, one 7-group aggregate broadcast back — the
    * series frames are calendar-bounded.
    */
  def analyticsStlDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, sfDir, "lineitem")
      .select(
        expr("CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000 AS BIGINT)")
          .as("day"),
        ExactAgg.cents(col("l_extendedprice")).as("cents"))
      .groupBy("day").agg(sum("cents").as("rev_c"))
    // the series is calendar-bounded, so the centered 7-row frame is the
    // twin's plain window (TwoPassWindow's size rule)
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("s7", sum("rev_c").over(w7))
      .withColumn("trend_c", when(col("n7") === 7, expr("s7 DIV 7")))
      .withColumn("det_c", col("rev_c") - col("trend_c"))
      .withColumn("weekday", expr("(day + 4) % 7"))
    val seasonal = trended.where(col("det_c").isNotNull)
      .groupBy("weekday")
      .agg(expr("sum(det_c) DIV count(1)").as("seasonal_c"))
    trended.join(broadcast(seasonal), Seq("weekday"), "left")
      .select(col("day"), col("rev_c"), col("trend_c"),
        when(col("trend_c").isNotNull, col("seasonal_c")).as("seasonal_c"),
        when(col("trend_c").isNotNull, col("det_c") - col("seasonal_c"))
          .as("resid_c"))
      .orderBy("day")
  }

  val analyticsStlDecomposeSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT epoch_ms(l_shipdate) // 86400000 AS day,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1
      |), t AS MATERIALIZED (
      |  SELECT day, rev_c,
      |         COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7,
      |         CAST(SUM(rev_c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |              AS BIGINT) AS s7
      |  FROM daily
      |), tr AS (
      |  SELECT day, rev_c,
      |         CASE WHEN n7 = 7 THEN s7 // 7 END AS trend_c,
      |         (day + 4) % 7 AS weekday
      |  FROM t
      |), det AS MATERIALIZED (
      |  SELECT *, rev_c - trend_c AS det_c FROM tr
      |), seas AS (
      |  SELECT weekday, CAST(SUM(det_c) // COUNT(*) AS BIGINT) AS seasonal_c
      |  FROM det WHERE det_c IS NOT NULL GROUP BY weekday
      |)
      |SELECT d.day, d.rev_c, d.trend_c,
      |       CASE WHEN d.trend_c IS NOT NULL THEN s.seasonal_c END AS seasonal_c,
      |       CASE WHEN d.trend_c IS NOT NULL THEN d.det_c - s.seasonal_c END AS resid_c
      |FROM det d LEFT JOIN seas s ON s.weekday = d.weekday
      |ORDER BY d.day""".stripMargin

  /** `analytics_churn` — weekly churn accounting over the event log:
    * for every week with a successor, how many active users did not
    * return the following week? The product-health counterpart of
    * analytics_active_users' rolling DAU/WAU. Weeks are absolute
    * (epoch_day DIV 7) so the bucketing is integer and engine-neutral.
    *
    * Scale: one (week, user) distinct aggregate, one self-join shifted
    * by a week on the user key, one rollup — all user-keyed shuffles.
    */
  def analyticsChurn(spark: SparkSession, sfDir: String): DataFrame = {
    // table() normalizes events.ts to a NANO long (RefQueries.table);
    // DIV 1000 gives exact microseconds, matching the oracle's epoch_us
    val active = table(spark, sfDir, "events")
      .select(expr("CAST((ts DIV 1000) DIV 604800000000 AS BIGINT)").as("week"),
        col("user_id"))
      .distinct()
      .persistIntermediate
    val next = active.select((col("week") - 1).as("wk_prev"),
      col("user_id").as("uid2"), lit(1L).as("back"))
    val weeks = active.select(max("week").as("maxw"))
    active
      .join(next,
        col("week") === col("wk_prev") && col("user_id") === col("uid2"),
        "left")
      .crossJoin(broadcast(weeks))
      .where(col("week") < col("maxw"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(coalesce(col("back"), lit(0L))).as("n_retained"))
      .select(col("week"), col("n_active"), col("n_retained"),
        (col("n_active") - col("n_retained")).as("n_churned"),
        expr("(n_active - n_retained) * 1000000L DIV n_active")
          .as("churn_ppm"))
      .orderBy("week")
  }

  val analyticsChurnSql: String =
    """WITH active AS MATERIALIZED (
      |  SELECT DISTINCT epoch_us(ts) // 604800000000 AS week, user_id
      |  FROM events
      |), mx AS MATERIALIZED (
      |  SELECT MAX(week) AS maxw FROM active
      |)
      |SELECT a.week, COUNT(*) AS n_active,
      |       CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_retained,
      |       CAST(COUNT(*) - SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_churned,
      |       CAST((COUNT(*) - SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END))
      |            * 1000000 // COUNT(*) AS BIGINT) AS churn_ppm
      |FROM active a
      |CROSS JOIN mx
      |LEFT JOIN active b ON b.week = a.week + 1 AND b.user_id = a.user_id
      |WHERE a.week < mx.maxw
      |GROUP BY a.week ORDER BY a.week""".stripMargin

  /** `analytics_winsorized_mean` — outlier-robust mean per market
    * segment: balances are CLAMPED to the segment's [p5, p95] before
    * averaging (winsorizing — the robust-reporting alternative to
    * trimming, which drops rows and changes n). Integer doctrine: the
    * clamp bounds are ceil(p5)/floor(p95) of the exact interpolated
    * percentiles — integral cents, so the clamped sum is an exact
    * BIGINT and the mean one fixed double ratio; the plain mean rides
    * along to show the robustness gap.
    *
    * Scale: one percentile aggregate per segment broadcast back over
    * the scan, one clamped-sum aggregate — two segment-keyed shuffles.
    */
  def analyticsWinsorizedMean(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_mktsegment").as("segment"), cents(col("c_acctbal")).as("x"))
    val bounds = cust.groupBy("segment").agg(
      ceil(percentile(col("x"), lit(0.05))).cast(LongType).as("lo_c"),
      floor(percentile(col("x"), lit(0.95))).cast(LongType).as("hi_c"))
    cust.join(broadcast(bounds), "segment")
      .withColumn("w", least(greatest(col("x"), col("lo_c")), col("hi_c")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), max("lo_c").as("lo_c"), max("hi_c").as("hi_c"),
        sum("w").as("wsum"), sum("x").as("rsum"))
      .select(col("segment"), col("n"), col("lo_c"), col("hi_c"),
        (col("wsum").cast(DoubleType) / col("n").cast(DoubleType))
          .as("winsorized_mean_c"),
        (col("rsum").cast(DoubleType) / col("n").cast(DoubleType))
          .as("raw_mean_c"))
      .orderBy("segment")
  }

  val analyticsWinsorizedMeanSql: String =
    """WITH src AS MATERIALIZED (
      |  SELECT c_mktsegment AS segment,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x
      |  FROM customer
      |), b AS MATERIALIZED (
      |  SELECT segment,
      |         CAST(ceil(quantile_cont(x, 0.05)) AS BIGINT) AS lo_c,
      |         CAST(floor(quantile_cont(x, 0.95)) AS BIGINT) AS hi_c
      |  FROM src GROUP BY segment
      |)
      |SELECT s.segment, COUNT(*) AS n,
      |       MAX(b.lo_c) AS lo_c, MAX(b.hi_c) AS hi_c,
      |       CAST(SUM(LEAST(GREATEST(s.x, b.lo_c), b.hi_c)) AS DOUBLE)
      |         / CAST(COUNT(*) AS DOUBLE) AS winsorized_mean_c,
      |       CAST(SUM(s.x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS raw_mean_c
      |FROM src s JOIN b ON b.segment = s.segment
      |GROUP BY s.segment ORDER BY s.segment""".stripMargin

  // ---- two-sample nonparametric tests --------------------------------

  /** `analytics_ks_test` — exact two-sample Kolmogorov–Smirnov statistic
    * comparing account-balance distributions between the BUILDING and
    * AUTOMOBILE market segments: D = max_v |F₁(v) − F₂(v)|, reported as
    * ks_1e6 = max |cum₁·n₂ − cum₂·n₁| · 10⁶ DIV (n₁·n₂) — the ECDF gap
    * cleared of denominators so every comparison is BIGINT-exact (no
    * float ECDF), plus the balance (cents) where the max is attained
    * (smallest such value on ties, via the struct-argmax trick).
    *
    * Scale: one hash aggregate to the distinct-value histogram
    * (conditional counts per sample), one running sum over the value
    * order, one final aggregate. The running sum is a global window over
    * the HISTOGRAM, not the rows — its size is bounded by the value
    * domain (balance cents here), and at a scale where even that
    * overflows one partition the standard two-pass range-partitioned
    * prefix sum substitutes without changing the algebra.
    */
  def analyticsKsTest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = table(spark, sfDir, "customer")
      .where(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .select(col("c_mktsegment").as("seg"), cents(col("c_acctbal")).as("v"))
    val hist = cust.groupBy("v").agg(
      sum(when(col("seg") === "BUILDING", 1L).otherwise(0L)).as("c1"),
      sum(when(col("seg") === "AUTOMOBILE", 1L).otherwise(0L)).as("c2"))
    // r21: the ECDF prefix sums ran as an unpartitioned window (the
    // whole histogram through ONE task); the two-pass construction is
    // the same integers with no single-partition stage (§2)
    val cum = graft.ops.TwoPassWindow.withRunningSums(hist, Seq(col("v")),
      Seq(col("c1") -> "cum1", col("c2") -> "cum2"))
    val tot = cum.agg(max("cum1").as("n1"), max("cum2").as("n2"))
    cum.crossJoin(broadcast(tot))
      .withColumn("d",
        abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
      .groupBy("n1", "n2")
      .agg(max(struct(col("d").as("d"), (-col("v")).as("mv"))).as("m"))
      .select(col("n1"), col("n2"),
        expr("m.d * 1000000L DIV (n1 * n2)").as("ks_1e6"),
        (-col("m.mv")).as("at_cents"))
  }

  val analyticsKsTestSql: String =
    """WITH src AS MATERIALIZED (
      |  SELECT c_mktsegment AS seg,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
      |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      |), hist AS (
      |  SELECT v,
      |         SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
      |         SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS c2
      |  FROM src GROUP BY v
      |), cum AS MATERIALIZED (
      |  SELECT v,
      |         SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
      |         SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
      |  FROM hist
      |), tot AS (
      |  SELECT MAX(cum1) AS n1, MAX(cum2) AS n2 FROM cum
      |)
      |SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
      |       CAST((MAX(struct_pack(d := abs(c.cum1 * t.n2 - c.cum2 * t.n1),
      |                             mv := -c.v))).d
      |            * 1000000 // (t.n1 * t.n2) AS BIGINT) AS ks_1e6,
      |       -(MAX(struct_pack(d := abs(c.cum1 * t.n2 - c.cum2 * t.n1),
      |                         mv := -c.v))).mv AS at_cents
      |FROM cum c CROSS JOIN tot t
      |GROUP BY t.n1, t.n2""".stripMargin

  /** `analytics_mann_whitney` — exact Mann–Whitney U (Wilcoxon
    * rank-sum) over the same two balance samples. Tie-safe INTEGER
    * spelling: ranks are kept DOUBLED (a value covering combined ranks
    * c_less+1 … c_less+c has doubled midrank 2·c_less + c + 1), so the
    * classic U₁ = R₁ − n₁(n₁+1)/2 becomes u1_2x = Σ c₁·rank2 − n₁(n₁+1)
    * with every term a BIGINT — no half-rank floats to drift. Also
    * reports the rank-biserial effect size as auc_1e6 = U₁·10⁶ DIV
    * (n₁·n₂) (the probability a random BUILDING balance exceeds a
    * random AUTOMOBILE one).
    *
    * Scale: identical histogram + prefix-sum shape as
    * [[analyticsKsTest]] — one hash agg, one bounded window, one final
    * agg; nothing per-row leaves the executors.
    */
  def analyticsMannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = table(spark, sfDir, "customer")
      .where(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .select(col("c_mktsegment").as("seg"), cents(col("c_acctbal")).as("v"))
    val hist = cust.groupBy("v").agg(
      sum(when(col("seg") === "BUILDING", 1L).otherwise(0L)).as("c1"),
      sum(when(col("seg") === "AUTOMOBILE", 1L).otherwise(0L)).as("c2"))
    // r21: two-pass prefix sum — same integers, no single-partition
    // window stage (§2; see analyticsKsTest)
    val ranked = graft.ops.TwoPassWindow.withRunningSums(hist,
        Seq(col("v")), Seq((col("c1") + col("c2")) -> "cum"))
      .withColumn("rank2",
        lit(2L) * (col("cum") - col("c1") - col("c2")) +
          (col("c1") + col("c2")) + lit(1L))
    ranked.agg(
      sum("c1").as("n1"),
      sum("c2").as("n2"),
      sum(col("c1") * col("rank2")).as("r1_2x"))
      .select(col("n1"), col("n2"),
        expr("r1_2x - n1 * (n1 + 1)").as("u1_2x"),
        expr("2 * n1 * n2 - (r1_2x - n1 * (n1 + 1))").as("u2_2x"),
        expr("(r1_2x - n1 * (n1 + 1)) * 1000000L DIV (2 * n1 * n2)")
          .as("auc_1e6"))
  }

  val analyticsMannWhitneySql: String =
    """WITH src AS MATERIALIZED (
      |  SELECT c_mktsegment AS seg,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
      |  FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      |), hist AS (
      |  SELECT v,
      |         SUM(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS c1,
      |         SUM(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS c2
      |  FROM src GROUP BY v
      |), ranked AS (
      |  SELECT c1, c2,
      |         2 * (SUM(c1 + c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
      |              - c1 - c2) + (c1 + c2) + 1 AS rank2
      |  FROM hist
      |), agg AS (
      |  SELECT SUM(c1) AS n1, SUM(c2) AS n2, SUM(c1 * rank2) AS r1_2x
      |  FROM ranked
      |)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(r1_2x - n1 * (n1 + 1) AS BIGINT) AS u1_2x,
      |       CAST(2 * n1 * n2 - (r1_2x - n1 * (n1 + 1)) AS BIGINT) AS u2_2x,
      |       CAST((r1_2x - n1 * (n1 + 1)) * 1000000
      |            // (2 * n1 * n2) AS BIGINT) AS auc_1e6
      |FROM agg""".stripMargin

  // ---- time-series autocorrelation -----------------------------------

  private val AcfLags = Seq(1, 2, 3, 7)

  /** `analytics_autocorr` — lag-k autocorrelation of the daily revenue
    * series for k ∈ {1,2,3,7} (the 7 probes weekly seasonality),
    * spelled as the Pearson r of the (r_t, r_{t+k}) overlap pairs — the
    * standard sample-ACF variant reusing the [[analyticsCorr]] doctrine.
    *
    * Units: the series is daily revenue in KILODOLLARS (cents DIV 1e5),
    * not cents — products of cent-scale days reach ~10²⁰, where the
    * DECIMAL→DOUBLE cast is no longer exact and Spark's BigDecimal
    * rounding and DuckDB's int128 conversion disagree in the last ulp
    * (observed live on this corpus). In kilodollar units every
    * sufficient statistic stays below 2^53 through ~sf10 (day ≈ 10⁷ k$,
    * ~200 days), so BIGINT sums cast to double EXACTLY in both engines
    * and the final fixed IEEE op sequence is bit-identical. Beyond that
    * horizon the unit divisor scales with corpus GMV — same algebra.
    *
    * Scale: the daily rollup is one partial+final hash aggregate over
    * the fact table; the series is calendar-bounded (O(days), not
    * O(rows)), so the lag self-join and per-lag aggregate run on a
    * dimension-sized frame; all four lags share one persisted series.
    */
  def analyticsAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily0 = table(spark, sfDir, "lineitem")
      .select(col("l_shipdate").as("day"),
        ExactAgg.cents(col("l_extendedprice")).as("cents"))
      .groupBy("day").agg(expr("sum(cents) DIV 100000L").as("rev"))
    // the series index over the calendar-bounded rollup is the twin's
    // plain row_number window (TwoPassWindow's size rule)
    val daily = daily0
      .select(row_number().over(Window.orderBy("day")).as("rn"), col("rev"))
      .persistIntermediate // scanned by every lag's two join sides
    val lagged = AcfLags.map { k =>
      val x = daily.select(col("rn"), col("rev").as("x"))
      val y = daily.select((col("rn") - k).as("rn"), col("rev").as("y"))
      x.join(y, "rn").select(lit(k.toLong).as("lag"), col("x"), col("y"))
    }.reduce(_ unionByName _)
    val stats = lagged.groupBy("lag").agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x")).cast(DoubleType).as("sx"),
      sum(col("y")).cast(DoubleType).as("sy"),
      sum(col("x") * col("y")).cast(DoubleType).as("sxy"),
      sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
      sum(col("y") * col("y")).cast(DoubleType).as("syy"))
    val nD = col("n_pairs").cast(DoubleType)
    stats
      .withColumn("acf",
        (nD * col("sxy") - col("sx") * col("sy")) /
          (sqrt(nD * col("sxx") - col("sx") * col("sx")) *
            sqrt(nD * col("syy") - col("sy") * col("sy"))))
      .select(col("lag"), col("n_pairs"), col("acf"))
      .orderBy("lag")
  }

  val analyticsAutocorrSql: String = {
    val lagUnion = AcfLags
      .map(k => s"SELECT CAST($k AS BIGINT) AS lag").mkString(" UNION ALL ")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
       |                       AS BIGINT)) // 100000 AS BIGINT) AS rev,
       |         row_number() OVER (ORDER BY l_shipdate) AS rn
       |  FROM lineitem GROUP BY l_shipdate
       |), lags AS ($lagUnion
       |), pairs AS (
       |  SELECT l.lag, x.rev AS x, y.rev AS y
       |  FROM lags l
       |  JOIN daily x ON TRUE
       |  JOIN daily y ON y.rn = x.rn + l.lag
       |), s AS MATERIALIZED (
       |  SELECT lag, COUNT(*) AS n_pairs,
       |         CAST(SUM(x) AS DOUBLE) AS sx,
       |         CAST(SUM(y) AS DOUBLE) AS sy,
       |         CAST(SUM(x * y) AS DOUBLE) AS sxy,
       |         CAST(SUM(x * x) AS DOUBLE) AS sxx,
       |         CAST(SUM(y * y) AS DOUBLE) AS syy
       |  FROM pairs GROUP BY lag
       |)
       |SELECT lag, n_pairs,
       |       (CAST(n_pairs AS DOUBLE) * sxy - sx * sy) /
       |       (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx) *
       |        sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)) AS acf
       |FROM s ORDER BY lag""".stripMargin
  }

  // ---- Cramér's V effect size ----------------------------------------

  /** `analytics_cramers_v` — Cramér's V over the weekday × event-type
    * contingency table: the EFFECT-SIZE companion to
    * [[analyticsChi2]]'s per-cell report (χ² says "dependent", V says
    * "how much", normalized to [0,1] — the number that survives a
    * sample-size change). Summing per-cell χ² doubles directly would be
    * shuffle-order-dependent, so each cell's contribution is FLOORED TO
    * INTEGER PPM first (the cell value is one fixed double op sequence
    * over exact counts — identical bits in both engines — and its
    * floor·1e6 is exact), then summed as BIGINTs: deterministic total,
    * ≤ r·c ppm absolute error, declared in the column name. V is then
    * √(χ²/(n·min(r−1,c−1))) as one fixed double sequence.
    *
    * Scale: one hash aggregate to the contingency cells (r·c rows),
    * broadcast marginals, O(r·c) scalar math — the fact-table pass is
    * the only data-sized work.
    */
  def analyticsCramersV(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = table(spark, sfDir, "events")
      .select(expr("((ts div 1000) div 86400000000 + 3) % 7").cast("long")
        .as("weekday"), col("event_type"))
      .groupBy("weekday", "event_type")
      .agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy("weekday").agg(sum("observed").as("row_n"))
    val colTot = cells.groupBy("event_type").agg(sum("observed").as("col_n"))
    val grand = cells.agg(sum("observed").as("n"),
      count_distinct(col("weekday")).as("r"),
      count_distinct(col("event_type")).as("c"))
    val expected = (col("row_n") * col("col_n")).cast(DoubleType) /
      col("n").cast(DoubleType)
    val chi2Cell = ((col("observed").cast(DoubleType) - expected) *
      (col("observed").cast(DoubleType) - expected)) / expected
    val agg = cells
      .join(broadcast(rowTot), "weekday")
      .join(broadcast(colTot), "event_type")
      .crossJoin(broadcast(grand))
      .withColumn("cell_ppm", floor(chi2Cell * lit(1000000.0d)).cast(LongType))
      .groupBy("n", "r", "c")
      .agg(sum("cell_ppm").as("chi2_ppm"))
    val minDf = least(col("r") - 1, col("c") - 1).cast(DoubleType)
    agg
      .withColumn("cramers_v",
        sqrt(col("chi2_ppm").cast(DoubleType) / lit(1000000.0d) /
          (col("n").cast(DoubleType) * minDf)))
      .select(col("n"), col("r"), col("c"), col("chi2_ppm"), col("cramers_v"))
  }

  val analyticsCramersVSql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT (epoch_us(ts) // 86400000000 + 3) % 7 AS weekday, event_type,
      |         COUNT(*) AS observed
      |  FROM events GROUP BY 1, 2
      |), rt AS MATERIALIZED (SELECT weekday, CAST(SUM(observed) AS BIGINT) AS row_n
      |          FROM cells GROUP BY weekday),
      |ct AS MATERIALIZED (SELECT event_type, CAST(SUM(observed) AS BIGINT) AS col_n
      |       FROM cells GROUP BY event_type),
      |g AS MATERIALIZED (SELECT CAST(SUM(observed) AS BIGINT) AS n,
      |             CAST(COUNT(DISTINCT weekday) AS BIGINT) AS r,
      |             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS c
      |      FROM cells),
      |s AS MATERIALIZED (
      |  SELECT g.n, g.r, g.c,
      |         CAST(SUM(CAST(floor(
      |           ((CAST(cl.observed AS DOUBLE) -
      |             CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(g.n AS DOUBLE)) *
      |            (CAST(cl.observed AS DOUBLE) -
      |             CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(g.n AS DOUBLE))) /
      |           (CAST(rt.row_n * ct.col_n AS DOUBLE) / CAST(g.n AS DOUBLE))
      |           * 1000000.0) AS BIGINT)) AS BIGINT) AS chi2_ppm
      |  FROM cells cl
      |  JOIN rt ON rt.weekday = cl.weekday
      |  JOIN ct ON ct.event_type = cl.event_type
      |  CROSS JOIN g
      |  GROUP BY g.n, g.r, g.c
      |)
      |SELECT n, r, c, chi2_ppm,
      |       sqrt(CAST(chi2_ppm AS DOUBLE) / 1000000.0 /
      |            (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))
      |         AS cramers_v
      |FROM s""".stripMargin

  // ---- Kendall tau-b rank correlation --------------------------------

  /** `analytics_kendall_tau` — Kendall tau-b between daily shipped
    * quantity and daily revenue per returnflag, completing the rank-
    * correlation pair next to [[analyticsSpearman]]: Spearman measures
    * monotone agreement through ranks, Kendall through pairwise
    * concordance, and tau-b is the tie-corrected variant (plain tau is
    * biased low on tied series). Everything up to the last expression
    * is INTEGER COUNTING — concordant / discordant / tied-in-x /
    * tied-in-y pair counts from sign comparisons only (no dx·dy
    * product, so no overflow surface at any corpus scale) — and the
    * final tau_b = (C−D)/√((n₀−t₁)(n₀−t₂)) is one fixed double op
    * sequence over exact BIGINTs (pair counts ≤ ~3e6 here; the product
    * under the sqrt stays < 2^53 through ~90 k days per group).
    *
    * Scale: exact Kendall is Ω(days²) BY CONTRACT — but over the DAILY
    * pre-aggregate, never over rows: the fact-table pass is one hash
    * aggregate, and the pairs are counted on the driver over the
    * calendar-bounded rollup (O(days²) pairs ≈ 3e6/group at 7 TPC-H
    * years, independent of row count — the same frame at 100 TB). A
    * rollup past 1e6 rows or 3e7 pairs is a broken invariant and fails
    * loudly.
    */
  def analyticsKendallTau(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = table(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("g"), col("l_shipdate").as("day"),
        ExactAgg.cents(col("l_quantity")).as("xc"),
        ExactAgg.cents(col("l_extendedprice")).as("yc"))
      .groupBy("g", "day")
      .agg(sum("xc").as("x"), sum("yc").as("y"))
    // The concordance counts need Ω(days²) pair comparisons, but over
    // the CALENDAR-bounded daily rollup — ~8.7e6 pairs at 7 TPC-H
    // years, invariant under row-count scale-up — so they run on the
    // driver: pure integer sign comparisons (no arithmetic that can
    // overflow; the one multiply under the sqrt keeps the ANSI
    // loud-overflow contract via multiplyExact), bit-identical to the
    // twin's counts and final fixed double op sequence.
    //
    // ONE bounded fetch of at most 1e6 rollup rows both carries the
    // data and bounds the COLLECT as well as the pair count: the pair
    // bound alone admits unboundedly many small groups — 3e7 pairs can
    // hide 1e9 one-day rows.
    val dr = graft.ops.Bounded.rows(daily, 1000000L, "kendall daily rollup")
    // the twin's inner pair self-join (`a.day < b.day`) pairs no NULL
    // day and emits NO row for a group with fewer than two known days
    // or a NULL key (an equi-join never matches null), so neither comes
    // back here; n_days still counts a NULL day, as the twin's COUNT(*)
    val groups = dr.filter(!_.isNullAt(0)).groupBy(_.getString(0))
      .map { case (g, all) => (g, all.length, all.filter(!_.isNullAt(1))) }
      .filter(_._3.length >= 2).toArray.sortBy(_._1)
    val totalPairs = groups.map { case (_, _, rows) =>
      rows.length.toLong * (rows.length - 1) / 2 }.sum
    if (totalPairs > 30000000L) throw new IllegalStateException(
      s"kendall daily rollup: $totalPairs day pairs, past the 3e7 driver bound")
    val out = groups.map { case (g, nDays, rows) =>
      // a NULL x or y sum compares as SQL's three-valued logic does: the
      // pair counts in n0, tx only when both x are known and equal (ty
      // likewise), nc and nd only when both differences are known —
      // an unknown side's sign is 0 here, so its product is never ±
      val xk = rows.map(!_.isNullAt(2))
      val yk = rows.map(!_.isNullAt(3))
      val xs = rows.map(r => if (r.isNullAt(2)) 0L else r.getLong(2))
      val ys = rows.map(r => if (r.isNullAt(3)) 0L else r.getLong(3))
      val n0 = rows.length.toLong * (rows.length - 1) / 2
      var nc = 0L; var ndis = 0L; var tx = 0L; var ty = 0L
      var i = 0
      while (i < xs.length) {
        var j = i + 1
        while (j < xs.length) {
          val bx = xk(i) && xk(j)
          val by = yk(i) && yk(j)
          val cx = if (bx) java.lang.Long.compare(xs(j), xs(i)) else 0
          val cy = if (by) java.lang.Long.compare(ys(j), ys(i)) else 0
          if (bx && cx == 0) tx += 1
          if (by && cy == 0) ty += 1
          if (cx * cy > 0) nc += 1
          else if (cx * cy < 0) ndis += 1
          j += 1
        }
        i += 1
      }
      val tauB = (nc - ndis).toDouble /
        math.sqrt(math.multiplyExact(n0 - tx, n0 - ty).toDouble)
      org.apache.spark.sql.Row(g, nDays.toLong, nc, ndis, tauB)
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(out.toList.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("returnflag",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("n_days",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("nc",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("nd",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("tau_b",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
  }

  val analyticsKendallTauSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT l_returnflag AS g, l_shipdate AS day,
      |         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS x,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS y
      |  FROM lineitem GROUP BY 1, 2
      |), nd AS MATERIALIZED (
      |  SELECT g, COUNT(*) AS n_days FROM daily GROUP BY g
      |), c AS MATERIALIZED (
      |  SELECT a.g,
      |         COUNT(*) AS n0,
      |         CAST(SUM(CASE WHEN (b.x > a.x AND b.y > a.y)
      |                         OR (b.x < a.x AND b.y < a.y)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |         CAST(SUM(CASE WHEN (b.x > a.x AND b.y < a.y)
      |                         OR (b.x < a.x AND b.y > a.y)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS nd,
      |         CAST(SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END)
      |              AS BIGINT) AS tx,
      |         CAST(SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END)
      |              AS BIGINT) AS ty
      |  FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day
      |  GROUP BY a.g
      |)
      |SELECT c.g AS returnflag, nd.n_days, c.nc, c.nd,
      |       CAST(c.nc - c.nd AS DOUBLE) /
      |       sqrt(CAST((c.n0 - c.tx) * (c.n0 - c.ty) AS DOUBLE)) AS tau_b
      |FROM c JOIN nd ON c.g = nd.g
      |ORDER BY returnflag""".stripMargin

  // ---- Theil–Sen robust slope ----------------------------------------

  /** `analytics_theil_sen` — Theil–Sen estimator of the daily-revenue
    * trend: the MEDIAN of all pairwise slopes (rev_j − rev_i)/(d_j −
    * d_i), the classic robust alternative to [[analyticsRegression]]'s
    * OLS slope (29% breakdown point vs 0 — one corrupted day cannot
    * move it). Slopes are carried as SCALED INTEGERS: floor(1e6·Δcents
    * / Δdays) via an explicit floor of the double quotient — Δcents·1e6
    * stays < 2^53 through ~$90 M revenue days, so the quotient's
    * operands are exact and floor(…) is the one negative-safe integer
    * conversion both engines share (Spark DIV truncates toward zero,
    * DuckDB // floors — the explicit-floor spelling sidesteps that
    * divergence, same doctrine as analytics_mom). The median over
    * integer slopes then interpolates exact doubles (MAD doctrine).
    *
    * Scale: identical contract to [[analyticsKendallTau]] — Ω(days²)
    * pairs over the CALENDAR-bounded daily aggregate (~2.9e6 pairs at
    * 7 years, invariant under row-count scale-up), after one hash
    * aggregate over the fact table. The median is taken on the
    * driver; a rollup past 2828 days is a broken invariant and fails
    * loudly.
    */
  def analyticsTheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = table(spark, sfDir, "lineitem")
      .select(
        expr("CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000 AS BIGINT)")
          .as("d"),
        ExactAgg.cents(col("l_extendedprice")).as("cents"))
      .groupBy("d").agg(sum("cents").as("rev"))
    // the slope multiset is CALENDAR-bounded — nDays·(nDays−1)/2 pairs
    // regardless of row count (the property that makes this operator
    // scale-invariant at 100 TB) — so the median is taken on the
    // driver. ONE bounded fetch of at most 2828 days (the largest n
    // with n(n−1)/2 ≤ 4e6 pairs) carries the data; past it the
    // calendar invariant is broken and the fetch fails loudly.
    //
    // The slope is the twin's three IEEE ops (exact long subtraction →
    // one multiply by the exactly-representable 1e6 → one divide →
    // floor), bit-identical at every magnitude, and the loud-overflow
    // contract is kept (subtractExact replaces the ANSI long
    // subtraction; an explicit range check replaces the ANSI
    // double→long cast error). slope_sc is micro-cents/day in a LONG,
    // which saturates past adjacent-day swings of ~9.2e12 cents; both
    // engines fail there rather than wrap.
    //
    // The twin's `a.d < b.d` pairs no NULL day, so those rows drop. A
    // NULL day revenue (every price NULL that day) makes each of its
    // slopes NULL: the pair still counts in n_pairs, as the twin's
    // COUNT(*) does, and the median skips it, as median() does.
    val dr = graft.ops.Bounded.rows(daily, 2828L, "theil-sen daily rollup")
      .filter(!_.isNullAt(0))
    val known = dr.filter(!_.isNullAt(1))
    val ds = known.map(_.getLong(0))
    val rs = known.map(_.getLong(1))
    val arr = new Array[Long](ds.length * (ds.length - 1) / 2)
    var k = 0
    var i = 0
    while (i < ds.length) {
      var j = i + 1
      while (j < ds.length) {
        val s = math.floor(
          math.subtractExact(rs(j), rs(i)).toDouble * 1000000.0d /
            (ds(j) - ds(i)).toDouble)
        if (s < -9.223372036854776e18d || s >= 9.223372036854776e18d)
          throw new ArithmeticException(
            s"slope_sc overflow: $s — rescale the slope unit")
        arr(k) = s.toLong
        k += 1
        j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(arr)
    val m = arr.length.toLong
    val median: java.lang.Double =
      if (m == 0) null
      else {
        val lo = arr(((m + 1) / 2 - 1).toInt)
        val hi = arr((m / 2).toInt)
        // addExact, not `+`: the twin's integer addition fails on
        // overflow near ±2^63 — plain Scala `+` would wrap silently and
        // break the loud-overflow contract
        math.addExact(lo, hi).toDouble / 2.0d
      }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      List(org.apache.spark.sql.Row(dr.length.toLong * (dr.length - 1) / 2,
        median)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_pairs",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("median_slope_sc",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
  }

  val analyticsTheilSenSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT epoch_ms(l_shipdate) // 86400000 AS d,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1
      |), slopes AS (
      |  SELECT CAST(floor(CAST(b.rev - a.rev AS DOUBLE) * 1000000.0
      |                    / CAST(b.d - a.d AS DOUBLE)) AS BIGINT) AS slope_sc
      |  FROM daily a JOIN daily b ON a.d < b.d
      |)
      |SELECT COUNT(*) AS n_pairs,
      |       median(slope_sc) AS median_slope_sc
      |FROM slopes""".stripMargin

  // ---- one-way ANOVA ---------------------------------------------------

  /** `analytics_anova` — one-way ANOVA F across market segments on
    * account balance: the parametric MEANS test completing the family
    * next to χ² (categorical), KS / Mann–Whitney (distribution-free)
    * and the A/B z-test (two groups) — "do the five segments differ in
    * mean balance at all". Sufficient statistics (n, Σx, Σx²) are
    * exact BIGINTs in WHOLE-DOLLAR units (cents DIV 100, the autocorr
    * unit doctrine: Σx² then stays < 2^53 through ~sf100, so the
    * DOUBLE casts are exact; finer units would push the squared sums
    * past exactness long before that). SSB/SSW/F are one fixed double
    * sequence over them: SSW = Σx² − Σ_g S_g²/n_g,
    * SSB = Σ_g S_g²/n_g − S²/n, F = (SSB/(k−1))/(SSW/(n−k)).
    *
    * Scale: one partial+final hash aggregate to k group rows, O(k)
    * scalar math — the exact-sufficient-statistics doctrine.
    */
  def analyticsAnova(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_mktsegment").as("g"),
        expr("CAST(round(c_acctbal * 100, 0) AS BIGINT) div 100").as("x"))
    val groups = cust.groupBy("g").agg(
      count(lit(1)).as("n"), sum("x").as("s"),
      sum(col("x") * col("x")).as("ss"))
      // the per-group S²/n term is FLOORED TO INTEGER MILLIS before the
      // cross-group sum — summing the raw doubles would make the result
      // depend on aggregation order (the one nondeterminism doubles
      // have); floored BIGINTs sum exactly in any order. ≤ k millis of
      // absolute error on SSB/SSW, declared here.
      .withColumn("sg2n_milli",
        floor((col("s") * col("s")).cast(DoubleType) /
          col("n").cast(DoubleType) * lit(1000.0d)).cast(LongType))
    val tot = groups.agg(
      count(lit(1)).as("k"), sum("n").as("n_total"),
      sum("s").as("s_total"), sum("ss").as("ss_total"),
      sum("sg2n_milli").as("sg2n_milli"))
    val nD = col("n_total").cast(DoubleType)
    val kD = col("k").cast(DoubleType)
    val sumSg2n = col("sg2n_milli").cast(DoubleType) / lit(1000.0d)
    val ssb = sumSg2n -
      col("s_total").cast(DoubleType) * col("s_total").cast(DoubleType) / nD
    val ssw = col("ss_total").cast(DoubleType) - sumSg2n
    tot
      .withColumn("ssb", ssb)
      .withColumn("ssw", ssw)
      .withColumn("f_stat",
        (col("ssb") / (kD - lit(1.0d))) / (col("ssw") / (nD - kD)))
      .select("k", "n_total", "ssb", "ssw", "f_stat")
  }

  val analyticsAnovaSql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT c_mktsegment AS g,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100 AS x
      |  FROM customer
      |), g0 AS (
      |  SELECT g, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s,
      |         CAST(SUM(x * x) AS BIGINT) AS ss
      |  FROM c GROUP BY g
      |), grp AS MATERIALIZED (
      |  SELECT g, n, s, ss,
      |         CAST(floor(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)
      |                    * 1000.0) AS BIGINT) AS sg2n_milli
      |  FROM g0
      |), t AS MATERIALIZED (
      |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_total,
      |         CAST(SUM(s) AS BIGINT) AS s_total,
      |         CAST(SUM(ss) AS BIGINT) AS ss_total,
      |         CAST(SUM(sg2n_milli) AS BIGINT) AS sg2n_milli
      |  FROM grp
      |)
      |SELECT k, n_total,
      |       CAST(sg2n_milli AS DOUBLE) / 1000.0
      |         - CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)
      |           / CAST(n_total AS DOUBLE) AS ssb,
      |       CAST(ss_total AS DOUBLE)
      |         - CAST(sg2n_milli AS DOUBLE) / 1000.0 AS ssw,
      |       ((CAST(sg2n_milli AS DOUBLE) / 1000.0
      |         - CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)
      |           / CAST(n_total AS DOUBLE))
      |        / (CAST(k AS DOUBLE) - 1.0)) /
      |       ((CAST(ss_total AS DOUBLE)
      |         - CAST(sg2n_milli AS DOUBLE) / 1000.0)
      |        / (CAST(n_total AS DOUBLE) - CAST(k AS DOUBLE))) AS f_stat
      |FROM t""".stripMargin

  /** `analytics_posthoc_pairs` — the pairwise follow-up to
    * [[analyticsAnova]]: for every unordered segment pair, the mean
    * balance difference and the pooled-MSE t statistic
    * (x̄₁−x̄₂)/√(MSE·(1/n₁+1/n₂)) — "WHICH segments differ", the
    * question the omnibus F leaves open. Group sums/counts are exact
    * integers (whole-dollar units, ANOVA's doctrine); MSE reuses the
    * milli-floored SSW; every exported double is one fixed op
    * sequence per pair — no cross-row double accumulation anywhere.
    *
    * Scale: the pair frame is k(k−1)/2 rows over the k-row group
    * aggregate — dimension-sized after one fact pass.
    */
  def analyticsPosthocPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = table(spark, sfDir, "customer")
      .select(col("c_mktsegment").as("g"),
        expr("CAST(round(c_acctbal * 100, 0) AS BIGINT) div 100").as("x"))
    val groups = cust.groupBy("g").agg(
      count(lit(1)).as("n"), sum("x").as("s"),
      sum(col("x") * col("x")).as("ss"))
      .withColumn("sg2n_milli",
        floor((col("s") * col("s")).cast(DoubleType) /
          col("n").cast(DoubleType) * lit(1000.0d)).cast(LongType))
      .persistIntermediate
    val tot = groups.agg(
      count(lit(1)).as("k"), sum("n").as("n_total"),
      sum("ss").as("ss_total"), sum("sg2n_milli").as("sg2n_milli"))
      .withColumn("mse",
        (col("ss_total").cast(DoubleType) -
          col("sg2n_milli").cast(DoubleType) / lit(1000.0d)) /
          (col("n_total").cast(DoubleType) - col("k").cast(DoubleType)))
    val a = groups.select(col("g").as("g1"), col("n").as("n1"),
      col("s").as("s1"))
    val b = groups.select(col("g").as("g2"), col("n").as("n2"),
      col("s").as("s2"))
    a.join(b, col("g1") < col("g2"))
      .crossJoin(broadcast(tot.select("mse")))
      .withColumn("mean_diff",
        col("s1").cast(DoubleType) / col("n1").cast(DoubleType) -
          col("s2").cast(DoubleType) / col("n2").cast(DoubleType))
      .withColumn("t_stat",
        col("mean_diff") / sqrt(col("mse") *
          (lit(1.0d) / col("n1").cast(DoubleType) +
            lit(1.0d) / col("n2").cast(DoubleType))))
      .select("g1", "g2", "n1", "n2", "mean_diff", "t_stat")
      .orderBy("g1", "g2")
  }

  val analyticsPosthocPairsSql: String =
    """WITH c AS MATERIALIZED (
      |  SELECT c_mktsegment AS g,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) // 100 AS x
      |  FROM customer
      |), g0 AS (
      |  SELECT g, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s,
      |         CAST(SUM(x * x) AS BIGINT) AS ss
      |  FROM c GROUP BY g
      |), grp AS MATERIALIZED (
      |  SELECT g, n, s, ss,
      |         CAST(floor(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)
      |                    * 1000.0) AS BIGINT) AS sg2n_milli
      |  FROM g0
      |), t AS MATERIALIZED (
      |  SELECT (CAST(SUM(ss) AS DOUBLE)
      |          - CAST(SUM(sg2n_milli) AS DOUBLE) / 1000.0)
      |         / (CAST(SUM(n) AS DOUBLE) - CAST(COUNT(*) AS DOUBLE)) AS mse
      |  FROM grp
      |)
      |SELECT a.g AS g1, b.g AS g2,
      |       CAST(a.n AS BIGINT) AS n1, CAST(b.n AS BIGINT) AS n2,
      |       CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
      |         - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mean_diff,
      |       (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
      |         - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
      |       / sqrt(t.mse * (1.0 / CAST(a.n AS DOUBLE)
      |                       + 1.0 / CAST(b.n AS DOUBLE))) AS t_stat
      |FROM grp a JOIN grp b ON a.g < b.g CROSS JOIN t
      |ORDER BY g1, g2""".stripMargin

  // ---- Wilson score interval -------------------------------------------

  /** `analytics_wilson_ci` — per-weekday purchase conversion (users who
    * purchased ÷ active users) with the WILSON 95% score interval: the
    * interval that behaves at small n and extreme rates where the
    * naive Wald ±z√(p̂q̂/n) collapses (the reason every A/B platform
    * ships Wilson). Counts are exact integers from one dedupe +
    * aggregate; the interval is one fixed double op sequence over them
    * with the z = 1.96 literal, spelled identically in the oracle:
    * center (p̂ + z²/2n)/(1 + z²/n), half-width
    * z·√(p̂q̂/n + z²/4n²)/(1 + z²/n).
    *
    * Scale: one (user, weekday) dedupe (hash-partitioned on user) and
    * a 7-row rollup — fact-table pass only.
    */
  def analyticsWilsonCi(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = table(spark, sfDir, "events")
      .select(col("user_id"),
        expr("((ts div 1000) div 86400000000 + 3) % 7").cast("long")
          .as("weekday"),
        (col("event_type") === "purchase").cast("long").as("isp"))
      .groupBy("user_id", "weekday")
      .agg(max("isp").as("purchased"))
    val counts = ud.groupBy("weekday")
      .agg(count(lit(1)).as("n_users"), sum("purchased").as("n_purchasers"))
    val z = lit(1.96d)
    val n = col("n_users").cast(DoubleType)
    val p = col("n_purchasers").cast(DoubleType) / n
    val z2n = z * z / n
    val center = (p + z2n / lit(2.0d)) / (lit(1.0d) + z2n)
    val half = z * sqrt(p * (lit(1.0d) - p) / n +
      z * z / (lit(4.0d) * n * n)) / (lit(1.0d) + z2n)
    counts
      .withColumn("p_hat", p)
      .withColumn("ci_lo", center - half)
      .withColumn("ci_hi", center + half)
      .select("weekday", "n_users", "n_purchasers", "p_hat", "ci_lo", "ci_hi")
      .orderBy("weekday")
  }

  val analyticsWilsonCiSql: String =
    """WITH ud AS (
      |  SELECT user_id, (epoch_us(ts) // 86400000000 + 3) % 7 AS weekday,
      |         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS purchased
      |  FROM events GROUP BY 1, 2
      |), c AS MATERIALIZED (
      |  SELECT weekday, COUNT(*) AS n_users,
      |         CAST(SUM(purchased) AS BIGINT) AS n_purchasers
      |  FROM ud GROUP BY weekday
      |)
      |SELECT weekday, n_users, n_purchasers,
      |       CAST(n_purchasers AS DOUBLE) / CAST(n_users AS DOUBLE) AS p_hat,
      |       ((CAST(n_purchasers AS DOUBLE) / CAST(n_users AS DOUBLE)
      |         + 1.96 * 1.96 / CAST(n_users AS DOUBLE) / 2.0)
      |        / (1.0 + 1.96 * 1.96 / CAST(n_users AS DOUBLE)))
      |       - (1.96 * sqrt(CAST(n_purchasers AS DOUBLE)
      |              / CAST(n_users AS DOUBLE)
      |              * (1.0 - CAST(n_purchasers AS DOUBLE)
      |                 / CAST(n_users AS DOUBLE))
      |              / CAST(n_users AS DOUBLE)
      |            + 1.96 * 1.96 / (4.0 * CAST(n_users AS DOUBLE)
      |                             * CAST(n_users AS DOUBLE)))
      |          / (1.0 + 1.96 * 1.96 / CAST(n_users AS DOUBLE))) AS ci_lo,
      |       ((CAST(n_purchasers AS DOUBLE) / CAST(n_users AS DOUBLE)
      |         + 1.96 * 1.96 / CAST(n_users AS DOUBLE) / 2.0)
      |        / (1.0 + 1.96 * 1.96 / CAST(n_users AS DOUBLE)))
      |       + (1.96 * sqrt(CAST(n_purchasers AS DOUBLE)
      |              / CAST(n_users AS DOUBLE)
      |              * (1.0 - CAST(n_purchasers AS DOUBLE)
      |                 / CAST(n_users AS DOUBLE))
      |              / CAST(n_users AS DOUBLE)
      |            + 1.96 * 1.96 / (4.0 * CAST(n_users AS DOUBLE)
      |                             * CAST(n_users AS DOUBLE)))
      |          / (1.0 + 1.96 * 1.96 / CAST(n_users AS DOUBLE))) AS ci_hi
      |FROM c ORDER BY weekday""".stripMargin

  // ---- odds ratio / relative risk --------------------------------------

  /** `analytics_odds_ratio` — the 2×2 epidemiology pair over user-days:
    * exposure = weekend, outcome = the user hit an `error` event that
    * day; reports the contingency cells, the odds ratio ad/bc, and the
    * relative risk [a/(a+b)]/[c/(c+d)] — the effect measures behind
    * every incident review ("are weekends riskier, and by how
    * much?"), where [[analyticsChi2]] only says "dependent". ENTIRELY
    * integer: cells are exact counts and both ratios ship as floored
    * ppm cross-multiplications (a·d·10⁶ DIV b·c — positive operands,
    * engines agree). Overflow horizon: a·d·10⁶ needs a·d < 9.2e12,
    * i.e. ≲ 3e6 user-days per arm; past that the ppm scale drops a
    * decade, same doctrine as the other horizon notes.
    *
    * Scale: one (user, day) dedupe + a 4-cell rollup.
    */
  def analyticsOddsRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = table(spark, sfDir, "events")
      .select(col("user_id"),
        expr("(ts div 1000) div 86400000000").cast("long").as("day"),
        expr("((ts div 1000) div 86400000000 + 3) % 7").cast("long")
          .as("weekday"),
        (col("event_type") === "error").cast("long").as("iserr"))
      .groupBy("user_id", "day")
      .agg(max("weekday").as("weekday"), max("iserr").as("is_case"))
      .withColumn("exposed", (col("weekday") >= 5).cast("long"))
    ud.agg(
      sum(when(col("exposed") === 1 && col("is_case") === 1, 1L)
        .otherwise(0L)).as("a"),
      sum(when(col("exposed") === 1 && col("is_case") === 0, 1L)
        .otherwise(0L)).as("b"),
      sum(when(col("exposed") === 0 && col("is_case") === 1, 1L)
        .otherwise(0L)).as("c"),
      sum(when(col("exposed") === 0 && col("is_case") === 0, 1L)
        .otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        expr("a * d * 1000000L div (b * c)").as("odds_ratio_ppm"),
        expr("a * (c + d) * 1000000L div (c * (a + b))")
          .as("relative_risk_ppm"))
  }

  val analyticsOddsRatioSql: String =
    """WITH ud AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         MAX((epoch_us(ts) // 86400000000 + 3) % 7) AS weekday,
      |         CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS is_case
      |  FROM events GROUP BY 1, 2
      |), f AS (
      |  SELECT CASE WHEN weekday >= 5 THEN 1 ELSE 0 END AS exposed, is_case
      |  FROM ud
      |), cells AS MATERIALIZED (
      |  SELECT
      |    CAST(SUM(CASE WHEN exposed = 1 AND is_case = 1 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN exposed = 1 AND is_case = 0 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN exposed = 0 AND is_case = 1 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN exposed = 0 AND is_case = 0 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS d
      |  FROM f
      |)
      |SELECT a, b, c, d,
      |       CAST(a * d * 1000000 // (b * c) AS BIGINT) AS odds_ratio_ppm,
      |       CAST(a * (c + d) * 1000000 // (c * (a + b)) AS BIGINT)
      |         AS relative_risk_ppm
      |FROM cells""".stripMargin

  // ---- Laspeyres price index -------------------------------------------

  /** `analytics_price_index` — the monthly Laspeyres price index over
    * the part catalog: I_t = Σ p_t·q₀ / Σ p₀·q₀ in floored ppm, base =
    * the first month, weights = base-month quantities, over the
    * MATCHED basket (parts priced in both months — the standard
    * matched-sample treatment of assortment churn). The CPI
    * construction, answering "how much of the revenue trend is price
    * vs volume", which no plain revenue rollup separates. Unit prices
    * are floored integer cents (ec DIV qty — positive, engines agree);
    * a month's representative price is the MIN unit price
    * (deterministic under intra-month variation). The final ratio uses
    * the explicit floor-of-double-quotient doctrine. PRECISION
    * HORIZON (the DOUBLE-ppm doctrine — full statement at
    * [[analyticsMom]]): exact while Σ p·q · 10⁶ < 2⁵³ (basket sums
    * under ~9.0e9 — ~sf5 of this corpus); beyond, both engines round
    * IDENTICALLY (every step IEEE-determined), so the gate stays
    * bit-green and the index drifts ≤ 1 ulp of the quotient from
    * infinite precision — noise ≪ 1 ppm, horizon over respell.
    *
    * Scale: one (month, part) hash aggregate, a broadcast of the
    * base-month basket, and an O(months) rollup.
    */
  /** Shared matched-basket builder for the index trio: the per-(month,
    * part) price/quantity rollup `pm` and the base-month basket. r21
    * (§2.3 — shuffle fewer/narrower bytes): the month key through the
    * fact-table aggregate is the INT year·100+month (4 bytes, two
    * codegen integer field extractions) instead of a per-row
    * `date_format` string (7+ bytes plus a formatter call per row);
    * the partition of rows is identical (yyyy-MM ↔ the int bijects)
    * and lexicographic order on the string = numeric order on the int,
    * so MIN(base month) and the final ORDER BY agree. Callers format
    * the display string AFTER their months-sized rollup.
    */
  private def matchedBasket(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val li = table(spark, sfDir, "lineitem")
      .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .as("mkey"),
        col("l_partkey"),
        ExactAgg.cents(col("l_extendedprice")).as("ec"),
        col("l_quantity").cast(LongType).as("q"))
      .withColumn("unit_c", expr("ec div q"))
    val pm = li.groupBy("mkey", "l_partkey")
      .agg(min("unit_c").as("p"), sum("q").as("qty"))
      .truncateLineage(true)
    val m0 = pm.agg(min("mkey").as("m0"))
    val base = pm.crossJoin(broadcast(m0))
      .where(col("mkey") === col("m0"))
      .select(col("l_partkey"), col("p").as("p0"), col("qty").as("q0"))
    (pm, base)
  }

  /** yyyy-MM display string of the int month key (post-rollup only). */
  private def monthStr: Column =
    format_string("%04d-%02d", expr("mkey div 100"), col("mkey") % 100)

  def analyticsPriceIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val (pm, base) = matchedBasket(spark, sfDir)
    pm.join(broadcast(base), "l_partkey")
      .groupBy("mkey")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p") * col("q0")).as("num"),
        sum(col("p0") * col("q0")).as("den"))
      .select(monthStr.as("month"), col("n_parts"),
        floor(col("num").cast(DoubleType) * lit(1000000.0d) /
          col("den").cast(DoubleType)).cast(LongType).as("index_ppm"))
      .orderBy("month")
  }

  val analyticsPriceIndexSql: String =
    """WITH li AS MATERIALIZED (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month, l_partkey,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           // CAST(l_quantity AS BIGINT) AS unit_c,
      |         CAST(l_quantity AS BIGINT) AS q
      |  FROM lineitem
      |), pm AS MATERIALIZED (
      |  SELECT month, l_partkey, CAST(MIN(unit_c) AS BIGINT) AS p,
      |         CAST(SUM(q) AS BIGINT) AS qty
      |  FROM li GROUP BY month, l_partkey
      |), base AS (
      |  SELECT l_partkey, p AS p0, qty AS q0
      |  FROM pm WHERE month = (SELECT MIN(month) FROM pm)
      |)
      |SELECT pm.month, COUNT(*) AS n_parts,
      |       CAST(floor(CAST(SUM(pm.p * b.q0) AS DOUBLE) * 1000000.0
      |                  / CAST(SUM(b.p0 * b.q0) AS DOUBLE)) AS BIGINT)
      |         AS index_ppm
      |FROM pm JOIN base b USING (l_partkey)
      |GROUP BY pm.month
      |ORDER BY pm.month""".stripMargin

  /** `analytics_volume_index` — the volume companion of
    * [[analyticsPriceIndex]] (whose DOUBLE-ppm precision horizon —
    * exact under Σ p·q·10⁶ < 2⁵³, bit-green at any magnitude —
    * covers this quotient identically): Laspeyres quantity index
    * Σ p₀·q_t / Σ p₀·q₀ in floored ppm over the same matched basket,
    * base-month PRICES as weights — together the pair decomposes the revenue
    * trend into "charging more" vs "shipping more". Same exactness
    * doctrine and horizons as the price index.
    */
  def analyticsVolumeIndex(spark: SparkSession, sfDir: String): DataFrame = {
    // r21: shares [[matchedBasket]] — int month key through the fact
    // aggregate, display string formatted after the months-sized rollup
    val (pm, base) = matchedBasket(spark, sfDir)
    pm.join(broadcast(base), "l_partkey")
      .groupBy("mkey")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p0") * col("qty")).as("num"),
        sum(col("p0") * col("q0")).as("den"))
      .select(monthStr.as("month"), col("n_parts"),
        floor(col("num").cast(DoubleType) * lit(1000000.0d) /
          col("den").cast(DoubleType)).cast(LongType).as("vol_index_ppm"))
      .orderBy("month")
  }

  val analyticsVolumeIndexSql: String =
    """WITH li AS MATERIALIZED (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month, l_partkey,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           // CAST(l_quantity AS BIGINT) AS unit_c,
      |         CAST(l_quantity AS BIGINT) AS q
      |  FROM lineitem
      |), pm AS MATERIALIZED (
      |  SELECT month, l_partkey, CAST(MIN(unit_c) AS BIGINT) AS p,
      |         CAST(SUM(q) AS BIGINT) AS qty
      |  FROM li GROUP BY month, l_partkey
      |), base AS (
      |  SELECT l_partkey, p AS p0, qty AS q0
      |  FROM pm WHERE month = (SELECT MIN(month) FROM pm)
      |)
      |SELECT pm.month, COUNT(*) AS n_parts,
      |       CAST(floor(CAST(SUM(b.p0 * pm.qty) AS DOUBLE) * 1000000.0
      |                  / CAST(SUM(b.p0 * b.q0) AS DOUBLE)) AS BIGINT)
      |         AS vol_index_ppm
      |FROM pm JOIN base b USING (l_partkey)
      |GROUP BY pm.month
      |ORDER BY pm.month""".stripMargin

  /** `analytics_fisher_index` — the full index-number trio per month:
    * Laspeyres (base weights, overstates — consumers substitute away
    * from price rises), Paasche (current weights, understates), and
    * the Fisher IDEAL index √(L·P) that splits the substitution bias —
    * the construction national statistics offices actually publish.
    * L and P are floored ppm over the matched basket (shared doctrine
    * — incl. the DOUBLE-ppm precision horizon — with
    * [[analyticsPriceIndex]]); Fisher is ⌊√(L_ppm·P_ppm)⌋ — the
    * product of two ≤ ~2e6 ints is exact in double, √ is one correctly
    * rounded op, identical bits both engines.
    */
  def analyticsFisherIndex(spark: SparkSession, sfDir: String): DataFrame = {
    // r21: shares [[matchedBasket]] — int month key through the fact
    // aggregate, display string formatted after the months-sized rollup
    val (pm, base) = matchedBasket(spark, sfDir)
    val idx = pm.join(broadcast(base), "l_partkey")
      .groupBy("mkey")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p") * col("q0")).as("l_num"),
        sum(col("p0") * col("q0")).as("l_den"),
        sum(col("p") * col("qty")).as("p_num"),
        sum(col("p0") * col("qty")).as("p_den"))
      .withColumn("laspeyres_ppm",
        floor(col("l_num").cast(DoubleType) * lit(1000000.0d) /
          col("l_den").cast(DoubleType)).cast(LongType))
      .withColumn("paasche_ppm",
        floor(col("p_num").cast(DoubleType) * lit(1000000.0d) /
          col("p_den").cast(DoubleType)).cast(LongType))
    idx
      .withColumn("fisher_ppm",
        floor(sqrt((col("laspeyres_ppm") * col("paasche_ppm"))
          .cast(DoubleType))).cast(LongType))
      .select(monthStr.as("month"), col("n_parts"), col("laspeyres_ppm"),
        col("paasche_ppm"), col("fisher_ppm"))
      .orderBy("month")
  }

  val analyticsFisherIndexSql: String =
    """WITH li AS MATERIALIZED (
      |  SELECT strftime(l_shipdate, '%Y-%m') AS month, l_partkey,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |           // CAST(l_quantity AS BIGINT) AS unit_c,
      |         CAST(l_quantity AS BIGINT) AS q
      |  FROM lineitem
      |), pm AS MATERIALIZED (
      |  SELECT month, l_partkey, CAST(MIN(unit_c) AS BIGINT) AS p,
      |         CAST(SUM(q) AS BIGINT) AS qty
      |  FROM li GROUP BY month, l_partkey
      |), base AS (
      |  SELECT l_partkey, p AS p0, qty AS q0
      |  FROM pm WHERE month = (SELECT MIN(month) FROM pm)
      |), s AS MATERIALIZED (
      |  SELECT pm.month, COUNT(*) AS n_parts,
      |         CAST(floor(CAST(SUM(pm.p * b.q0) AS DOUBLE) * 1000000.0
      |                    / CAST(SUM(b.p0 * b.q0) AS DOUBLE)) AS BIGINT)
      |           AS laspeyres_ppm,
      |         CAST(floor(CAST(SUM(pm.p * pm.qty) AS DOUBLE) * 1000000.0
      |                    / CAST(SUM(b.p0 * pm.qty) AS DOUBLE)) AS BIGINT)
      |           AS paasche_ppm
      |  FROM pm JOIN base b USING (l_partkey)
      |  GROUP BY pm.month
      |)
      |SELECT month, n_parts, laspeyres_ppm, paasche_ppm,
      |       CAST(floor(sqrt(CAST(laspeyres_ppm * paasche_ppm AS DOUBLE)))
      |            AS BIGINT) AS fisher_ppm
      |FROM s ORDER BY month""".stripMargin

  // ---- historical VaR / CVaR -------------------------------------------

  /** `analytics_var` — historical value-at-risk and expected shortfall
    * of the daily revenue CHANGE series: VaR₉₅ is the exact 5th
    * percentile of day-over-day deltas (integer cents, so the
    * percentile interpolation is exact fp — the MAD doctrine), CVaR₉₅
    * the mean of the tail at or below it (exact integer sum, one
    * double division) — the risk pair every finance desk reports,
    * quantifying "how bad is a bad day" beyond what variance-based
    * anomaly scores say. The tail membership test compares exact
    * integers against the exact interpolated percentile — the same
    * doubles in both engines, so the boundary cannot flip.
    *
    * Scale: one fact-table hash aggregate to the calendar-bounded
    * daily series; a lag window, one exact percentile over O(days)
    * rows, and a broadcast-scalar tail rollup.
    */
  def analyticsVar(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, sfDir, "lineitem")
      .select(col("l_shipdate").as("day"),
        ExactAgg.cents(col("l_extendedprice")).as("cents"))
      .groupBy("day").agg(sum("cents").as("rev"))
    // lag(1) over the calendar-bounded series is the twin's plain
    // window (TwoPassWindow's size rule)
    val deltas = daily
      .withColumn("prev", lag(col("rev"), 1).over(Window.orderBy("day")))
      .where(col("prev").isNotNull)
      .select((col("rev") - col("prev")).as("delta_c"))
      .persistIntermediate // scanned by the percentile AND the tail
    val q = deltas.agg(
      count(lit(1)).as("n_days"),
      percentile(col("delta_c"), lit(0.05)).as("var95_c"))
    deltas.crossJoin(broadcast(q))
      .where(col("delta_c").cast(DoubleType) <= col("var95_c"))
      .agg(max("n_days").as("n_days"), max("var95_c").as("var95_c"),
        count(lit(1)).as("n_tail"),
        sum("delta_c").as("tail_sum_c"))
      .withColumn("cvar95_c",
        col("tail_sum_c").cast(DoubleType) / col("n_tail").cast(DoubleType))
      .select("n_days", "var95_c", "n_tail", "tail_sum_c", "cvar95_c")
  }

  val analyticsVarSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT l_shipdate AS day,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1
      |), d AS MATERIALIZED (
      |  SELECT CAST(rev - lag(rev) OVER (ORDER BY day) AS BIGINT) AS delta_c
      |  FROM daily
      |  QUALIFY lag(rev) OVER (ORDER BY day) IS NOT NULL
      |), q AS MATERIALIZED (
      |  SELECT COUNT(*) AS n_days,
      |         quantile_cont(delta_c, 0.05) AS var95_c
      |  FROM d
      |)
      |SELECT q.n_days, q.var95_c,
      |       COUNT(*) AS n_tail,
      |       CAST(SUM(d.delta_c) AS BIGINT) AS tail_sum_c,
      |       CAST(SUM(d.delta_c) AS DOUBLE) / COUNT(*) AS cvar95_c
      |FROM d, q
      |WHERE CAST(d.delta_c AS DOUBLE) <= q.var95_c
      |GROUP BY q.n_days, q.var95_c""".stripMargin

  // ---- log-log elasticity ----------------------------------------------

  /** `analytics_elasticity` — the log-log OLS slope of shipped quantity
    * against unit price per returnflag: the price-elasticity regression
    * (a 1% price move ⇒ slope% quantity move — THE demand-curve
    * number), which plain [[analyticsRegression]] on levels cannot
    * express. Both variables pass through the shared
    * [[graft.functions.IntegerLog2]] kernel in MILLI-log2 units
    * (log2s DIV 1000): per-term products then stay < 2^53 through
    * ~1.5e7 rows per group, so every sufficient statistic is an exact
    * BIGINT that casts to double EXACTLY — the autocorr unit doctrine;
    * beyond that horizon the unit divisor grows with the corpus. The
    * slope/intercept/r² formula is the same fixed double sequence as
    * the levels regression.
    */
  def analyticsElasticity(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.IntegerLog2.log2s
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("g"),
        log2s(ExactAgg.cents(col("l_extendedprice"))).as("xf"),
        log2s(ExactAgg.cents(col("l_quantity"))).as("yf"))
      .select(col("g"), expr("xf div 1000L").as("x"),
        expr("yf div 1000L").as("y"))
    val stats = li.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast(DoubleType)
    val sx = col("sx").cast(DoubleType)
    val sy = col("sy").cast(DoubleType)
    val sxy = col("sxy").cast(DoubleType)
    val sxx = col("sxx").cast(DoubleType)
    val syy = col("syy").cast(DoubleType)
    val slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
    stats
      .withColumn("elasticity", slope)
      .withColumn("r2",
        ((nD * sxy - sx * sy) * (nD * sxy - sx * sy)) /
          ((nD * sxx - sx * sx) * (nD * syy - sy * sy)))
      .select(col("g").as("returnflag"), col("n"), col("elasticity"),
        col("r2"))
      .orderBy("returnflag")
  }

  val analyticsElasticitySql: String = {
    import graft.functions.IntegerLog2.log2Sql
    s"""WITH b AS MATERIALIZED (
       |  SELECT l_returnflag AS g,
       |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc,
       |         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qc
       |  FROM lineitem
       |), l AS (
       |  SELECT g, ${log2Sql("pc")} // 1000 AS x, ${log2Sql("qc")} // 1000 AS y
       |  FROM b
       |), s AS MATERIALIZED (
       |  SELECT g, COUNT(*) AS n,
       |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |         CAST(SUM(x * y) AS BIGINT) AS sxy,
       |         CAST(SUM(x * x) AS BIGINT) AS sxx,
       |         CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM l GROUP BY g
       |)
       |SELECT g AS returnflag, n,
       |       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       |       (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS elasticity,
       |       ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
       |        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
       |       ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
       |        (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
       |FROM s ORDER BY returnflag""".stripMargin
  }

  // ---- Hill tail-index estimator ---------------------------------------

  private val HillK = 100

  /** `analytics_hill` — the Hill estimator of the upper-tail index over
    * order values: α̂ = [ (1/k) Σᵢ₌₁..k (ln x₍ᵢ₎ − ln x₍ₖ₊₁₎) ]⁻¹ on the
    * k = [[HillK]] largest orders — the standard answer to "HOW heavy
    * is this tail" (α ≈ 1–2 ⇒ extreme concentration), quantifying what
    * `analytics_pareto`'s concentration shares only describe. Log
    * terms run through the shared [[graft.functions.IntegerLog2]]
    * kernel (exact scaled-integer log2, same table both engines — the
    * doctrine that makes log-domain scores gateable), so the sum is an
    * exact BIGINT; α̂ converts it with one double sequence and the ln 2
    * literal. Order-statistic ties break on order key, a total key.
    *
    * Scale: one top-(k+1) selection (TakeOrderedAndProject — k·P rows
    * move, never a global sort) and O(k) integer math.
    */
  def analyticsHill(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.IntegerLog2.log2s
    val top = table(spark, sfDir, "orders")
      .select(cents(col("o_totalprice")).as("x_c"), col("o_orderkey"))
      .orderBy(desc("x_c"), col("o_orderkey"))
      .limit(HillK + 1)
      .persistIntermediate // scanned by the ref row AND the top-k side
    // r21: the (k+1)-th order statistic needed no rank window at all
    // (the old row_number ran unpartitioned): in (x_c desc, key asc)
    // order the LAST of the k+1 rows is the MINIMUM of (x_c, -key),
    // and "rank ≤ k" is exactly "strictly above that minimum". The
    // n_top guard keeps the sub-(k+1)-row edge identical to the old
    // spelling (ref row absent → zero rows survive → k=0, NULL stats).
    val ref = top
      .agg(count(lit(1)).as("n_top"),
        min(struct(col("x_c"), (-col("o_orderkey")).as("nk"))).as("s"))
      .select(
        when(col("n_top") === HillK + 1, col("s.x_c")).as("ref_c"),
        when(col("n_top") === HillK + 1, col("s.nk")).as("ref_nk"))
    top.crossJoin(broadcast(ref))
      .where(col("x_c") > col("ref_c") ||
        (col("x_c") === col("ref_c") &&
          (-col("o_orderkey")) > col("ref_nk")))
      .agg(count(lit(1)).as("k"),
        max("ref_c").as("ref_c"),
        sum(log2s(col("x_c")) - log2s(col("ref_c"))).as("sum_log2_1e6"))
      .withColumn("alpha_hat",
        // Zero guard — REQUIRED, not defensive: when every top-k value
        // falls inside one mantissa step of the log2 kernel (resolution
        // 0.0056 bits — a tail flatter than ±0.4%, seen live at sf0.1
        // where the top-101 order values span 0.16%), the scaled sum is
        // exactly 0 and ANSI Spark errors on the double division. A
        // NULL α̂ is the honest answer for a tail the kernel cannot
        // resolve; both engines spell the same guard.
        when(col("sum_log2_1e6") > 0,
          lit(HillK * 1000000L).cast(DoubleType) /
            col("sum_log2_1e6").cast(DoubleType) / lit(0.6931471805599453d)))
      .select(col("k"), col("ref_c"), col("sum_log2_1e6"), col("alpha_hat"))
  }

  val analyticsHillSql: String = {
    import graft.functions.IntegerLog2.log2Sql
    s"""WITH top AS MATERIALIZED (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x_c,
       |         row_number() OVER (ORDER BY CAST(round(o_totalprice * 100)
       |           AS BIGINT) DESC, o_orderkey) AS rn
       |  FROM orders
       |  ORDER BY x_c DESC, o_orderkey LIMIT ${HillK + 1}
       |), ref AS MATERIALIZED (
       |  SELECT x_c AS ref_c FROM top WHERE rn = ${HillK + 1}
       |), s AS MATERIALIZED (
       |  SELECT COUNT(*) AS k, MAX(ref.ref_c) AS ref_c,
       |         CAST(SUM(${log2Sql("t.x_c")} - ${log2Sql("ref.ref_c")})
       |              AS BIGINT) AS sum_log2_1e6
       |  FROM top t CROSS JOIN ref
       |  WHERE t.rn <= $HillK
       |)
       |SELECT k, ref_c, sum_log2_1e6,
       |       CASE WHEN sum_log2_1e6 > 0
       |            THEN CAST(${HillK}000000 AS DOUBLE)
       |                 / CAST(sum_log2_1e6 AS DOUBLE) / 0.6931471805599453
       |       END AS alpha_hat
       |FROM s""".stripMargin
  }

  // ---- Mann–Kendall trend test ----------------------------------------

  /** `analytics_mann_kendall` — the Mann–Kendall monotone-trend test on
    * the daily revenue series: S = Σ_{i<j} sgn(rev_j − rev_i) and the
    * tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)
    * (2t_g+5)]/18, with the ±1 continuity-corrected z. The canonical
    * partner of [[analyticsTheilSen]] (MK answers "is there a trend",
    * Theil–Sen "how steep") — shipped over the same pair frame. S and
    * the variance NUMERATOR are exact integers (pair counting + an
    * O(distinct values) tie rollup); /18, sqrt and the z are one
    * mirrored double op sequence. Overflow: n(n−1)(2n+5) ≈ 2n³ —
    * BIGINT-safe to ~1.6e6 days (4000 years of dailies).
    *
    * Scale: the Ω(days²) pair contract of its siblings, over the
    * calendar-bounded daily aggregate; the fact-table pass is one hash
    * aggregate.
    */
  def analyticsMannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = table(spark, sfDir, "lineitem")
      .select(
        expr("CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000 AS BIGINT)")
          .as("d"),
        ExactAgg.cents(col("l_extendedprice")).as("cents"))
      .groupBy("d").agg(sum("cents").as("rev"))
      .persistIntermediate
    val a = daily.select(col("d").as("d1"), col("rev").as("r1"))
    val b = daily.select(col("d").as("d2"), col("rev").as("r2"))
    val s = a.crossJoin(b).where(col("d1") < col("d2"))
      .agg((sum(when(col("r2") > col("r1"), 1L).otherwise(0L)) -
        sum(when(col("r2") < col("r1"), 1L).otherwise(0L))).as("s_stat"))
    val ties = daily.groupBy("rev").agg(count(lit(1)).as("t"))
      .agg(count(lit(1)).as("n_values"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_term"),
        sum("t").as("n"))
    val joined = s.crossJoin(ties)
      .withColumn("var_num",
        col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie_term"))
    val sD = col("s_stat").cast(DoubleType)
    val sigma = sqrt(col("var_num").cast(DoubleType) / lit(18.0d))
    joined
      .withColumn("z",
        when(col("s_stat") > 0, (sD - 1.0d) / sigma)
          .when(col("s_stat") < 0, (sD + 1.0d) / sigma)
          .otherwise(lit(0.0d)))
      .select(col("n").as("n_days"), col("n_values"), col("s_stat"),
        col("var_num"), col("z"))
  }

  val analyticsMannKendallSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT epoch_ms(l_shipdate) // 86400000 AS d,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1
      |), s AS MATERIALIZED (
      |  SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END)
      |              - SUM(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END)
      |              AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b ON a.d < b.d
      |), ties AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_values,
      |         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
      |         CAST(SUM(t) AS BIGINT) AS n
      |  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev)
      |)
      |SELECT n AS n_days, n_values, s_stat,
      |       n * (n - 1) * (2 * n + 5) - tie_term AS var_num,
      |       CASE WHEN s_stat > 0
      |              THEN (CAST(s_stat AS DOUBLE) - 1.0) /
      |                   sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term
      |                             AS DOUBLE) / 18.0)
      |            WHEN s_stat < 0
      |              THEN (CAST(s_stat AS DOUBLE) + 1.0) /
      |                   sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term
      |                             AS DOUBLE) / 18.0)
      |            ELSE 0.0 END AS z
      |FROM s, ties""".stripMargin

  // ---- exact single changepoint ---------------------------------------

  /** `analytics_changepoint` — exact binary-segmentation changepoint on
    * the daily revenue series: the split k maximizing the scaled
    * mean-difference |n₂·S₁ − n₁·S₂| (the two-sample t numerator with
    * the variance term dropped — a pure-INTEGER objective, so the
    * argmax needs no floating point at all, unlike the usual
    * sum-of-squares CUSUM objective whose S²/n division would have to
    * round). Ties break to the earliest day. Segment means are then
    * reported via the explicit-floor-of-double-quotient doctrine.
    * Overflow horizon: the objective multiplies a day count (~2.5e3)
    * into total corpus cents, ~5.5e14 at sf0.1 — BIGINT-safe through
    * ~sf10000.
    *
    * Scale: one fact-table hash aggregate → a CALENDAR-bounded series;
    * the cumulative window and argmax run on O(days) rows. The
    * single-partition window is a documented artifact of the bounded
    * domain (2.5e3 rows), not a row-count scan.
    */
  def analyticsChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = table(spark, sfDir, "lineitem")
      .select(
        expr("CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000 AS BIGINT)")
          .as("d"),
        ExactAgg.cents(col("l_extendedprice")).as("cents"))
      .groupBy("d").agg(sum("cents").as("rev"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("p", sum(col("rev")).over(w))
    val tot = cum.agg(max("k").as("n"), max("p").as("s"))
    val scored = cum.crossJoin(broadcast(tot))
      .where(col("k") < col("n"))
      .withColumn("gap",
        (col("n") - col("k")) * col("p") - col("k") * (col("s") - col("p")))
      .withColumn("mean_before_c",
        floor(col("p").cast(DoubleType) / col("k").cast(DoubleType))
          .cast(LongType))
      .withColumn("mean_after_c",
        floor((col("s") - col("p")).cast(DoubleType) /
          (col("n") - col("k")).cast(DoubleType)).cast(LongType))
    scored
      .orderBy(abs(col("gap")).desc, col("d").asc)
      .limit(1)
      .select(col("d").as("split_day"), col("k").as("n_before"),
        (col("n") - col("k")).as("n_after"),
        col("mean_before_c"), col("mean_after_c"), col("gap").as("gap_scaled"))
  }

  val analyticsChangepointSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT epoch_ms(l_shipdate) // 86400000 AS d,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1
      |), cum AS MATERIALIZED (
      |  SELECT d,
      |         CAST(COUNT(*) OVER w AS BIGINT) AS k,
      |         CAST(SUM(rev) OVER w AS BIGINT) AS p
      |  FROM daily WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)
      |), tot AS (
      |  SELECT MAX(k) AS n, MAX(p) AS s FROM cum
      |)
      |SELECT d AS split_day, k AS n_before, n - k AS n_after,
      |       CAST(floor(CAST(p AS DOUBLE) / CAST(k AS DOUBLE))
      |            AS BIGINT) AS mean_before_c,
      |       CAST(floor(CAST(s - p AS DOUBLE) / CAST(n - k AS DOUBLE))
      |            AS BIGINT) AS mean_after_c,
      |       (n - k) * p - k * (s - p) AS gap_scaled
      |FROM cum, tot WHERE k < n
      |ORDER BY abs((n - k) * p - k * (s - p)) DESC, d ASC
      |LIMIT 1""".stripMargin

  // ---- exact weighted median ------------------------------------------

  /** `analytics_weighted_median` — quantity-weighted median unit price
    * per returnflag: the smallest price whose cumulative weight reaches
    * half the total (the lower weighted median — a DEFINED element of
    * the data, not an interpolation, so the whole operator is exact
    * integers end to end with zero fp surface). The plain median says
    * "half the LINE ITEMS cost less"; the weighted one says "half the
    * UNITS shipped cost less" — the difference is the operator's point.
    *
    * Scale: one (group, price) pre-aggregate collapses the fact table
    * to distinct prices, one cumulative window per group ordered by
    * price (sort-based, distributed by group key), one min-filter, and
    * a broadcast join against per-group totals. No global sort.
    */
  def analyticsWeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("g"),
        cents(col("l_extendedprice")).as("price_c"),
        ExactAgg.cents(col("l_quantity")).as("w"))
      .groupBy("g", "price_c").agg(sum("w").as("w"))
    // r21 (§2 skew): the (g)-partitioned running-sum/total windows sent
    // each WHOLE group through one task — 3 returnflags = 3 tasks over
    // the ~distinct-price-sized frame at any cluster width. The grouped
    // two-pass construction range-splits each group across many tasks
    // and patches offsets/totals from a pid-level aggregate — the same
    // integers (exact LONG sums, order-free).
    graft.ops.TwoPassWindow.withGroupedRunningSumAndTotal(li,
        Seq("g"), Seq(col("price_c")), col("w"), "cw", "total_w")
      .where(col("cw") * 2 >= col("total_w"))
      .groupBy("g", "total_w").agg(min("price_c").as("wmedian_price_c"))
      .select(col("g").as("returnflag"), col("total_w"),
        col("wmedian_price_c"))
      .orderBy("returnflag")
  }

  val analyticsWeightedMedianSql: String =
    """WITH pw AS (
      |  SELECT l_returnflag AS g,
      |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
      |         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2
      |), cum AS MATERIALIZED (
      |  SELECT g, price_c, w,
      |         CAST(SUM(w) OVER (PARTITION BY g ORDER BY price_c
      |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
      |         CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS total_w
      |  FROM pw
      |)
      |SELECT g AS returnflag, total_w,
      |       MIN(price_c) AS wmedian_price_c
      |FROM cum WHERE cw * 2 >= total_w
      |GROUP BY g, total_w
      |ORDER BY returnflag""".stripMargin
}

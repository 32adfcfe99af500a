package graft.queries

import graft.ops.Persist.PersistOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate/sketch operators a 100 TB pipeline leans on where exact
  * answers are either unaffordable (global COUNT DISTINCT) or
  * unnecessary (pre-join pruning): HyperLogLog distinct estimation
  * (Flajolet et al. 2007), count-min heavy hitters (Cormode &
  * Muthukrishnan 2005), and Bloom-filter join pruning (Bloom 1970).
  *
  * Spark ships its own spellings (`approx_count_distinct`,
  * `count_min_sketch`, runtime bloom pruning via
  * `spark.sql.optimizer.runtime.bloomFilter.enabled`) — those are the
  * production defaults. These explicit implementations exist because
  * (a) the built-ins hash with engine-private functions the DuckDB gate
  * can't restate, and (b) spelling the sketch as ordinary relational
  * algebra proves the shape scales: every one of them is a narrow map
  * plus one partial+final hash aggregate, the same plan Spark's
  * built-ins lower to.
  *
  * Determinism: every hash is the engine-neutral LCG family used across
  * the repo (reduce mod 1000003 BEFORE multiplying — ANSI long overflow;
  * see MinHashDedup.perm). All arithmetic is integer: register sums are
  * exact BIGINTs, the HLL harmonic mean is computed as an integer
  * quotient, so the cross-engine hash compare is bit-stable with no
  * float summation order anywhere.
  */
object SketchQueries {
  import RefQueries.table

  private val Prime = 2147483647L // 2^31 - 1 (Mersenne)
  private val Mod = 1000003L      // key pre-reduction (ANSI headroom)

  /** h(x) = ((x mod 1000003) * a + b) mod (2^31-1) — max intermediate
    * 1e6 * 3.3e9 ≈ 3.3e15, far under the 2^62 ANSI overflow line.
    */
  private def lcg(x: Column, a: Long, b: Long): Column =
    (x % Mod * a + b) % Prime

  // ---------------------------------------------------------------- HLL

  /** `olap_hll_distinct` — HyperLogLog estimate of distinct parts per
    * returnflag, next to the exact count for comparison.
    *
    * m = 64 registers (p = 6): register = h % 64, rank = position of
    * the leftmost set bit in the remaining 25-bit window, via the
    * engine-portable `26 - length(ltrim(bin(w), '0'))` (bin() emits no
    * leading zeros in Spark or DuckDB; ltrim handles w = 0 → rank 26).
    * The harmonic mean is exact integer math: each register contributes
    * 2^(26-M_j), missing registers contribute 2^26, and the estimate is
    * alpha_64 * m^2 scaled by 2^26 over that BIGINT sum with integer
    * division (alpha_64 = 0.709 carried as 709/1000).
    *
    * Scale: ONE partial+final hash aggregate over (group, 64 registers)
    * — the sketch for any group is 64 longs no matter how many rows
    * feed it, which is the entire point at 100 TB: a global distinct
    * count never shuffles more than groups x 64 rows. No small-range
    * linear-counting branch: it needs ln(), whose cross-engine bit
    * stability is not guaranteed, and these cardinalities (~2000 per
    * flag) sit far above the 2.5m = 160 correction regime.
    */
  def olapHllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_partkey").cast("long").as("pk"))
    // one affine round is too linear for leading-zero statistics (the
    // measured estimate ran 56% hot); squaring mod p then one more
    // affine round makes the rank distribution geometric — measured
    // within 10% of truth at 1.5k/2k/15k/20k distinct keys. h < 2^31 so
    // h*h < 2^62: no ANSI overflow, and (h*h % p) * 1.3e9 < 2^63 too.
    val hashed = li
      .withColumn("h", lcg(col("pk"), 1315423911L, 2654435761L))
      .withColumn("g", (col("h") * col("h") % Prime * 1315423911L + 97L) % Prime)
      .withColumn("reg", col("g") % 64)
      .withColumn("rho", lit(26) - length(ltrim(bin(expr("g DIV 64")), "0")))
    val regs = hashed.groupBy("flag", "reg").agg(max("rho").as("mj"))
    val est = regs.groupBy("flag")
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(26 - mj AS INT))")).as("sp"),
        count(lit(1)).as("nreg"))
      .select(col("flag"),
        expr("(CAST(2904064 AS BIGINT) * 67108864) DIV " +
          "(1000 * (sp + (64 - nreg) * 67108864))").as("est_distinct"))
    val exact = li.groupBy("flag").agg(countDistinct("pk").as("n_exact"))
    est.join(exact, "flag").select("flag", "est_distinct", "n_exact").orderBy("flag")
  }

  val olapHllDistinctSql: String =
    """WITH h AS MATERIALIZED (
      |  SELECT l_returnflag AS flag,
      |         (CAST(l_partkey AS BIGINT) % 1000003 * 1315423911 + 2654435761)
      |           % 2147483647 AS h
      |  FROM lineitem
      |), g AS MATERIALIZED (
      |  SELECT flag, (h * h % 2147483647 * 1315423911 + 97) % 2147483647 AS g
      |  FROM h
      |), b AS (
      |  SELECT flag, g % 64 AS reg,
      |         26 - length(ltrim(bin(g // 64), '0')) AS rho
      |  FROM g
      |), regs AS (
      |  SELECT flag, reg, MAX(rho) AS mj FROM b GROUP BY flag, reg
      |), s AS (
      |  SELECT flag,
      |         SUM(CAST(1 AS BIGINT) << CAST(26 - mj AS INTEGER)) AS sp,
      |         COUNT(*) AS nreg
      |  FROM regs GROUP BY flag
      |), e AS MATERIALIZED (
      |  -- SUM(BIGINT) is HUGEINT in DuckDB; cast back or pandas sees float64
      |  SELECT flag,
      |         CAST((CAST(2904064 AS BIGINT) * 67108864)
      |           // (1000 * (sp + (64 - nreg) * 67108864)) AS BIGINT) AS est_distinct
      |  FROM s
      |), x AS MATERIALIZED (
      |  SELECT l_returnflag AS flag, COUNT(DISTINCT l_partkey) AS n_exact
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT e.flag, e.est_distinct, x.n_exact
      |FROM e JOIN x USING (flag) ORDER BY flag""".stripMargin

  // ---------------------------------------------------------- count-min

  private val CmsA = Seq(1315423911L, 2654435761L, 2246822519L, 3266489917L)
  private val CmsB = Seq(97L, 193L, 389L, 769L)
  private val CmsW = 2048L

  /** i-th table-hash cell: lcg with per-i constants, reduced into m
    * cells. Shared by the count-min rows and the bloom bit positions.
    */
  private def tableHash(key: Column, i: Column,
      as: Seq[Long], bs: Seq[Long], m: Long): Column = {
    val a = element_at(array(as.map(lit): _*), i + 1)
    val b = element_at(array(bs.map(lit): _*), i + 1)
    (key % Mod * a + b) % Prime % m
  }

  private def cmsIdx(key: Column, i: Column): Column =
    tableHash(key, i, CmsA, CmsB, CmsW)

  /** `olap_cms_topk` — count-min sketch (d=4 rows, w=2048) over order
    * counts per customer; customers whose SKETCH estimate clears the
    * threshold are reported with estimate and exact count side by side.
    * Count-min guarantees est >= exact (collisions only inflate), which
    * the spec pins.
    *
    * Scale: the sketch build is one partial+final aggregate whose
    * keyspace is d*w = 8192 cells REGARDLESS of input rows or key
    * cardinality — the classic fixed-memory pass over a 100 TB stream.
    * The candidate probe joins each distinct key's 4 cells against the
    * 2048-row sketch (broadcast); selection happens on the estimate, as
    * it would in production where the exact count doesn't exist.
    */
  def olapCmsTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val keys = table(spark, sfDir, "orders")
      .select(col("o_custkey").cast("long").as("ck"))
    val rows4 = explode(array((0 until 4).map(lit): _*)).as("i")
    val sketch = keys.select(col("ck"), rows4)
      .select(col("i"), cmsIdx(col("ck"), col("i")).as("idx"))
      .groupBy("i", "idx").agg(count(lit(1)).as("cell"))
    val est = keys.distinct()
      .select(col("ck"), rows4)
      .select(col("ck"), col("i"), cmsIdx(col("ck"), col("i")).as("idx"))
      .join(broadcast(sketch), Seq("i", "idx"))
      .groupBy("ck").agg(min("cell").as("est_cnt"))
      .where(col("est_cnt") >= 18)
    val exact = keys.groupBy("ck").agg(count(lit(1)).as("n_exact"))
    est.join(exact, "ck")
      .select(col("ck").as("custkey"), col("est_cnt"), col("n_exact"))
      .orderBy("custkey")
  }

  val olapCmsTopkSql: String =
    """WITH cfg AS MATERIALIZED (
      |  SELECT i,
      |         CASE i WHEN 0 THEN 1315423911 WHEN 1 THEN 2654435761
      |                WHEN 2 THEN 2246822519 ELSE 3266489917 END AS a,
      |         CASE i WHEN 0 THEN 97 WHEN 1 THEN 193
      |                WHEN 2 THEN 389 ELSE 769 END AS b
      |  FROM range(0, 4) r(i)
      |), k AS MATERIALIZED (
      |  SELECT CAST(o_custkey AS BIGINT) AS ck FROM orders
      |), sketch AS (
      |  SELECT i, (ck % 1000003 * a + b) % 2147483647 % 2048 AS idx,
      |         COUNT(*) AS cell
      |  FROM k, cfg GROUP BY 1, 2
      |), est AS MATERIALIZED (
      |  SELECT d.ck, MIN(s.cell) AS est_cnt
      |  FROM (SELECT DISTINCT ck FROM k) d, cfg c, sketch s
      |  WHERE s.i = c.i
      |    AND s.idx = (d.ck % 1000003 * c.a + c.b) % 2147483647 % 2048
      |  GROUP BY d.ck
      |  HAVING MIN(s.cell) >= 18
      |), exact AS MATERIALIZED (
      |  SELECT ck, COUNT(*) AS n_exact FROM k GROUP BY ck
      |)
      |SELECT est.ck AS custkey, est.est_cnt, exact.n_exact
      |FROM est JOIN exact USING (ck) ORDER BY custkey""".stripMargin

  // -------------------------------------------------- histogram quantile

  /** `olap_quantile_sketch` — approximate quantiles from a fixed-width
    * histogram sketch: bucket o_totalprice into 500-unit bins, then for
    * each target percentile report the upper edge of the first bucket
    * whose cumulative count clears it, next to the exact continuous
    * percentile (Spark `percentile` == DuckDB `quantile_cont`
    * bit-for-bit) for error inspection. The bucket threshold test is
    * pure integers (`cum * 100 >= pctl * n`), the estimate is
    * `(bucket+1) * 500` — a BIGINT; only the exact reference column is
    * a double, and it comes from a single deterministic aggregate.
    *
    * Scale: THE pattern for percentiles over 100 TB — exact percentile
    * needs a global sort (or Spark's approx_percentile whose GK sketch
    * the oracle can't restate); the histogram needs ONE partial+final
    * aggregate into at most `range/width` cells, and the cumulative
    * walk runs over the ~1000-row histogram, not the data (the window
    * below is single-partition BY DESIGN — it sorts buckets, never
    * rows). Accuracy is bounded by bucket width, reported honestly via
    * the exact column.
    */
  def olapQuantileSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val prices = table(spark, sfDir, "orders").select(col("o_totalprice"))
    val hist = prices
      .select(floor(col("o_totalprice") / 500).cast("long").as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
    // the fixed-width histogram has at most range/width buckets, so the
    // cumulative walk is the twin's plain window (TwoPassWindow's size
    // rule)
    val cum = hist.withColumn("cum", sum(col("c")).over(
      Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = prices.agg(count(lit(1)).as("n"))
    val sel = Seq(50L, 90L, 99L).toDF("pctl")
      .crossJoin(broadcast(n))
      .join(broadcast(cum), col("cum") * 100 >= col("pctl") * col("n"))
      .groupBy("pctl").agg(min("b").as("mb"))
      .select(col("pctl"), ((col("mb") + 1) * 500).as("est_val"))
    val exact = prices.agg(
      expr("percentile(o_totalprice, 0.50)").as("e50"),
      expr("percentile(o_totalprice, 0.90)").as("e90"),
      expr("percentile(o_totalprice, 0.99)").as("e99"))
      .select(expr(
        "stack(3, CAST(50 AS BIGINT), e50, CAST(90 AS BIGINT), e90," +
          " CAST(99 AS BIGINT), e99) AS (pctl, exact_val)"))
    sel.join(exact, "pctl")
      .select("pctl", "est_val", "exact_val")
      .orderBy("pctl")
  }

  val olapQuantileSketchSql: String =
    """WITH h AS MATERIALIZED (
      |  SELECT CAST(floor(o_totalprice / 500) AS BIGINT) AS b, COUNT(*) AS c
      |  FROM orders GROUP BY 1
      |), cum AS MATERIALIZED (
      |  SELECT b, CAST(SUM(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
      |             AS BIGINT) AS cum
      |  FROM h
      |), n AS MATERIALIZED (
      |  SELECT COUNT(*) AS n FROM orders
      |), p AS MATERIALIZED (
      |  SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS pctl
      |), sel AS MATERIALIZED (
      |  SELECT p.pctl, MIN(c.b) AS mb
      |  FROM p, n, cum c
      |  WHERE c.cum * 100 >= p.pctl * n.n
      |  GROUP BY p.pctl
      |), x AS MATERIALIZED (
      |  SELECT CAST(50 AS BIGINT) AS pctl,
      |         quantile_cont(o_totalprice, 0.50) AS exact_val FROM orders
      |  UNION ALL
      |  SELECT 90, quantile_cont(o_totalprice, 0.90) FROM orders
      |  UNION ALL
      |  SELECT 99, quantile_cont(o_totalprice, 0.99) FROM orders
      |)
      |SELECT sel.pctl, (sel.mb + 1) * 500 AS est_val, x.exact_val
      |FROM sel JOIN x USING (pctl) ORDER BY pctl""".stripMargin

  // ------------------------------------------------------------- bloom

  private val BloomA = Seq(1315423911L, 2654435761L, 2246822519L)
  private val BloomB = Seq(11L, 227L, 499L)
  private val BloomM = 256L

  private def bloomPos(key: Column, i: Column): Column =
    tableHash(key, i, BloomA, BloomB, BloomM)

  /** `join_bloom_prune` — Bloom-filter semi-join pruning: the build
    * side is the filtered supplier dim (s_acctbal > 5000, 48 of 100
    * keys at sf0.01), the probe is every lineitem row. A row passes if
    * all k=3 of its hash positions are set. Reported per returnflag:
    * total rows, rows the bloom passes, rows truly matching the dim —
    * so the false-positive overhead is visible in the output (m=256 is
    * sized to make FPs observable at test scale; production sizes m by
    * the standard -n*ln(p)/ln(2)^2 rule and gets the same plan).
    *
    * Scale: this is the manual spelling of what saves a 100 TB join —
    * the filter is built with one aggregate over the SMALL side, ships
    * to every executor as a few KB broadcast, and drops probe rows
    * BEFORE they reach the join shuffle. Bloom guarantees zero false
    * negatives (spec-pinned); false positives only cost wasted join
    * work, never wrong answers, because the exact join still runs on
    * the survivors. Spark's AQE does this automatically
    * (runtime.bloomFilter); this operator is the explicit, gate-able
    * form.
    */
  def joinBloomPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val threeI = explode(array((0 until 3).map(lit): _*)).as("i")
    val dim = table(spark, sfDir, "supplier")
      .where(col("s_acctbal") > 5000)
      .select(col("s_suppkey").cast("long").as("k")).distinct()
    val bits = dim.select(col("k"), threeI)
      .select(bloomPos(col("k"), col("i")).as("pos")).distinct()
    val probe = table(spark, sfDir, "lineitem").select(
      col("l_suppkey").cast("long").as("sk"), col("l_returnflag").as("flag"))
    // one broadcast LEFT SEMI per hash function: the probe side is never
    // exploded or grouped (testdata lineitem has duplicate
    // (orderkey, linenumber) pairs — any per-row-id grouping spelling
    // would collapse them and undercount), and at 100 TB the big side
    // flowing straight through three tiny broadcast filters is exactly
    // the plan you want
    val passed = (0 until 3).foldLeft(probe) { (df, i) =>
      df.join(broadcast(bits), bloomPos(df("sk"), lit(i)) === bits("pos"), "left_semi")
    }
    val marked = passed.join(
      broadcast(dim.select(col("k").as("sk"), lit(1L).as("is_dim"))), Seq("sk"), "left")
    val byFlag = marked.groupBy("flag").agg(
      count(lit(1)).as("n_bloom_pass"),
      count(col("is_dim")).as("n_true"))
    val totals = probe.groupBy("flag").agg(count(lit(1)).as("n_total"))
    totals.join(byFlag, "flag")
      .select("flag", "n_total", "n_bloom_pass", "n_true").orderBy("flag")
  }

  val joinBloomPruneSql: String =
    """WITH cfg AS MATERIALIZED (
      |  SELECT i,
      |         CASE i WHEN 0 THEN 1315423911 WHEN 1 THEN 2654435761
      |                ELSE 2246822519 END AS a,
      |         CASE i WHEN 0 THEN 11 WHEN 1 THEN 227 ELSE 499 END AS b
      |  FROM range(0, 3) r(i)
      |), dim AS MATERIALIZED (
      |  SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS k
      |  FROM supplier WHERE s_acctbal > 5000
      |), bits AS MATERIALIZED (
      |  SELECT DISTINCT (k % 1000003 * a + b) % 2147483647 % 256 AS pos
      |  FROM dim, cfg
      |), probe AS MATERIALIZED (
      |  SELECT CAST(l_suppkey AS BIGINT) AS sk, l_returnflag AS flag
      |  FROM lineitem
      |), passed AS (
      |  SELECT sk, flag FROM probe
      |  WHERE (sk % 1000003 * 1315423911 + 11) % 2147483647 % 256
      |          IN (SELECT pos FROM bits)
      |    AND (sk % 1000003 * 2654435761 + 227) % 2147483647 % 256
      |          IN (SELECT pos FROM bits)
      |    AND (sk % 1000003 * 2246822519 + 499) % 2147483647 % 256
      |          IN (SELECT pos FROM bits)
      |)
      |SELECT t.flag, t.n_total, q.n_bloom_pass, q.n_true
      |FROM (SELECT flag, COUNT(*) AS n_total FROM probe GROUP BY flag) t
      |JOIN (
      |  SELECT flag, COUNT(*) AS n_bloom_pass,
      |         COUNT(CASE WHEN sk IN (SELECT k FROM dim) THEN 1 END) AS n_true
      |  FROM passed GROUP BY flag
      |) q USING (flag)
      |ORDER BY flag""".stripMargin

  // --------------------------------------------------- approx profiling

  /** `etl_profile_approx` — the 100 TB spelling of column profiling:
    * per-column approximate distinct counts via the engine-neutral HLL
    * above, all columns in ONE scan (`stack` fans each row into
    * (column, key) pairs — map-side, no Expand of exact countDistincts
    * like etl_profile, whose own scaladoc caps it at gate scale). The
    * exact count rides along per column so the gate pins the sketch
    * error exactly, like olap_hll_distinct.
    *
    * Long-keyed columns only (keys, day ordinals, cents): the register
    * hash needs an integer domain; string columns route through the
    * polynomial token hash family at real scale.
    *
    * Scale: input rows × 4 flow through one partial+final aggregate
    * whose keyspace is 4 columns × 64 registers, then O(columns) scalar
    * math — sketch memory is constant in row count by construction.
    */
  def etlProfileApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = table(spark, sfDir, "orders")
      .select(expr(
        """stack(4,
          |  'o_orderkey', o_orderkey,
          |  'o_custkey', o_custkey,
          |  'o_orderdate_day',
          |  unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000,
          |  'o_totalprice_cents', CAST(round(o_totalprice * 100) AS BIGINT)
          |) AS (col_name, k)""".stripMargin))
    val hashed = keyed
      .withColumn("h", lcg(col("k"), 1315423911L, 2654435761L))
      .withColumn("g", (col("h") * col("h") % Prime * 1315423911L + 97L) % Prime)
      .withColumn("reg", col("g") % 64)
      .withColumn("rho", lit(26) - length(ltrim(bin(expr("g DIV 64")), "0")))
    val est = hashed.groupBy("col_name", "reg").agg(max("rho").as("mj"))
      .groupBy("col_name")
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(26 - mj AS INT))")).as("sp"),
        count(lit(1)).as("nreg"))
      .select(col("col_name"),
        expr("(CAST(2904064 AS BIGINT) * 67108864) DIV " +
          "(1000 * (sp + (64 - nreg) * 67108864))").as("est_distinct"))
    val exact = keyed.groupBy("col_name")
      .agg(countDistinct("k").as("n_exact"), count(lit(1)).as("n_rows"))
    est.join(exact, "col_name")
      .select("col_name", "est_distinct", "n_exact", "n_rows")
      .orderBy("col_name")
  }

  val etlProfileApproxSql: String =
    """WITH keyed AS MATERIALIZED (
      |  SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS BIGINT) AS k FROM orders
      |  UNION ALL
      |  SELECT 'o_custkey', CAST(o_custkey AS BIGINT) FROM orders
      |  UNION ALL
      |  SELECT 'o_orderdate_day', epoch_us(o_orderdate) // 86400000000 FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice_cents', CAST(round(o_totalprice * 100) AS BIGINT) FROM orders
      |), h AS MATERIALIZED (
      |  SELECT col_name, (k % 1000003 * 1315423911 + 2654435761) % 2147483647 AS h
      |  FROM keyed
      |), g AS MATERIALIZED (
      |  SELECT col_name, (h * h % 2147483647 * 1315423911 + 97) % 2147483647 AS g
      |  FROM h
      |), b AS (
      |  SELECT col_name, g % 64 AS reg,
      |         26 - length(ltrim(bin(g // 64), '0')) AS rho
      |  FROM g
      |), regs AS (
      |  SELECT col_name, reg, MAX(rho) AS mj FROM b GROUP BY col_name, reg
      |), s AS (
      |  SELECT col_name,
      |         SUM(CAST(1 AS BIGINT) << CAST(26 - mj AS INTEGER)) AS sp,
      |         COUNT(*) AS nreg
      |  FROM regs GROUP BY col_name
      |), e AS MATERIALIZED (
      |  SELECT col_name,
      |         CAST((CAST(2904064 AS BIGINT) * 67108864)
      |           // (1000 * (sp + (64 - nreg) * 67108864)) AS BIGINT) AS est_distinct
      |  FROM s
      |), x AS MATERIALIZED (
      |  SELECT col_name, COUNT(DISTINCT k) AS n_exact, COUNT(*) AS n_rows
      |  FROM keyed GROUP BY col_name
      |)
      |SELECT e.col_name, e.est_distinct, x.n_exact, x.n_rows
      |FROM e JOIN x USING (col_name) ORDER BY col_name""".stripMargin

  private val KmvK = 256L

  /** `olap_kmv_intersect` — distinct-set INTERSECTION estimation with a
    * K-minimum-values sketch (Beyer et al. 2007 — the Theta-sketch
    * family): keep the [[KmvK]] smallest hash values of A∪B with
    * per-value membership flags; θ = the k-th smallest gives
    * est(A∪B) = (k−1)·P DIV θ, and the fraction of the k-sample
    * carrying BOTH flags estimates Jaccard, so est(A∩B) = matched ·
    * est_union DIV k — every step integer. Demonstrated on the
    * Jan-1995 vs Feb-1995 shipment part catalogs, which stay ~30%
    * coverage of the part domain at EVERY sf (rows and parts both
    * scale), so the overlap is genuinely partial. KMV beats HLL
    * inclusion–exclusion here structurally: the intersection is
    * estimated from a DIRECT sample of the union rather than as a
    * difference of three noisy estimates (measured on this corpus, the
    * 64-register HLL difference came out NEGATIVE).
    *
    * Small-set arm: with fewer than k distinct union hashes the
    * k-sample IS the whole set and both estimates collapse to exact
    * counts — the standard KMV convention, spelled identically in both
    * engines.
    *
    * Scale: the k smallest of a distributed set is a TakeOrdered-
    * shaped bounded structure (per-partition top-k then merge — k rows
    * cross the wire per partition); the flag table is one hash
    * aggregate over the tagged scan. The exact arm rides along as the
    * audit baseline.
    */
  def olapKmvIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
      .where(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1995-03-01")
      .select(
        when(col("l_shipdate") < "1995-02-01", "a").otherwise("b").as("flag"),
        col("l_partkey").cast("long").as("pk"))
    val flagged = li
      .groupBy("pk")
      .agg(max(when(col("flag") === "a", 1L).otherwise(0L)).as("in_a"),
        max(when(col("flag") === "b", 1L).otherwise(0L)).as("in_b"))
      .withColumn("h", lcg(col("pk"), 1315423911L, 2654435761L))
      .withColumn("g", (col("h") * col("h") % Prime * 1315423911L + 97L) % Prime)
      // hash collisions across pks merge to one sample point with OR'd
      // flags — the KMV convention (the sketch lives in hash space)
      .groupBy("g")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
    val kmin = flagged.orderBy("g").limit(KmvK.toInt)
    val stats = kmin.agg(
      count(lit(1)).as("k_eff"),
      max("g").as("theta"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
        .as("matched"))
    val nUnion = flagged.agg(count(lit(1)).as("n_union"))
    stats.crossJoin(broadcast(nUnion))
      .select(col("k_eff"), col("matched"),
        when(col("n_union") < KmvK, col("n_union"))
          .otherwise(expr(s"(${KmvK - 1} * ${Prime}L) DIV theta"))
          .as("est_union"))
      .withColumn("est_intersect",
        expr("matched * est_union DIV k_eff"))
      .crossJoin(broadcast(
        li.where(col("flag") === "a").select("pk").distinct()
          .join(li.where(col("flag") === "b").select("pk").distinct(), "pk")
          .agg(count(lit(1)).as("n_exact_intersect"))))
      .select("k_eff", "matched", "est_union", "est_intersect",
        "n_exact_intersect")
  }

  val olapKmvIntersectSql: String =
    s"""WITH src AS MATERIALIZED (
       |  SELECT CASE WHEN l_shipdate < TIMESTAMP '1995-02-01' THEN 'a'
       |              ELSE 'b' END AS flag,
       |         CAST(l_partkey AS BIGINT) AS pk
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
       |    AND l_shipdate < TIMESTAMP '1995-03-01'
       |), pkf AS (
       |  SELECT pk,
       |         MAX(CASE WHEN flag = 'a' THEN 1 ELSE 0 END) AS in_a,
       |         MAX(CASE WHEN flag = 'b' THEN 1 ELSE 0 END) AS in_b
       |  FROM src GROUP BY pk
       |), hashed AS (
       |  SELECT ((pk % 1000003 * 1315423911 + 2654435761) % 2147483647) AS h,
       |         in_a, in_b
       |  FROM pkf
       |), flagged AS MATERIALIZED (
       |  SELECT (h * h % 2147483647 * 1315423911 + 97) % 2147483647 AS g,
       |         MAX(in_a) AS in_a, MAX(in_b) AS in_b
       |  FROM hashed GROUP BY 1
       |), kmin AS (
       |  SELECT g, in_a, in_b FROM flagged ORDER BY g LIMIT $KmvK
       |), stats AS (
       |  SELECT COUNT(*) AS k_eff, MAX(g) AS theta,
       |         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
       |              AS BIGINT) AS matched
       |  FROM kmin
       |), nu AS (
       |  SELECT COUNT(*) AS n_union FROM flagged
       |), exact AS MATERIALIZED (
       |  SELECT COUNT(*) AS n_exact_intersect FROM (
       |    SELECT DISTINCT pk FROM src WHERE flag = 'a'
       |    INTERSECT
       |    SELECT DISTINCT pk FROM src WHERE flag = 'b'
       |  )
       |)
       |SELECT s.k_eff, s.matched,
       |       CAST(CASE WHEN n.n_union < $KmvK THEN n.n_union
       |            ELSE (CAST(${KmvK - 1} AS BIGINT) * 2147483647) // s.theta END
       |            AS BIGINT) AS est_union,
       |       CAST(s.matched *
       |            (CASE WHEN n.n_union < $KmvK THEN n.n_union
       |             ELSE (CAST(${KmvK - 1} AS BIGINT) * 2147483647) // s.theta END)
       |            // s.k_eff AS BIGINT) AS est_intersect,
       |       e.n_exact_intersect
       |FROM stats s CROSS JOIN nu n CROSS JOIN exact e""".stripMargin

  // ------------------------------------------------- sliding HLL merge

  /** `analytics_sliding_hll` — trailing-7-day distinct users per day
    * via MERGED daily HLL sketches, next to the exact count: the
    * pre-aggregate-then-merge pattern that makes sliding distinct
    * counts affordable at 100 TB. Daily registers are built once
    * (day × 64 rows regardless of event volume); each daily register
    * row SCATTERS to the ≤7 window ends it contributes to and a
    * register-max per (window_end, reg) merges the week — the
    * mergeability HLL exists for, restated as plain max. Same neutral
    * two-round hash and alpha arithmetic as `olap_hll_distinct`
    * (integral throughout, no ln()); the exact twin recomputes
    * distinct users per window from scattered first-class rows.
    *
    * Scale: the merge input is days × 64 rows — the raw events are
    * touched ONCE to build daily registers; every window after that is
    * sketch-sized work. The exact side (for the comparison column)
    * scatters distinct (day, user) pairs — linear, but proportional to
    * daily actives × 7, not events.
    */
  def analyticsSlidingHll(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
      .select(expr("(ts div 1000) div 86400000000").cast("long").as("day"),
        col("user_id"))
    val days = ev.select("day").distinct().persistIntermediate
    val hashed = ev
      .withColumn("h", lcg(col("user_id"), 1315423911L, 2654435761L))
      .withColumn("g", (col("h") * col("h") % Prime * 1315423911L + 97L) % Prime)
      .withColumn("reg", col("g") % 64)
      .withColumn("rho", lit(26) - length(ltrim(bin(expr("g DIV 64")), "0")))
    val daily = hashed.groupBy("day", "reg").agg(max("rho").as("mj"))
    val merged = daily
      .select(col("reg"), col("mj"),
        explode(sequence(col("day"), col("day") + 6)).as("wend"))
      .join(days.withColumnRenamed("day", "wend"), "wend")
      .groupBy("wend", "reg").agg(max("mj").as("mj"))
    val est = merged.groupBy("wend")
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(26 - mj AS INT))")).as("sp"),
        count(lit(1)).as("nreg"))
      .select(col("wend"),
        expr("(CAST(2904064 AS BIGINT) * 67108864) DIV " +
          "(1000 * (sp + (64 - nreg) * 67108864))").as("est_distinct"))
    val exact = ev.select("day", "user_id").distinct()
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("wend"))
      .join(days.withColumnRenamed("day", "wend"), "wend")
      .groupBy("wend").agg(countDistinct("user_id").as("n_exact"))
    est.join(exact, "wend")
      .select(col("wend").as("day"), col("est_distinct"), col("n_exact"))
      .orderBy("day")
  }

  val analyticsSlidingHllSql: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events
      |), days AS MATERIALIZED (SELECT DISTINCT day FROM ev),
      |h AS MATERIALIZED (
      |  SELECT day,
      |         (user_id % 1000003 * 1315423911 + 2654435761) % 2147483647 AS h,
      |         user_id
      |  FROM ev
      |), g AS MATERIALIZED (
      |  SELECT day, (h * h % 2147483647 * 1315423911 + 97) % 2147483647 AS g
      |  FROM h
      |), b AS (
      |  SELECT day, g % 64 AS reg,
      |         26 - length(ltrim(bin(g // 64), '0')) AS rho
      |  FROM g
      |), daily AS (
      |  SELECT day, reg, MAX(rho) AS mj FROM b GROUP BY day, reg
      |), scat AS (
      |  SELECT reg, mj, unnest(range(day, day + 7)) AS wend FROM daily
      |), merged AS (
      |  SELECT s.wend, s.reg, MAX(s.mj) AS mj
      |  FROM scat s JOIN days d ON d.day = s.wend
      |  GROUP BY s.wend, s.reg
      |), regsum AS (
      |  -- hoisted like the engine's est stage: sp <= 64 registers x 2^26
      |  -- and nreg <= 64 are REGISTER-bounded (never corpus-sized), and
      |  -- the hoist lets the overflow check (GateHygieneSpec)
      |  -- see bounded plain identifiers instead of an inline SUM
      |  SELECT wend,
      |         SUM(CAST(1 AS BIGINT) << CAST(26 - mj AS INTEGER)) AS reg_min_sp,
      |         COUNT(*) AS reg_used
      |  FROM merged GROUP BY wend
      |), est AS MATERIALIZED (
      |  SELECT wend,
      |         CAST((CAST(2904064 AS BIGINT) * 67108864)
      |           // (1000 * (reg_min_sp + (64 - reg_used) * 67108864))
      |           AS BIGINT) AS est_distinct
      |  FROM regsum
      |), exact_scat AS (
      |  SELECT DISTINCT day, user_id FROM ev
      |), exact AS MATERIALIZED (
      |  SELECT s.wend, COUNT(DISTINCT s.user_id) AS n_exact
      |  FROM (SELECT user_id, unnest(range(day, day + 7)) AS wend
      |        FROM exact_scat) s
      |  JOIN days d ON d.day = s.wend
      |  GROUP BY s.wend
      |)
      |SELECT e.wend AS day, e.est_distinct, x.n_exact
      |FROM est e JOIN exact x ON x.wend = e.wend
      |ORDER BY day""".stripMargin
}

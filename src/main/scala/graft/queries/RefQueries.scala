package graft.queries

import graft.ops.ExactAgg.{exactAvg, exactSum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's nine query operators (SURVEY.md §2.5, from
  * airflow_pipeline/views.sql + notebooks/analysis.ipynb) re-expressed over
  * the driver's TPC-H-ish testdata so each has a DuckDB oracle twin.
  *
  * Determinism rules (the driver hash-compares against DuckDB):
  *   - every query ends with a total ORDER BY (unique key tie-breaks);
  *   - money aggregates are exact cents sums cast back to double
  *     ([[graft.ops.ExactAgg]]), so partial-aggregation order can never
  *     change a bit;
  *   - aggregate/computed columns are aliased identically here and in the
  *     oracle SQL.
  *
  * Scale notes: joins keep the small side (part/customer/nation) on the
  * build/broadcast side; aggregates are partial+final HashAggregates with
  * map-side combine; top-k compiles to TakeOrderedAndProject (no global
  * sort). The trailing ORDER BY on large outputs exists only for the
  * oracle's order-stable hash — a production caller would drop it.
  */
object RefQueries {

  /** The shared reader behind every query and Verify: `<sfDir>/<name>.parquet`
    * through [[graft.sources.ParquetRead]], whose schema comes from the
    * file's footer on the driver, so building a query starts no Spark job.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // set per session before the footer is converted: events.parquet (and
    // the reference's cleaned O*NET parquet) carry TIMESTAMP(NANOS), which
    // the reader rejects without it; the conf is runtime-settable, so
    // queries survive a harness session that didn't set it at build time
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = graft.sources.ParquetRead.read(spark, s"$sfDir/$name.parquet")
    // The driver has shipped events.ts as BOTH INT64 TIMESTAMP(NANOS)
    // (surfaced as a nano-long under nanosAsLong — rounds 1-8) and plain
    // timestamp[us] (surfaced as TIMESTAMP_NTZ — round 9 regeneration).
    // Every consumer is written against the nano-long representation, so
    // normalize HERE, at the single shared reader, instead of teaching
    // 25 call sites two spellings. Session TZ is UTC at every entry
    // point, so the NTZ→timestamp cast is wall-clock-preserving and
    // unix_micros·1000 reproduces the exact nano value the old files
    // carried (the generator emits micro-precision instants).
    if (name == "events" &&
        df.schema.fieldNames.contains("ts") &&
        df.schema("ts").dataType != org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        (unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
          * lit(1000L)).cast(org.apache.spark.sql.types.LongType))
    else df
  }

  /** One-pass gate sorts. A trailing `orderBy` above a narrow
    * no-exchange pipeline executes the child TWICE — the
    * RangePartitioner samples range bounds with a full pass before the
    * real one — so every gated query whose child is expensive uses one
    * of these instead (measured on multimodal_png_decode: 2× exactly).
    *
    *   - [[gateSort]]: single-partition shuffle + in-partition sort.
    *     One pass, no sampling; right when the sorted set is small-ish
    *     (≲ a few hundred k rows — the sort itself is one task).
    *   - [[barrierSort]]: hash-repartition on the leading key, THEN the
    *     range sort. The hash exchange materializes as its own query
    *     stage, so the sampling pass reads shuffle output instead of
    *     re-running the child, and the sort stays fully parallel —
    *     right for large outputs (q5's 600k joined rows: 1.9 → 1.1 s).
    *
    * Both are gate-contract artifacts: a production caller drops the
    * total order entirely (ARCHITECTURE.md, determinism doctrine).
    */
  private[queries] def gateSort(df: DataFrame, cols: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols.map(col): _*)

  /** [[gateSort]] minus the exchange: `coalesce(1)` is a NARROW
    * single-partition collapse, so the whole query — child included —
    * runs as ONE task in ONE stage (no shuffle write/read, no extra AQE
    * stage materialization; measured 0.42 → 0.29 s on the 10k-row JSON
    * parse). The flip side is that the child itself runs single-threaded,
    * so this is ONLY for gates whose total input is driver-tiny (the
    * 10-20k-row events/part scans); anything that needs a parallel child
    * keeps gateSort's exchange.
    */
  private[queries] def tinyGateSort(df: DataFrame, cols: String*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols.map(col): _*)

  private[queries] def barrierSort(df: DataFrame, cols: String*): DataFrame =
    df.repartition(col(cols.head)).orderBy(cols.map(col): _*)

  /** Q1 — split_part (views.sql:5,20: `split_part(onet_soc_code,'.',1)`). */
  def q1SplitPart(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part")
      .select(
        col("p_partkey"),
        split_part(col("p_name"), lit(" "), lit(1)).as("name_head"),
        split_part(col("p_name"), lit(" "), lit(2)).as("name_tail"))
      .orderBy("p_partkey")

  val q1Sql: String =
    """SELECT p_partkey,
      |       split_part(p_name, ' ', 1) AS name_head,
      |       split_part(p_name, ' ', 2) AS name_tail
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Q2 — CTE (views.sql:4-7), via SQL text to exercise the parser path. */
  def q2Cte(spark: SparkSession, sfDir: String): DataFrame = {
    table(spark, sfDir, "part").createOrReplaceTempView("part")
    spark.sql(
      """WITH sized AS (
        |  SELECT p_brand, p_retailprice FROM part WHERE p_size > 10
        |)
        |SELECT p_brand, COUNT(*) AS n_parts
        |FROM sized GROUP BY p_brand ORDER BY p_brand""".stripMargin)
  }

  val q2Sql: String =
    """WITH sized AS (
      |  SELECT p_brand, p_retailprice FROM part WHERE p_size > 10
      |)
      |SELECT p_brand, COUNT(*) AS n_parts
      |FROM sized GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Q3+Q4 — hash aggregate GROUP BY + AVG + ROUND (views.sql:9-14). */
  def q3GroupAvg(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(exactAvg(col("l_quantity")), 2).as("mean_qty"),
        round(exactAvg(col("l_extendedprice")), 2).as("mean_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val q3Sql: String =
    """SELECT l_returnflag,
      |       CAST(ROUND(CAST(CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) / COUNT(l_quantity) AS STRING) AS DECIMAL(38,18)), 2) AS DOUBLE) AS mean_qty,
      |       CAST(ROUND(CAST(CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) / COUNT(l_extendedprice) AS STRING) AS DECIMAL(38,18)), 2) AS DOUBLE) AS mean_price,
      |       COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Q4 — scalar ROUND on its own (views.sql:9-12). */
  def q4Round(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part")
      .select(
        col("p_partkey"),
        round(col("p_retailprice") / 7, 2).as("price_div7"))
      .orderBy("p_partkey")

  val q4Sql: String =
    """SELECT p_partkey, CAST(ROUND(CAST(CAST(p_retailprice / 7 AS STRING) AS DECIMAL(38,18)), 2) AS DOUBLE) AS price_div7
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Q5 — inner equi-join, fact ⋈ small dim (views.sql:18-27). The dim
    * (part) broadcasts; no shuffle on the fact side.
    *
    * Gate order comes from RANGE-PARTITIONING the fact slice BEFORE the
    * join and locally sorting AFTER it: the range exchange carries only
    * the four numeric sort keys (the entire lineitem contribution to
    * the output) instead of the joined rows with their two dim strings,
    * and the range sampler's second pass re-reads a pruned 4-column
    * parquet scan instead of re-running the join. A broadcast hash join
    * preserves its probe side's partitioning, so the trailing
    * sortWithinPartitions needs NO exchange — within-partition order
    * plus the ascending range-partition order makes the written files a
    * total ORDER BY for the oracle (the same file-order contract
    * barrierSort relies on). The local sort must sit ON TOP (not under
    * the join, where EliminateSorts rightly drops it as semantically
    * unordered); ParityFastPathSpec pins row-for-row equality with the
    * explicit post-join orderBy spelling, which would catch any plan
    * change that re-partitions the probe side (e.g. losing the
    * broadcast hint to a sort-merge join). Measured 0.93 → ~0.4 s.
    */
  def q5Join(spark: SparkSession, sfDir: String): DataFrame = {
    val keys = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val li = table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .repartitionByRange(32, keys.map(col): _*)
    val p = table(spark, sfDir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "inner")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("p_name"), col("p_brand"), col("l_quantity"))
      .sortWithinPartitions(keys.map(col): _*)
  }

  val q5Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, p_name, p_brand, l_quantity
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin

  /** Q6 — view definition + select-from-view (views.sql:3,18). */
  def q6View(spark: SparkSession, sfDir: String): DataFrame = {
    table(spark, sfDir, "supplier").createOrReplaceTempView("supplier")
    table(spark, sfDir, "nation").createOrReplaceTempView("nation")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY VIEW vw_supplier_nation AS
        |SELECT s_suppkey, s_name, s_acctbal, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin)
    spark.sql(
      "SELECT s_suppkey, s_name, s_acctbal, n_name FROM vw_supplier_nation ORDER BY s_suppkey")
  }

  val q6Sql: String =
    """SELECT s_suppkey, s_name, s_acctbal, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY s_suppkey""".stripMargin

  /** Q7 — group-avg over a join (analysis.ipynb cell 4 shape):
    * orders ⋈ customer ⋈ nation, mean order price per nation.
    */
  def q7GroupAvgOverJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = table(spark, sfDir, "orders")
    val c = table(spark, sfDir, "customer")
    val n = table(spark, sfDir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(
        round(exactAvg(col("o_totalprice")), 2).as("avg_totalprice"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")
  }

  val q7Sql: String =
    """SELECT n_name,
      |       CAST(ROUND(CAST(CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) / COUNT(o_totalprice) AS STRING) AS DECIMAL(38,18)), 2) AS DOUBLE) AS avg_totalprice,
      |       COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Q8 — sort + top-k (analysis.ipynb cell 4: top-10 by mean wage).
    * orderBy(desc).limit(k) → TakeOrderedAndProject: each partition keeps
    * a k-heap, driver merges k·p rows — no global sort even at 100 TB.
    * Unique tie-break on p_partkey pins the order.
    */
  def q8TopK(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val p = table(spark, sfDir, "part")
    // aggregate BEFORE the join: the sum groups by the join key alone
    // (p_name is functionally determined by p_partkey), so reducing the
    // fact side first joins 2k aggregated rows instead of probing 600k
    // — the classic agg-pushdown Catalyst won't do for you
    // (measured 1.19 → 0.79 s at sf0.1)
    li.groupBy("l_partkey")
      .agg(exactSum(col("l_extendedprice")).as("revenue"))
      .join(broadcast(p), col("l_partkey") === p("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("revenue"))
      .orderBy(desc("revenue"), asc("p_partkey"))
      .limit(10)
  }

  val q8Sql: String =
    """SELECT p_partkey, p_name,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_partkey, p_name
      |ORDER BY revenue DESC, p_partkey LIMIT 10""".stripMargin

  /** Q5 variant — the skew-salted join must be result-identical to the
    * plain inner equi-join (its oracle IS the plain join): salting is a
    * physical spread of hot keys, never a semantic change. This row
    * gates the ALWAYS-SALT spelling (every key spread over 8 salts,
    * the whole small side replicated 8×) so the replication machinery
    * itself sits under the value-hash gate; SkewJoinSpec's
    * planted-monster-key corpus compares it against AQE.
    */
  def q5SaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val p = table(spark, sfDir, "part")
    // saltBy = lineitem's natural primary key: deterministic salt, so a
    // recomputed map task re-routes each row identically under retry
    graft.ops.SkewJoin.saltedInnerJoin(li, p, "l_partkey", "p_partkey",
        salts = 8, saltBy = Seq(col("l_orderkey"), col("l_linenumber")))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("p_name"), col("p_brand"), col("l_quantity"))
      .transform(barrierSort(_, "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"))
  }

  /** Q5 variant — the TWO-PHASE skew join (the production spelling:
    * histogram the key column, salt only keys above skewFactor × mean,
    * plain-join the rest, union). skewFactor = 1.0 on this
    * near-uniform corpus puts the above-mean half of the keys in the
    * hot branch (capped at maxHotKeys) — BOTH branches do real work
    * under the gate, unlike the default threshold where the corpus has
    * no hot keys and the operator degenerates to the plain join. Same
    * oracle as the plain q5: physical strategy, identical result.
    */
  def q5TwophaseJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val p = table(spark, sfDir, "part")
    // hotSupport: the one-pass freqItems detector (no shuffle — the
    // measured exact histogram cost ~0.8 s against ~0.3 s for the
    // narrow pass at sf0.1, and at 100 TB the histogram is a full
    // key-space shuffle). This corpus has no true hot key (top partkey
    // 53 rows vs mean 30), so the survivors are churn candidates — the
    // point of gating this spelling is that salting ANY key set is
    // output-neutral, which the shared q5 oracle proves. maxHotKeys=64
    // keeps the isin predicate and the small-side replication bounded.
    graft.ops.SkewJoin.twoPhaseSaltedInnerJoin(li, p, "l_partkey", "p_partkey",
        salts = 8, maxHotKeys = 64,
        saltBy = Seq(col("l_orderkey"), col("l_linenumber")),
        hotSupport = Some(0.001))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("p_name"), col("p_brand"), col("l_quantity"))
      .transform(barrierSort(_, "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"))
  }

  /** Q9 — full-table select (analysis.ipynb cells 2-3). */
  def q9Select(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")

  val q9Sql: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"
}

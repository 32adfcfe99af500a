package graft.queries

import graft.ops.ExactAgg.cents
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.OewsCleaner

/** The reference's row-level ETL transforms (SURVEY.md §2.4: R1 cell
  * scrub, R2 try-cast coercion, R4 date parse, R5 drop-last-N) exposed as
  * oracle-checkable queries over testdata. Noisy inputs are synthesized
  * from integer columns only — double→string formatting differs across
  * engines, int→string does not.
  *
  * The Spark side runs the PRODUCTION expressions (OewsCleaner.scrub etc.);
  * the oracle SQL restates the same semantics in DuckDB's dialect, so the
  * gate checks the real cleaning code, not a test-only copy.
  */
object EtlQueries {
  import RefQueries.table

  /** R1+R2 — cell scrub + numeric coercion. Five observed value shapes
    * (FIXTURES.md A1) keyed off p_partkey % 5: suppression sentinel,
    * footnote+$+commas, digit footnote, plain number, garbage.
    */
  def etlCellScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val noisy = table(spark, sfDir, "part").select(
      col("p_partkey"),
      expr("""CASE p_partkey % 5
             |  WHEN 0 THEN '(' || CAST(p_partkey % 9 + 1 AS STRING) || ')-'
             |  WHEN 1 THEN '()$' || format_number(p_partkey * 1000L, 0)
             |  WHEN 2 THEN '(' || CAST(p_partkey % 9 AS STRING) || ')' || CAST(p_size AS STRING)
             |  WHEN 3 THEN CAST(p_size * 100 AS STRING)
             |  ELSE 'N/A'
             |END""".stripMargin).as("noisy"))
    noisy
      .withColumn("clean_val", OewsCleaner.scrub(col("noisy")))
      .withColumn("val_num", expr("try_cast(clean_val AS DOUBLE)"))
      .transform(RefQueries.gateSort(_, "p_partkey"))
  }

  val etlCellScrubSql: String =
    """WITH noisy_t AS (
      |  SELECT p_partkey,
      |         CASE p_partkey % 5
      |           WHEN 0 THEN '(' || CAST(p_partkey % 9 + 1 AS VARCHAR) || ')-'
      |           WHEN 1 THEN '()$' || format('{:,}', CAST(p_partkey AS BIGINT) * 1000)
      |           WHEN 2 THEN '(' || CAST(p_partkey % 9 AS VARCHAR) || ')' || CAST(p_size AS VARCHAR)
      |           WHEN 3 THEN CAST(p_size * 100 AS VARCHAR)
      |           ELSE 'N/A'
      |         END AS noisy
      |  FROM part
      |), scrubbed AS (
      |  SELECT p_partkey, noisy,
      |         CASE WHEN noisy IS NULL OR regexp_matches(noisy, '^\(\d+\)-$') THEN NULL
      |              ELSE replace(replace(
      |                     CASE WHEN contains(noisy, ')')
      |                          THEN trim(regexp_replace(noisy, '^[^)]*\)', ''))
      |                          ELSE noisy END, '$', ''), ',', '')
      |         END AS clean_val
      |  FROM noisy_t
      |)
      |SELECT p_partkey, noisy, clean_val, TRY_CAST(clean_val AS DOUBLE) AS val_num
      |FROM scrubbed ORDER BY p_partkey""".stripMargin

  /** R4 — `MM/yyyy` date parse with coerce-to-NULL on garbage
    * (load_data.py:231 ≙ try_to_timestamp). Date strings synthesized from
    * o_orderdate; every 13th key is garbage.
    */
  def etlDateParse(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders")
      .select(
        col("o_orderkey"),
        expr("""CASE WHEN o_orderkey % 13 = 0 THEN 'not-a-date'
               |     ELSE lpad(CAST(month(o_orderdate) AS STRING), 2, '0')
               |          || '/' || CAST(year(o_orderdate) AS STRING)
               |END""".stripMargin).as("date_str"))
      .withColumn("parsed_date",
        try_to_timestamp(col("date_str"), lit("MM/yyyy")).cast("date"))
      // one-pass gate sort: the child re-runs a per-row timestamp parse
      // over 150k orders rows — keep it PARALLEL (tinyGateSort's single
      // task was measurably slower here)
      .transform(RefQueries.gateSort(_, "o_orderkey"))

  val etlDateParseSql: String =
    """WITH s AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 13 = 0 THEN 'not-a-date'
      |              ELSE lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0')
      |                   || '/' || CAST(year(o_orderdate) AS VARCHAR)
      |         END AS date_str
      |  FROM orders
      |)
      |SELECT o_orderkey, date_str,
      |       CAST(try_strptime(date_str, '%m/%Y') AS DATE) AS parsed_date
      |FROM s ORDER BY o_orderkey""".stripMargin

  /** R5 — ordered drop-last-N (load_data.py:79 drops 2 scraped footer
    * rows). Scale-safe spelling: an unpartitioned window (`row_number`
    * over global ORDER BY) funnels every row through ONE task — fatal at
    * 100×. Instead fetch the N largest keys with a top-k on JUST the key
    * column (TakeOrderedAndProject, no full sort), reduce to the N-th
    * largest, and broadcast that 1-row cutoff as a filter. Requires a
    * unique ordering key (event_id is); with ties the windowed form is
    * nondeterministic anyway.
    */
  def etlDropLastN(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"))
    val cutoff = ev.select("event_id")
      .orderBy(col("event_id").desc).limit(2)
      .agg(min("event_id").as("cutoff"))
    ev.join(broadcast(cutoff), col("event_id") < col("cutoff"))
      .select("event_id", "event_type")
      // single-task tiny gate: 10k rows, one stage, no exchange
      .transform(RefQueries.tinyGateSort(_, "event_id"))
  }

  /** Semi-structured extraction: parse the events `props` JSON column
    * with Spark's JSON machinery (`from_json` with an explicit schema —
    * codegen'd Jackson parse, the shape metadata extraction takes in a
    * training-data pipeline). Oracle uses DuckDB's JSON functions.
    * Semantics seam on MALFORMED json: Spark from_json coerces to NULL,
    * DuckDB json_extract_string throws — equivalent only on valid-JSON
    * corpora like this one (all 10k props parse).
    */
  def etlJsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("prop_k"))
      // single-task tiny gate: 10k rows, one stage, no exchange
      .transform(RefQueries.tinyGateSort(_, "event_id"))

  val etlJsonExtractSql: String =
    """SELECT event_id, event_type,
      |       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
      |FROM events ORDER BY event_id""".stripMargin

  /** `etl_survivorship` — golden-record merge: an entity's attributes
    * arrive scattered across many records with gaps, and the survivor
    * per attribute is the value from the LATEST record where that
    * attribute is present (MDM "most recent non-null wins" rule). The
    * dirty feed is synthesized deterministically from events —
    * `value` is masked on 'view' rows and the props `k` on multiples
    * of 5 — so every engine sees the same gaps.
    *
    * Scale spelling: ONE aggregate —
    * `max_by(attr, struct(us, event_id)) FILTER (WHERE attr IS NOT
    * NULL)` per attribute — so the whole merge is a single partial+
    * final shuffle keyed by entity, O(1) state per (group, attr).
    * Plan note: the struct ordering key makes the buffer non-mutable
    * for UnsafeRow, so Spark plans a partial+final SORT aggregate, not
    * hash — still map-side-combined and one exchange; a deployment
    * whose (ts, id) domain packs into one BIGINT would get
    * HashAggregate back with `max_by(attr, packed)`. Either way this
    * beats the per-attribute window-rank alternative (one full-sort
    * window PER ATTRIBUTE plus rank-1 joins) — which is the ORACLE's
    * spelling, precisely because the two must agree. (us, event_id) is
    * a total tiebreak: event_id is unique.
    */
  def etlSurvivorship(spark: SparkSession, sfDir: String): DataFrame = {
    val e = table(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").cast("long").as("us"),
        col("event_type"),
        expr("CASE WHEN event_type <> 'view' THEN value END").as("a_val"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("prop_k"))
      .withColumn("a_k", expr("CASE WHEN prop_k % 5 <> 0 THEN prop_k END"))
    e.groupBy("user_id").agg(
        count(lit(1)).as("n_records"),
        min("us").as("first_seen_us"),
        max("us").as("last_seen_us"),
        expr("max_by(event_type, struct(us, event_id))").as("last_type"),
        expr("max_by(a_val, struct(us, event_id)) FILTER (WHERE a_val IS NOT NULL)")
          .as("last_val"),
        expr("max_by(a_k, struct(us, event_id)) FILTER (WHERE a_k IS NOT NULL)")
          .as("last_k"))
      .transform(RefQueries.gateSort(_, "user_id"))
  }

  val etlSurvivorshipSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
      |         CASE WHEN event_type <> 'view' THEN value END AS a_val,
      |         CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 <> 0
      |              THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
      |         END AS a_k
      |  FROM events
      |), base AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_records,
      |         min(us) AS first_seen_us, max(us) AS last_seen_us
      |  FROM e GROUP BY user_id
      |), lt AS MATERIALIZED (
      |  SELECT user_id, event_type AS last_type FROM (
      |    SELECT user_id, event_type,
      |           row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM e) WHERE rn = 1
      |), lv AS MATERIALIZED (
      |  SELECT user_id, a_val AS last_val FROM (
      |    SELECT user_id, a_val,
      |           row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM e WHERE a_val IS NOT NULL) WHERE rn = 1
      |), lk AS MATERIALIZED (
      |  SELECT user_id, a_k AS last_k FROM (
      |    SELECT user_id, a_k,
      |           row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
      |    FROM e WHERE a_k IS NOT NULL) WHERE rn = 1
      |)
      |SELECT b.user_id, b.n_records, b.first_seen_us, b.last_seen_us,
      |       lt.last_type, lv.last_val, lk.last_k
      |FROM base b
      |LEFT JOIN lt USING (user_id)
      |LEFT JOIN lv USING (user_id)
      |LEFT JOIN lk USING (user_id)
      |ORDER BY user_id""".stripMargin

  val etlDropLastNSql: String =
    """SELECT event_id, event_type FROM (
      |  SELECT event_id, event_type,
      |         row_number() OVER (ORDER BY event_id) AS rn,
      |         count(*) OVER () AS cnt
      |  FROM events
      |) WHERE rn <= cnt - 2 ORDER BY event_id""".stripMargin

  /** The FULL composed clean (P1 rename → P2 split → R1 scrub → R2 cast
    * → P3 reorder) as one gated unit: a raw all-string OEWS-shaped frame
    * is synthesized from `part` — scraped-style headers (footnote
    * suffixes, spaces, commas, "standard error"), a composite
    * `Occupation (SOC code)` cell, and four noisy value columns keyed
    * off integer columns — then run through the PRODUCTION
    * OewsCleaner.clean. The oracle restates rename/split/scrub/cast in
    * DuckDB. `row_id` (unique) pins the output order.
    */
  def etlFullClean(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "part").select(
      expr("""p_name || ' (' || CAST(p_partkey % 90 + 10 AS STRING) || '-'
             |       || CAST(p_partkey % 9000 + 1000 AS STRING) || ')'""".stripMargin)
        .as("Occupation (SOC code)"),
      expr("""CASE p_partkey % 5
             |  WHEN 0 THEN '(' || CAST(p_partkey % 9 + 1 AS STRING) || ')-'
             |  WHEN 1 THEN '()$' || format_number(p_partkey * 1000L, 0)
             |  WHEN 2 THEN '(' || CAST(p_partkey % 9 AS STRING) || ')' || CAST(p_size AS STRING)
             |  WHEN 3 THEN CAST(p_size * 100 AS STRING)
             |  ELSE 'N/A'
             |END""".stripMargin).as("Employment()"),
      expr("""CASE (p_partkey + 2) % 5
             |  WHEN 0 THEN '$' || format_number(p_partkey * 37L, 0)
             |  WHEN 1 THEN '(3)-'
             |  WHEN 2 THEN '(1)' || CAST(p_size * 3 AS STRING)
             |  WHEN 3 THEN CAST(p_size * 11 AS STRING)
             |  ELSE 'suppressed'
             |END""".stripMargin).as("Annual mean wage()"),
      expr("""CASE p_partkey % 3
             |  WHEN 0 THEN '()' || CAST(p_size AS STRING)
             |  WHEN 1 THEN CAST(p_size * 7 AS STRING)
             |  ELSE '(2)-'
             |END""".stripMargin).as("Employment per 1,000 jobs()"),
      expr("""CASE WHEN p_partkey % 7 = 0 THEN '(9)-'
             |     ELSE CAST(p_partkey % 50 AS STRING) END""".stripMargin)
        .as("Hourly mean wage standard error()"),
      col("p_partkey").cast("string").as("Row ID()"))
    // single-task tiny gate: the regex-heavy clean chain runs over only
    // 20k synthesized rows — one stage beats parallel-clean + exchange
    RefQueries.tinyGateSort(OewsCleaner.clean(raw), "row_id")
  }

  val etlFullCleanSql: String = {
    // DuckDB restatement of OewsCleaner.scrub (same text as the
    // etl_cell_scrub oracle), applied per renamed column
    def scrub(c: String): String =
      "CASE WHEN " + c + " IS NULL OR regexp_matches(" + c + ", '^\\(\\d+\\)-$') THEN NULL " +
        "ELSE replace(replace(CASE WHEN contains(" + c + ", ')') " +
        "THEN trim(regexp_replace(" + c + ", '^[^)]*\\)', '')) ELSE " + c + " END, '$', ''), ',', '') END"
    s"""WITH raw AS (
       |  SELECT p_name || ' (' || CAST(p_partkey % 90 + 10 AS VARCHAR) || '-'
       |           || CAST(p_partkey % 9000 + 1000 AS VARCHAR) || ')' AS occ,
       |         CASE p_partkey % 5
       |           WHEN 0 THEN '(' || CAST(p_partkey % 9 + 1 AS VARCHAR) || ')-'
       |           WHEN 1 THEN '()$$' || format('{:,}', CAST(p_partkey AS BIGINT) * 1000)
       |           WHEN 2 THEN '(' || CAST(p_partkey % 9 AS VARCHAR) || ')' || CAST(p_size AS VARCHAR)
       |           WHEN 3 THEN CAST(p_size * 100 AS VARCHAR)
       |           ELSE 'N/A'
       |         END AS employment,
       |         CASE (p_partkey + 2) % 5
       |           WHEN 0 THEN '$$' || format('{:,}', CAST(p_partkey AS BIGINT) * 37)
       |           WHEN 1 THEN '(3)-'
       |           WHEN 2 THEN '(1)' || CAST(p_size * 3 AS VARCHAR)
       |           WHEN 3 THEN CAST(p_size * 11 AS VARCHAR)
       |           ELSE 'suppressed'
       |         END AS annual_mean_wage,
       |         CASE p_partkey % 3
       |           WHEN 0 THEN '()' || CAST(p_size AS VARCHAR)
       |           WHEN 1 THEN CAST(p_size * 7 AS VARCHAR)
       |           ELSE '(2)-'
       |         END AS employment_per_1000_jobs,
       |         CASE WHEN p_partkey % 7 = 0 THEN '(9)-'
       |              ELSE CAST(p_partkey % 50 AS VARCHAR) END AS hourly_mean_wage_std_error,
       |         CAST(p_partkey AS VARCHAR) AS row_id
       |  FROM part
       |), splitup AS (
       |  SELECT trim(string_split(occ, '(')[1]) AS occupation,
       |         trim(replace(string_split(occ, '(')[2], ')', '')) AS soc_code,
       |         employment, annual_mean_wage, employment_per_1000_jobs,
       |         hourly_mean_wage_std_error, row_id
       |  FROM raw
       |)
       |SELECT ${scrub("soc_code")} AS soc_code,
       |       ${scrub("occupation")} AS occupation,
       |       TRY_CAST(${scrub("employment")} AS BIGINT) AS employment,
       |       TRY_CAST(${scrub("annual_mean_wage")} AS BIGINT) AS annual_mean_wage,
       |       TRY_CAST(${scrub("employment_per_1000_jobs")} AS DOUBLE) AS employment_per_1000_jobs,
       |       TRY_CAST(${scrub("hourly_mean_wage_std_error")} AS DOUBLE) AS hourly_mean_wage_std_error,
       |       TRY_CAST(${scrub("row_id")} AS DOUBLE) AS row_id
       |FROM splitup
       |ORDER BY TRY_CAST(${scrub("row_id")} AS DOUBLE)""".stripMargin
  }

  /** `etl_sample` — DETERMINISTIC 10% sample via an engine-neutral LCG
    * hash of the row key, the reproducible alternative to RAND()-based
    * sampling a training pipeline needs (same rows on every run, every
    * engine, any partitioning). The key is reduced mod 1000003 BEFORE
    * the multiply so the product stays < 2^62 at any key scale (ANSI
    * overflow-safe at 100 TB, not just at the gated SF).
    */
  def etlSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.queries.RefQueries.table(spark, sfDir, "lineitem")
      .where(expr(
        // l_linenumber is INT32 and 1315423911 fits INT32 too — without
        // the cast the multiply stays 32-bit and overflows under ANSI
        "((pmod(l_orderkey, 1000003) * 2654435761 + CAST(l_linenumber AS BIGINT) * 1315423911) % 1000003) % 10 = 0"))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      // (l_orderkey, l_linenumber) is NOT unique in this corpus: sort
      // over every output column so tied rows are identical and the
      // row-by-row gate compare is engine-order-independent (the
      // etl_minmax_scale lesson; tools/check_sort_total.py flagged
      // 1193 divergent tie groups under the two-column key)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")

  val etlSampleSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE (((l_orderkey % 1000003) * 2654435761
      |        + CAST(l_linenumber AS BIGINT) * 1315423911)
      |       % 1000003) % 10 = 0
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""".stripMargin

  /** `etl_upsert` — latest-wins MERGE over the orders snapshot: every
    * 10th key gets a price-bumped update row, keys ≡ 7 (mod 1000)
    * re-enter as inserts under new keys; Upsert.latestWins applies the
    * batch in one keyed shuffle. The oracle restates tag + union +
    * row_number.
    */
  def etlUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = graft.queries.RefQueries.table(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val changes = orders.where(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 100000)
      .withColumn("o_orderstatus", lit("U"))
    val inserts = orders.where(col("o_orderkey") % 1000 === 7)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000)
      .withColumn("o_orderstatus", lit("N"))
    graft.ops.Upsert.latestWins(
        orders, changes.unionByName(inserts),
        keys = Seq("o_orderkey"), tieBreak = "o_custkey")
      .orderBy("o_orderkey")
  }

  /** `etl_table_diff` — snapshot reconcile (see ops/TableDiff): the
    * "after" snapshot is a deterministic evolution of orders — keys
    * ≡0 (mod 101) deleted, ≡0 (mod 97) repriced +5.00, ≡0 (mod 103)
    * re-inserted under key+10⁷ — so the diff must classify exactly
    * those keys and nothing else. Money compares in exact cents.
    */
  def etlTableDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val before = graft.queries.RefQueries.table(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        cents(col("o_totalprice")).as("cents"))
    val after = before.where(col("o_orderkey") % 101 =!= 0)
      .withColumn("cents", when(col("o_orderkey") % 97 === 0,
        col("cents") + 500L).otherwise(col("cents")))
      .unionByName(before.where(col("o_orderkey") % 103 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    graft.ops.TableDiff.diff(before, after,
        keys = Seq("o_orderkey"), compare = Seq("cents"))
      .transform(RefQueries.gateSort(_, "o_orderkey"))
  }

  val etlTableDiffSql: String =
    """WITH b AS MATERIALIZED (
      |  SELECT o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders
      |), a AS MATERIALIZED (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 97 = 0 THEN cents + 500 ELSE cents END AS cents
      |  FROM b WHERE o_orderkey % 101 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, cents FROM b WHERE o_orderkey % 103 = 0
      |), j AS (
      |  SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
      |         b.cents AS b_cents, a.cents AS a_cents,
      |         b.o_orderkey IS NULL AS no_b, a.o_orderkey IS NULL AS no_a
      |  FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey
      |)
      |SELECT o_orderkey,
      |       CASE WHEN no_b THEN 'added' WHEN no_a THEN 'removed'
      |            WHEN b_cents IS DISTINCT FROM a_cents THEN 'changed' END AS change_type,
      |       b_cents, a_cents
      |FROM j
      |WHERE (CASE WHEN no_b THEN 'added' WHEN no_a THEN 'removed'
      |            WHEN b_cents IS DISTINCT FROM a_cents THEN 'changed' END) IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  /** `etl_stratified_sample` — per-stratum deterministic sampling with
    * EXACT quotas: within each lang, rank docs by an engine-neutral LCG
    * hash (so the kept set is stable across runs, engines, and
    * partitionings) and keep ceil(n/5) = 20%. Unlike the bernoulli
    * `etl_sample`, strata quotas are exact — the contract quality
    * pipelines need when small languages must not vanish. Integer
    * ceil((n+4) div 5), no float thresholds. One shuffle on the stratum.
    */
  def etlStratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy("lang")
    val ranked = Window.partitionBy("lang")
      .orderBy(col("h"), col("doc_id"))
    graft.queries.RefQueries.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn("h", expr("(pmod(doc_id, 1000003) * 2654435761) % 1000003"))
      .withColumn("n", count(lit(1)).over(byLang))
      .withColumn("rn", row_number().over(ranked))
      .where(col("rn") <= (col("n") + 4) / 5)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  val etlStratifiedSampleSql: String =
    """WITH h AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |         ((doc_id % 1000003) * 2654435761) % 1000003 AS h
      |  FROM documents
      |), ranked AS (
      |  SELECT doc_id, lang,
      |         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM h
      |)
      |SELECT doc_id, lang FROM ranked
      |WHERE rn <= (n + 4) // 5
      |ORDER BY doc_id""".stripMargin

  /** `etl_scd2` — interval-versioned dimension history from a change
    * log: each customer's orders are its attribute versions; lead()
    * closes every version with the next one's start (half-open, so the
    * timeline tiles exactly). Times flow as integer epoch-ms on both
    * engines (o_orderdate is a ms-precision timestamp).
    */
  def etlScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val changes = graft.queries.RefQueries.table(spark, sfDir, "orders")
      .select(
        col("o_custkey"),
        // o_orderdate is TIMESTAMP_NTZ; the session runs UTC, so the
        // cast is an identity relabel and epoch-ms matches DuckDB's
        // epoch_ms over the same naive value
        unix_millis(col("o_orderdate").cast("timestamp")).as("eff_ms"),
        col("o_orderkey"),
        col("o_totalprice"))
    graft.ops.Scd2.buildHistory(changes,
        keys = Seq("o_custkey"), effectiveTime = "eff_ms", tieBreak = "o_orderkey")
      .select("o_custkey", "o_orderkey", "valid_from", "valid_to",
        "is_current", "o_totalprice")
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  val etlScd2Sql: String =
    """WITH c AS (
      |  SELECT o_custkey, epoch_ms(o_orderdate) AS eff_ms, o_orderkey, o_totalprice
      |  FROM orders
      |)
      |SELECT o_custkey, o_orderkey,
      |       eff_ms AS valid_from,
      |       lead(eff_ms) OVER (PARTITION BY o_custkey
      |                          ORDER BY eff_ms, o_orderkey) AS valid_to,
      |       lead(eff_ms) OVER (PARTITION BY o_custkey
      |                          ORDER BY eff_ms, o_orderkey) IS NULL AS is_current,
      |       o_totalprice
      |FROM c ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin

  val etlUpsertSql: String =
    """WITH o AS MATERIALIZED (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
      |), u AS MATERIALIZED (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |         o_totalprice + 100000 AS o_totalprice
      |  FROM o WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice
      |  FROM o WHERE o_orderkey % 1000 = 7
      |), tagged AS (
      |  SELECT *, 0 AS src FROM o
      |  UNION ALL
      |  SELECT *, 1 AS src FROM u
      |)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |                                   ORDER BY src DESC, o_custkey DESC) AS rn
      |      FROM tagged)
      |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin

  /** `etl_ffill` — forward-fill, the standard time-series gap repair:
    * error events carry no usable reading (modeled as NULL cents), and
    * each user's gap is filled with their most recent non-null value
    * (`last(_, ignoreNulls)` over an unbounded-preceding ROWS frame —
    * evaluated incrementally, O(1) per row). Leading gaps (no prior
    * reading) surface as -1 rather than NULL: the driver gate compares
    * pandas dtypes and a nullable int64 column would decay to float64.
    *
    * Scale: one shuffle on user_id + per-partition sort; no state
    * beyond the running last value.
    */
  def etlFfill(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    table(spark, sfDir, "events")
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("ts_us"),
        when(col("event_type") =!= "error",
          round(col("value") * 100).cast("long")).as("reading"))
      .withColumn("filled",
        last(col("reading"), ignoreNulls = true).over(byTime))
      .select(
        col("event_id"), col("user_id"), col("ts_us"),
        coalesce(col("reading"), lit(-1L)).as("raw_cents"),
        coalesce(col("filled"), lit(-1L)).as("filled_cents"))
      .orderBy("event_id")
  }

  val etlFfillSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |         CASE WHEN event_type != 'error'
      |              THEN CAST(round(value * 100) AS BIGINT) END AS reading
      |  FROM events
      |)
      |SELECT event_id, user_id, ts_us,
      |       COALESCE(reading, -1) AS raw_cents,
      |       COALESCE(last_value(reading IGNORE NULLS)
      |                  OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                        ROWS UNBOUNDED PRECEDING), -1) AS filled_cents
      |FROM e ORDER BY event_id""".stripMargin

  /** `etl_constraints` — declarative data-quality gate (the
    * expectations/constraint-suite pattern): one row per constraint
    * with checked and violating counts. Mixed outcomes by design —
    * referential integrity, uniqueness and not-null pass on this data;
    * the balance-nonnegative rule (122 hits) and the value-cap rule
    * (1316 hits) genuinely fire, so the gate proves violations are
    * counted, not just that zeros propagate.
    *
    * Scale: every single-table rule for a table folds into ONE
    * conditional-aggregate scan (count + sum(when)) — adding rules adds
    * columns, not passes; uniqueness is count − exact count-distinct in
    * the same agg; the FK rule is the only join (LEFT ANTI against the
    * dim, broadcast when small). Five constraints here cost three scans
    * and one anti-join, independent of row count.
    */
  def etlConstraints(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.RefQueries.table
    val cust = table(spark, sfDir, "customer")
    val ords = table(spark, sfDir, "orders")
    def row(name: String, checked: Column, viol: Column, from: DataFrame): DataFrame =
      from.agg(checked.as("n_checked"), viol.as("n_violations"))
        .select(lit(name).as("rule"), col("n_checked"), col("n_violations"))
    val custBal = row("customer_acctbal_nonnegative", count(lit(1)),
      sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)), cust)
    val evCap = row("events_value_le_100", count(lit(1)),
      sum(when(col("value") > 100.0, 1L).otherwise(0L)),
      table(spark, sfDir, "events"))
    val ordNull = row("orders_custkey_notnull", count(lit(1)),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)), ords)
    val ordUniq = row("orders_orderkey_unique", count(lit(1)),
      count(lit(1)) - countDistinct(col("o_orderkey")), ords)
    val ordFk = ords.select("o_custkey")
      .join(cust.select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(ords.agg(count(lit(1)).as("n_checked")))
      .select(lit("orders_custkey_fk").as("rule"),
        col("n_checked"), col("n_violations"))
    custBal.unionByName(evCap).unionByName(ordNull).unionByName(ordUniq)
      .unionByName(ordFk)
      .orderBy("rule")
  }

  val etlConstraintsSql: String =
    """SELECT * FROM (
      |  SELECT 'customer_acctbal_nonnegative' AS rule,
      |         count(*) AS n_checked,
      |         CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      |  FROM customer
      |  UNION ALL
      |  SELECT 'events_value_le_100', count(*),
      |         CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM events
      |  UNION ALL
      |  SELECT 'orders_custkey_notnull', count(*),
      |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_orderkey_unique', count(*),
      |         count(*) - count(DISTINCT o_orderkey)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_custkey_fk',
      |         (SELECT count(*) FROM orders),
      |         count(*)
      |  FROM orders o
      |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |)
      |ORDER BY rule""".stripMargin

  /** `etl_pii_redact` — PII scrubbing before a corpus ships to training:
    * regex-redact identifier-like digit runs (>= 4 digits -> `<ID>`) and
    * email-shaped tokens (-> `<EMAIL>`), and report per-row match counts
    * so a pipeline can alert on unexpectedly PII-dense sources. Runs on
    * the customer table, whose names carry real digit-run identifiers;
    * the email pattern matches nothing on this synthetic data but the
    * count column keeps the regex itself under the cross-engine gate.
    *
    * Patterns stay inside the Java-regex ∩ RE2 common dialect (character
    * classes + bounded quantifiers, no backreferences or lookarounds) so
    * Spark's codegen'd regexp_replace and DuckDB's RE2 agree byte for
    * byte. Scale: a pure narrow map — no shuffle until the gate's ORDER
    * BY; at 100 TB this is the canonical embarrassingly-parallel scrub
    * pass, and the per-pattern match counts aggregate map-side.
    */
  def etlPiiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val idPat = "[0-9]{4,}"
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
    graft.queries.RefQueries.table(spark, sfDir, "customer")
      .select(
        col("c_custkey"),
        regexp_replace(regexp_replace(col("c_name"), emailPat, "<EMAIL>"),
          idPat, "<ID>").as("name_redacted"),
        size(expr(s"regexp_extract_all(c_name, '$idPat', 0)")).cast("long")
          .as("n_ids"),
        size(expr(s"regexp_extract_all(c_name, '$emailPat', 0)")).cast("long")
          .as("n_emails"))
      .orderBy("c_custkey")
  }

  val etlPiiRedactSql: String =
    """SELECT c_custkey,
      |       regexp_replace(
      |         regexp_replace(c_name, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
      |                        '<EMAIL>', 'g'),
      |         '[0-9]{4,}', '<ID>', 'g') AS name_redacted,
      |       CAST(len(regexp_extract_all(c_name, '[0-9]{4,}')) AS BIGINT) AS n_ids,
      |       CAST(len(regexp_extract_all(c_name,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_emails
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** `etl_incremental` — high-watermark incremental extract, the
    * standard nightly-load pattern: the already-loaded target's
    * MAX(load key) is the watermark; only source rows strictly past it
    * move. The "target" is simulated as orders up to a fixed cutoff
    * (1999-01-01) so the query is self-contained on testdata; the
    * watermark is still computed FROM that frame (an aggregate joined
    * via broadcast), never hard-coded, because that derivation is the
    * operator. Output rolls the incremental batch up per day —
    * day-level row counts and exact cents.
    *
    * Scale: the watermark is a 1-row aggregate broadcast into the scan
    * filter — with a date-partitioned source (Pipeline.run's layout)
    * the comparison prunes partitions instead of scanning history.
    * Nothing collects to the driver.
    */
  def etlIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val src = table(spark, sfDir, "orders")
    val target = src.where(col("o_orderdate") <= lit("1999-01-01").cast("timestamp"))
    val wm = target.agg(max(col("o_orderdate")).as("wm"))
    src.crossJoin(broadcast(wm))
      .where(col("o_orderdate") > col("wm"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("sum_cents"))
      .orderBy("day")
  }

  val etlIncrementalSql: String =
    """WITH wm AS MATERIALIZED (
      |  SELECT MAX(o_orderdate) AS wm FROM orders
      |  WHERE o_orderdate <= TIMESTAMP '1999-01-01'
      |)
      |SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_cents
      |FROM orders, wm
      |WHERE o_orderdate > wm.wm
      |GROUP BY 1 ORDER BY day""".stripMargin

  // ---- calendar dimension spine ---------------------------------------

  /** `etl_date_dim` — generated calendar dimension over the orders date
    * range: one row per day from min to max order date WHETHER OR NOT
    * any order exists (the left join preserves zero days — the rows a
    * groupBy silently drops and every time-series consumer needs),
    * with integer weekday, ISO month string, and the day's order
    * count/revenue. The spine generates from a `sequence` over the
    * epoch-day range — no calendar table shipped, no engine-local
    * date quirks (weekday = (epoch_day + 4) mod 7, the
    * analytics_seasonality doctrine).
    *
    * Scale: the spine is O(days) generated rows; facts pre-aggregate
    * per day before the join, so the spine join is day-cardinality.
    */
  def etlDateDim(spark: SparkSession, sfDir: String): DataFrame = {
    val od = expr(
      "CAST(unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000 AS BIGINT)")
    val orders = table(spark, sfDir, "orders")
      .select(od.as("day"),
        cents(col("o_totalprice")).as("cents"))
    val perDay = orders.groupBy("day")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents"))
    val range = orders.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = range
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    spine.join(perDay, Seq("day"), "left")
      .select(col("day"),
        expr("(day + 4) % 7").as("weekday"),
        date_format(expr("timestamp_millis(day * 86400000)"), "yyyy-MM")
          .as("month"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("sum_cents"), lit(0L)).as("sum_cents"))
      .orderBy("day")
  }

  val etlDateDimSql: String =
    """WITH o AS MATERIALIZED (
      |  SELECT epoch_ms(o_orderdate) // 86400000 AS day,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders
      |), per_day AS (
      |  SELECT day, COUNT(*) AS n_orders,
      |         CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM o GROUP BY day
      |), r AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM o),
      |spine AS (
      |  SELECT unnest(range(lo, hi + 1)) AS day FROM r
      |)
      |SELECT s.day, (s.day + 4) % 7 AS weekday,
      |       strftime(to_timestamp(s.day * 86400), '%Y-%m') AS month,
      |       COALESCE(p.n_orders, 0) AS n_orders,
      |       COALESCE(p.sum_cents, 0) AS sum_cents
      |FROM spine s LEFT JOIN per_day p ON p.day = s.day
      |ORDER BY s.day""".stripMargin

  // ---- incremental aggregate maintenance ------------------------------

  /** `etl_incremental_agg` — materialized-view delta maintenance: a
    * maintained per-returnflag revenue aggregate is updated by MERGING
    * the stored partial state with the new batch's partials — count,
    * cents-sum, min/max day — without touching prior history. The gate
    * IS the maintenance invariant: the merged state must equal a
    * from-scratch aggregate over the full table (the oracle computes
    * exactly that), which holds because every maintained measure is a
    * commutative monoid (sum/count/min/max). AVG is maintained as
    * sum÷count AT READ TIME — the classic rule that you never store an
    * average in incrementally-maintained state.
    *
    * Scale: the delta path aggregates ONLY the batch (one small
    * shuffle) and merges with O(groups) stored rows — at 100 TB this
    * is the difference between re-scanning history per refresh and
    * touching just the new partition.
    */
  def etlIncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def partials(df: DataFrame): DataFrame =
      df.select(col("l_returnflag").as("returnflag"),
          cents(col("l_extendedprice")).as("cents"),
          expr("CAST(unix_millis(CAST(l_shipdate AS TIMESTAMP)) DIV 86400000 AS BIGINT)")
            .as("day"))
        .groupBy("returnflag")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("day").as("min_day"), max("day").as("max_day"))
    val li = table(spark, sfDir, "lineitem")
    val stored = partials(li.where(col("l_orderkey") % 10 =!= 0))
    val delta = partials(li.where(col("l_orderkey") % 10 === 0))
    stored.unionByName(delta)
      .groupBy("returnflag")
      .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"),
        min("min_day").as("min_day"), max("max_day").as("max_day"))
      .withColumn("avg_cents", expr("sum_cents DIV n"))
      .orderBy("returnflag")
  }

  val etlIncrementalAggSql: String =
    """SELECT l_returnflag AS returnflag, COUNT(*) AS n,
      |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |            AS BIGINT) AS sum_cents,
      |       CAST(MIN(epoch_ms(l_shipdate) // 86400000) AS BIGINT) AS min_day,
      |       CAST(MAX(epoch_ms(l_shipdate) // 86400000) AS BIGINT) AS max_day,
      |       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |            // COUNT(*) AS BIGINT) AS avg_cents
      |FROM lineitem GROUP BY l_returnflag ORDER BY returnflag""".stripMargin

  /** `etl_pseudonymize` — deterministic tokenization of identifying
    * columns: each value maps to a stable surrogate derived from its
    * MD5 (salted), so equal values tokenize equally — joins,
    * group-bys and dedup still work on the pseudonymized data, unlike
    * the destructive regex scrub of etl_pii_redact. The consistency
    * proof is IN the output: n_rows vs n_distinct_tokens per original
    * cardinality survives tokenization (collision-free at these
    * sizes; at 100 TB you widen the token, not the algorithm).
    *
    * MD5 because it is the one keyed-lookup-free digest both engines
    * spell identically over UTF-8 strings; the salt models the
    * per-environment secret that makes the mapping non-invertible by
    * dictionary attack (a fixed literal here — the gate needs both
    * engines to agree on it).
    *
    * Scale: a narrow per-row map plus one distinct-count aggregate.
    */
  def etlPseudonymize(spark: SparkSession, sfDir: String): DataFrame = {
    val salt = "graft-demo-salt"
    val tok = graft.queries.RefQueries.table(spark, sfDir, "customer")
      .select(
        col("c_custkey"),
        concat(lit("cust_"),
          substring(md5(concat(lit(salt), col("c_name"))), 1, 12))
          .as("name_token"),
        concat(lit("k_"),
          substring(md5(concat(lit(salt), col("c_custkey").cast("string"))),
            1, 16)).as("key_token"),
        col("c_mktsegment"))
    tok.orderBy("c_custkey")
  }

  val etlPseudonymizeSql: String =
    """SELECT c_custkey,
      |       'cust_' || substr(md5('graft-demo-salt' || c_name), 1, 12)
      |         AS name_token,
      |       'k_' || substr(md5('graft-demo-salt' ||
      |                          CAST(c_custkey AS VARCHAR)), 1, 16)
      |         AS key_token,
      |       c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** `join_point_in_time` — the SCD2 LOOKUP: facts joined to the
    * dimension version that was CURRENT at fact time. Line items (ship
    * events) look up the customer's order-history version (etl_scd2's
    * real interval table) valid at ship date, then roll up shipping
    * activity per version — "what happened while each version was
    * live", the question every PIT join answers (feature stores,
    * as-was reporting, training-data leakage prevention). Ships before
    * a customer's first version have no valid version and drop — the
    * PIT contract.
    *
    * Scale: an equi-join on the dimension KEY with the interval
    * predicate evaluated inside the join — per-key version chains are
    * short (the SCD2 invariant), so the per-key probe is bounded; the
    * shape is the standard key-partitioned interval lookup, one
    * shuffle each side.
    */
  def joinPointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.RefQueries.table
    val changes = table(spark, sfDir, "orders")
      .select(col("o_custkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("eff_ms"),
        col("o_orderkey"), col("o_totalprice"))
    val hist = graft.ops.Scd2.buildHistory(changes,
      keys = Seq("o_custkey"), effectiveTime = "eff_ms", tieBreak = "o_orderkey")
      .select(col("o_custkey").as("ck"), col("o_orderkey").as("version_key"),
        col("valid_from"), col("valid_to"))
    val ships = table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"),
        unix_millis(col("l_shipdate").cast("timestamp")).as("ship_ms"))
      .join(table(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    ships
      .join(hist,
        col("o_custkey") === col("ck") &&
          col("ship_ms") >= col("valid_from") &&
          (col("valid_to").isNull || col("ship_ms") < col("valid_to")))
      .groupBy(col("ck").as("custkey"), col("version_key"))
      .agg(count(lit(1)).as("n_ship_events"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy("custkey", "version_key")
  }

  val joinPointInTimeSql: String =
    """WITH c AS (
      |  SELECT o_custkey, epoch_ms(o_orderdate) AS eff_ms, o_orderkey
      |  FROM orders
      |), hist AS (
      |  SELECT o_custkey AS ck, o_orderkey AS version_key,
      |         eff_ms AS valid_from,
      |         lead(eff_ms) OVER (PARTITION BY o_custkey
      |                            ORDER BY eff_ms, o_orderkey) AS valid_to
      |  FROM c
      |), ships AS (
      |  SELECT o.o_custkey, l.l_quantity, epoch_ms(l.l_shipdate) AS ship_ms
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |)
      |SELECT h.ck AS custkey, h.version_key,
      |       COUNT(*) AS n_ship_events,
      |       CAST(SUM(CAST(s.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM ships s
      |JOIN hist h ON h.ck = s.o_custkey
      |           AND s.ship_ms >= h.valid_from
      |           AND (h.valid_to IS NULL OR s.ship_ms < h.valid_to)
      |GROUP BY h.ck, h.version_key
      |ORDER BY custkey, version_key""".stripMargin

  /** `etl_cdc_apply` — change-data-capture compaction, latest-wins: a
    * change stream (insert/update/delete ops keyed by entity, ordered
    * by (ts, change id)) is applied onto the base snapshot and the
    * FINAL state per key reported — the merge every Delta/Hudi-style
    * ingest runs. The stream derives deterministically from orders
    * (op by orderkey mod 10: 0→D, 1-2→I, else U; value = order total
    * cents); only each key's LAST event matters, which is why the
    * whole apply is ONE argmax aggregate + one outer join, never an
    * ordered replay.
    *
    * Scale: per-key argmax via max(struct(ts, id, …)) is a partial+
    * final hash aggregate (map-side combined); the base join is a
    * key-partitioned full outer. This is the compaction shape that
    * processes a billion-row changelog in one shuffle.
    */
  def etlCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.RefQueries.table
    val base = table(spark, sfDir, "customer")
      .select(col("c_custkey").cast("long").as("k"),
        cents(col("c_acctbal")).as("base_bal_c"))
    val events = table(spark, sfDir, "orders")
      .select(col("o_custkey").cast("long").as("k"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ts"),
        col("o_orderkey").as("id"),
        when(col("o_orderkey") % 10 === 0, "D")
          .when(col("o_orderkey") % 10 <= 2, "I")
          .otherwise("U").as("op"),
        cents(col("o_totalprice")).as("v"))
    val last = events.groupBy("k")
      .agg(max(struct(col("ts"), col("id"), col("op"), col("v"))).as("m"))
      .select(col("k"), col("m.op").as("op"), col("m.v").as("v"))
    base.join(last, Seq("k"), "full_outer")
      .select(col("k").as("custkey"),
        when(col("op").isNull, "unchanged")
          .when(col("op") === "D", "deleted")
          .when(col("base_bal_c").isNull, "inserted")
          .otherwise("upserted").as("status"),
        when(col("op").isNull, col("base_bal_c"))
          .when(col("op") === "D", lit(null).cast("long"))
          .otherwise(col("v")).as("final_bal_c"))
      .orderBy("custkey")
  }

  val etlCdcApplySql: String =
    """WITH base AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS k,
      |         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS base_bal_c
      |  FROM customer
      |), ev AS (
      |  SELECT CAST(o_custkey AS BIGINT) AS k,
      |         epoch_ms(o_orderdate) AS ts, o_orderkey AS id,
      |         CASE WHEN o_orderkey % 10 = 0 THEN 'D'
      |              WHEN o_orderkey % 10 <= 2 THEN 'I'
      |              ELSE 'U' END AS op,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders
      |), last AS (
      |  SELECT k,
      |         (MAX(struct_pack(ts := ts, id := id, op := op, v := v))).op AS op,
      |         (MAX(struct_pack(ts := ts, id := id, op := op, v := v))).v AS v
      |  FROM ev GROUP BY k
      |)
      |SELECT COALESCE(b.k, l.k) AS custkey,
      |       CASE WHEN l.op IS NULL THEN 'unchanged'
      |            WHEN l.op = 'D' THEN 'deleted'
      |            WHEN b.base_bal_c IS NULL THEN 'inserted'
      |            ELSE 'upserted' END AS status,
      |       CASE WHEN l.op IS NULL THEN b.base_bal_c
      |            WHEN l.op = 'D' THEN NULL
      |            ELSE l.v END AS final_bal_c
      |FROM base b FULL OUTER JOIN last l ON l.k = b.k
      |ORDER BY custkey""".stripMargin

  /** `etl_quarantine` — rule-based row routing, the ROW-level sibling of
    * [[etlConstraints]] (which only counts): every order violating at
    * least one business rule is routed to a quarantine table carrying
    * the full list of fired rules (fixed rule order, comma-joined) so a
    * steward can triage by reason — the standard validate-and-divert
    * stage of an ingest pipeline. Rules are independent conditions, so
    * one row can (and here does) fire several.
    *
    * Scale: a narrow map (three codegen'd predicates + a concat) with a
    * pushed-down disjunction filter — no shuffle before the gate sort;
    * the clean/quarantine split at scale is one `.where` each over the
    * same cached scan.
    */
  def etlQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.RefQueries.table
    val r1 = col("o_totalprice") > 450000.0
    val r2 = col("o_orderpriority") === "1-URGENT" && col("o_totalprice") < 50000.0
    val r3 = col("o_orderstatus") === "P" && col("o_totalprice") > 400000.0
    table(spark, sfDir, "orders")
      .where(r1 || r2 || r3)
      .select(col("o_orderkey"),
        concat_ws(",",
          when(r1, "price_above_cap"),
          when(r2, "urgent_below_floor"),
          when(r3, "pending_high_value")).as("reasons"),
        (when(r1, 1L).otherwise(0L) + when(r2, 1L).otherwise(0L) +
          when(r3, 1L).otherwise(0L)).as("n_reasons"))
      .orderBy("o_orderkey")
  }

  val etlQuarantineSql: String =
    """SELECT o_orderkey,
      |       concat_ws(',',
      |         CASE WHEN o_totalprice > 450000.0 THEN 'price_above_cap' END,
      |         CASE WHEN o_orderpriority = '1-URGENT' AND o_totalprice < 50000.0
      |              THEN 'urgent_below_floor' END,
      |         CASE WHEN o_orderstatus = 'P' AND o_totalprice > 400000.0
      |              THEN 'pending_high_value' END) AS reasons,
      |       CAST((CASE WHEN o_totalprice > 450000.0 THEN 1 ELSE 0 END) +
      |            (CASE WHEN o_orderpriority = '1-URGENT' AND o_totalprice < 50000.0
      |                  THEN 1 ELSE 0 END) +
      |            (CASE WHEN o_orderstatus = 'P' AND o_totalprice > 400000.0
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_reasons
      |FROM orders
      |WHERE o_totalprice > 450000.0
      |   OR (o_orderpriority = '1-URGENT' AND o_totalprice < 50000.0)
      |   OR (o_orderstatus = 'P' AND o_totalprice > 400000.0)
      |ORDER BY o_orderkey""".stripMargin

  /** `etl_date_shift` — interval-preserving timestamp anonymization
    * (the standard de-identification transform for longitudinal data,
    * e.g. HIPAA-style event records): every user's events shift by one
    * CONSISTENT pseudo-random offset of 1–28 days, so absolute dates
    * are destroyed while every within-user interval — session gaps,
    * retention offsets, funnel latencies — survives exactly. The
    * offset derives from a Knuth multiplicative hash of the user id
    * (pure positive-integer arithmetic, no engine hash function to
    * align), completing the privacy family next to `etl_pii_redact`
    * (content), `etl_pseudonymize` (identity) and `etl_k_anonymity`
    * (aggregates).
    *
    * Scale: a narrow stateless map — the cheapest transform class;
    * nothing shuffles before the gate sort.
    */
  def etlDateShift(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").cast("long").as("orig_us"))
      .withColumn("shift_days",
        expr("(user_id * 2654435761L) % 2147483647L % 28L + 1L"))
      .withColumn("shifted_us",
        col("orig_us") + col("shift_days") * lit(86400000000L))
      .select("event_id", "user_id", "shift_days", "orig_us", "shifted_us")
      .orderBy("event_id")

  val etlDateShiftSql: String =
    """SELECT event_id, user_id,
      |       (user_id * 2654435761) % 2147483647 % 28 + 1 AS shift_days,
      |       epoch_us(ts) AS orig_us,
      |       epoch_us(ts) + ((user_id * 2654435761) % 2147483647 % 28 + 1)
      |         * 86400000000 AS shifted_us
      |FROM events
      |ORDER BY event_id""".stripMargin
}

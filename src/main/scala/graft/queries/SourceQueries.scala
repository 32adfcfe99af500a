package graft.queries

import graft.ops.ExactAgg.{cents, exactSum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-format source coverage: CSV and JSON-lines readers gated end to
  * end by ROUND-TRIP — parquet → write text format → read back with an
  * explicit schema → compare against the DuckDB view of the original
  * parquet. What this actually gates is reader fidelity: quoting,
  * header handling, and type parsing must reproduce the source rows
  * bit-for-bit or the hash compare fails.
  *
  * Scale notes: both readers are splittable scans (CSV line-splittable,
  * JSON-lines record-splittable) and both carry EXPLICIT schemas —
  * `inferSchema` costs a full extra pass and can mis-type columns at
  * 100 TB, so the engine treats schema-on-read as declared, never
  * sniffed. The temp round-trip directory stands in for any text-format
  * data-lake landing zone.
  */
object SourceQueries {
  import RefQueries.table

  // declared types mirror the parquet exactly (nationkey is INT32
  // there) so the round-tripped frame and the oracle's parquet view
  // land on identical dtypes
  private val SupplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  /** `source_csv_roundtrip` — supplier through the CSV writer+reader
    * (header on, default quoting; s_name carries commas-free generated
    * text but quoting is exercised regardless).
    */
  /** Per-process staging path + overwrite. Overwrite (not a fresh temp
    * dir per invocation) keeps repeated bench/verify runs from leaking
    * a full table copy each run until the disk fills; keying by process
    * id keeps two CONCURRENT processes (bench alongside verify,
    * parallel CI jobs) from racing overwrite-against-read on one shared
    * directory — pids are bounded, so the leak stays bounded too.
    */
  private[queries] def stagingDir(name: String): String = {
    val pid = ProcessHandle.current().pid()
    cleanupHook
    s"${System.getProperty("java.io.tmpdir")}/graft-roundtrip-$pid/$name"
  }

  /** Registered on first staging use: deletes THIS process's staging
    * root at JVM exit, so long-lived hosts don't accumulate one table
    * copy per distinct pid (pids recycle, but pid_max can be ~4M).
    * Kill -9 still leaks one dir; the pid-keyed name makes a stale
    * sweep trivial for an operator (`rm -rf graft-roundtrip-*`).
    */
  private lazy val cleanupHook: Unit = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft-roundtrip-${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }))
  }

  def sourceCsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir("csv")
    table(spark, sfDir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").option("header", "true").csv(dir)
    spark.read.schema(SupplierSchema).option("header", "true").csv(dir)
      .orderBy("s_suppkey")
  }

  val sourceCsvRoundtripSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** `source_fixed_width_roundtrip` — supplier through the fixed-width
    * writer+reader ([[graft.sources.FixedWidthSource]]): the
    * mainframe-layout landing format Spark has no built-in reader for.
    * Doubles are rendered via Spark's shortest-round-trip string cast,
    * so the read-back `cast(double)` reproduces the exact bits and the
    * hash gate holds; the writer raises on field overflow rather than
    * truncating into the next column.
    */
  def sourceFixedWidthRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.FixedWidthSource
    import graft.sources.FixedWidthSource.Field
    val dir = stagingDir("fixedwidth")
    val fields = Seq(
      Field("s_suppkey", 10, LongType, rightAlign = true),
      Field("s_name", 30, StringType),
      Field("s_nationkey", 5, IntegerType, rightAlign = true),
      Field("s_acctbal", 24, DoubleType, rightAlign = true))
    FixedWidthSource.write(
      table(spark, sfDir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      dir, fields)
    FixedWidthSource.read(spark, dir, fields).orderBy("s_suppkey")
  }

  val sourceFixedWidthRoundtripSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin

  /** `source_jsonl_roundtrip` — customer through JSON-lines, the other
    * ubiquitous landing format.
    */
  def sourceJsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir("jsonl")
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType)))
    table(spark, sfDir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .write.mode("overwrite").json(dir)
    spark.read.schema(schema).json(dir)
      .orderBy("c_custkey")
  }

  val sourceJsonlRoundtripSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** `source_orc_roundtrip` — the columnar alternative to parquet:
    * part through Spark's native ORC writer+reader. Unlike the text
    * formats, ORC carries its own schema and types, so what this gates
    * is lossless type round-tripping (int32 stays int32, doubles stay
    * bit-exact) plus reader correctness over ORC's RLE/dictionary
    * encodings. ORC scans split by stripe and push predicates/column
    * pruning exactly like parquet — the declared schema keeps the read
    * path schema-on-declare, consistent with the CSV/JSONL gates.
    */
  def sourceOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir("orc")
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType)))
    table(spark, sfDir, "part")
      .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
      .write.mode("overwrite").orc(dir)
    spark.read.schema(schema).orc(dir)
      .orderBy("p_partkey")
  }

  val sourceOrcRoundtripSql: String =
    """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
      |FROM part ORDER BY p_partkey""".stripMargin

  /** `source_avro_roundtrip` — the row-oriented lake format: orders
    * through [[graft.sources.AvroSource]]'s container-file writer and
    * reader (built on the core avro library — no spark-avro connector
    * on this classpath). What this gates is lossless typed round-
    * tripping through Avro's binary encoding plus the writer's
    * StructType→record-schema mapping (nullable = (null|T) union) and
    * the reader's file-parallel decode. Avro is the one mainstream
    * batch format the CSV/JSONL/ORC/parquet gates didn't cover — the
    * standard landing format for row-streamed ingest (Kafka dumps,
    * CDC feeds) that a 100 TB pipeline reads before columnarizing.
    */
  def sourceAvroRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir("avro")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderpriority", StringType)))
    graft.sources.AvroSource.write(
      table(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
      dir)
    graft.sources.AvroSource.read(spark, dir, schema)
      .orderBy("o_orderkey")
  }

  val sourceAvroRoundtripSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** `source_avro_embeddings` — the ARRAY leg of the Avro source: the
    * embeddings table (vec_id, list<float>, label) through the same
    * container-file writer/reader. The gate emits SCALARS derived from
    * the round-tripped vectors AFTER the read (dimension + the
    * 1e4-quantized element sum, the corpus's standard quantization),
    * so the hash compare proves every float32 survived the Avro binary
    * encoding bit-exactly — a wrong sign, swapped element, or
    * truncated array shifts qsum — while the oracle computes the same
    * scalars straight from the original parquet.
    */
  def sourceAvroEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir("avro-emb")
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    graft.sources.AvroSource.write(
      table(spark, sfDir, "embeddings").select("vec_id", "embedding", "label"),
      dir)
    graft.sources.AvroSource.read(spark, dir, schema)
      .select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        aggregate(
          transform(col("embedding"),
            x => round(x.cast("double") * 10000).cast("long")),
          lit(0L), (acc, x) => acc + x).as("qsum"),
        col("label"))
      .orderBy("vec_id")
  }

  val sourceAvroEmbeddingsSql: String =
    """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
      |       CAST(list_sum(list_transform(embedding,
      |              x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)))
      |            AS BIGINT) AS qsum,
      |       label
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** `source_csv_malformed` — the reader-ROBUSTNESS gate the clean
    * roundtrips don't cover: a CSV landing file with every 50th line
    * corrupted (wrong shape, unparseable key) read under PERMISSIVE
    * mode with `columnNameOfCorruptRecord` — bad lines flow through as
    * NULL-filled rows carrying their raw text in the corrupt column
    * instead of killing the job (FAILFAST) or vanishing silently
    * (DROPMALFORMED). The gate aggregates good/quarantined counts and
    * exact checksums of the GOOD rows; the oracle recomputes both from
    * the clean table and the injection rule — proving corruption cost
    * exactly the injected rows and nothing else. At 100 TB this is the
    * difference between a nightly load that survives one bad producer
    * and one that pages the on-call.
    */
  def sourceCsvMalformed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stagingDir("csv-bad")
    table(spark, sfDir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .as[(Long, String, Int, Double)]
      .map { case (k, n, nk, b) =>
        if (k % 50 == 0) s"corrupt#$k#row,with,wrong,shape"
        else s"$k,$n,$nk,$b"
      }
      .write.mode("overwrite").text(dir)
    val schema = StructType(SupplierSchema.fields :+
      StructField("_corrupt", StringType))
    val good = col("_corrupt").isNull
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(good, 1L).otherwise(0L)).as("n_good"),
        sum(when(good.unary_!, 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(good, cents(col("s_acctbal"))).otherwise(0L)).as("good_bal_c"),
        sum(when(good, col("s_suppkey")).otherwise(0L)).as("good_key_sum"))
  }

  val sourceCsvMalformedSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CASE WHEN s_suppkey % 50 <> 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_good,
      |       CAST(SUM(CASE WHEN s_suppkey % 50 = 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_quarantined,
      |       CAST(SUM(CASE WHEN s_suppkey % 50 <> 0
      |                     THEN CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100
      |                               AS BIGINT) ELSE 0 END)
      |            AS BIGINT) AS good_bal_c,
      |       CAST(SUM(CASE WHEN s_suppkey % 50 <> 0 THEN s_suppkey
      |                     ELSE 0 END) AS BIGINT) AS good_key_sum
      |FROM supplier""".stripMargin

  /** `source_xml_roundtrip` — customer through Spark 4's BUILT-IN XML
    * data source (the spark-xml connector was folded into core in
    * Spark 4): write with rootTag/rowTag, read back with an explicit
    * schema and the same rowTag. What this gates beyond the other
    * text formats is XML's escaping surface — `& < >` in string
    * columns must entity-encode on write and decode on read — plus
    * typed element parsing (long/int/double from element text).
    *
    * Scale notes: multiLine XML parses record-at-a-time per file, so
    * parallelism comes from FILE COUNT, not byte splits — the write
    * side's partitioning (here: Spark's default parquet-scan tasking)
    * is what sizes the read-side tasks on a 100 TB lake. Schema is
    * declared, never inferred (inference is an extra full pass, same
    * doctrine as CSV/JSONL).
    */
  def sourceXmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir("xml")
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    table(spark, sfDir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").format("xml")
      .option("rootTag", "customers").option("rowTag", "customer")
      .save(dir)
    spark.read.schema(schema)
      .option("rowTag", "customer")
      .format("xml").load(dir)
      .orderBy("c_custkey")
  }

  val sourceXmlRoundtripSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** `source_merge_schema` — schema evolution on read: two parquet
    * batches written with DIFFERENT column sets (an early ingest with
    * (key, name), a later one with (key, size, retailprice)), read back
    * in one scan with `mergeSchema` — the union schema, absent columns
    * NULL. This is the data-lake evolution contract: old files stay
    * readable after the schema grows, no rewrite. The merged read is
    * still a plain splittable parquet scan; schema merging is a
    * footer-only planning cost (and on a 100 TB lake you'd pin the
    * merged schema in a catalog rather than re-derive it per query —
    * the explicit-schema principle the CSV/JSON readers follow).
    */
  def sourceMergeSchema(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir("merge")
    val part = table(spark, sfDir, "part")
    part.select(col("p_partkey"), col("p_name"))
      .withColumn("source_batch", lit(1L))
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    part.select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .withColumn("source_batch", lit(2L))
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/batch=1", s"$dir/batch=2")
      .select("p_partkey", "source_batch", "p_name", "p_size", "p_retailprice")
      .orderBy("p_partkey", "source_batch")
  }

  /** `source_partition_pruning` — Hive-layout partitioned write + pruned
    * read: events written `partitionBy(event_date)`, read back with a
    * single-day predicate that must resolve as a PARTITION filter
    * (directory-level skip, zero data read outside the day — the
    * mechanism that turns a 100 TB scan into a 3 TB one; plan-asserted
    * in ScaleToolkitSpec, value-gated here). The date derives from the
    * nano-long event time by integer day arithmetic; the gated output
    * aggregates the surviving day per event type.
    */
  def sourcePartitionPruning(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stagingDir("partitioned")
    val usPerDay = 86400000000L
    table(spark, sfDir, "events")
      .withColumn("day", expr(s"(ts div 1000) div $usPerDay").cast("long"))
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    // pick a mid-range day so every sf has it: the corpus starts
    // 2024-01-01 (day 19723) and spans ~a month at every sf
    spark.read.parquet(dir)
      .where(col("day") === 19725L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  val sourcePartitionPruningSql: String =
    """SELECT event_type, COUNT(*) AS n_events
      |FROM events
      |WHERE epoch_us(ts) // 86400000000 = 19725
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Bucketed-table co-located join, end to end: write orders and
    * lineitem as catalog tables bucketed on their join keys (equal
    * bucket counts), then join WITHOUT a shuffle on either side and
    * roll revenue up per order priority. The value hash gates layout
    * fidelity (bucketed write → catalog read → join must reproduce the
    * plain join's rows exactly); BucketedTablesSpec separately pins the
    * zero-Exchange plan property the layout exists to buy.
    */
  def sourceBucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.BucketedTables.writeBucketed(
      table(spark, sfDir, "orders").select("o_orderkey", "o_orderpriority"),
      "graft_bkt_orders", "o_orderkey", buckets = 8, source = Some(sfDir))
    graft.sources.BucketedTables.writeBucketed(
      table(spark, sfDir, "lineitem").select("l_orderkey", "l_extendedprice"),
      "graft_bkt_lineitem", "l_orderkey", buckets = 8, source = Some(sfDir))
    graft.sources.BucketedTables.cobucketedJoin(spark,
        "graft_bkt_orders", "graft_bkt_lineitem", "o_orderkey", "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(
        exactSum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  val sourceBucketedJoinSql: String =
    """SELECT o_orderpriority,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_items
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Bucketed layout, STEADY STATE: the read-only sibling of
    * [[sourceBucketedJoin]]. That gate deliberately re-pays the layout
    * write per run (layout-write fidelity IS its subject); this one
    * materializes the co-bucketed pair only when absent or built from a
    * different sfDir ([[graft.sources.BucketedTables.ensureBucketed]])
    * and then runs purely over the catalog tables — so the bench tracks
    * the amortized plan the layout exists to buy, per round. The plan
    * exercises BOTH exchange-free shapes the layout provides: the
    * sort-merge join with zero Exchange on either side, AND the
    * groupBy on the bucket key (HashPartitioning(o_orderkey, 8) from
    * the scan satisfies the aggregate's clustering requirement — the
    * appended o_orderpriority key costs nothing, grouping on a superset
    * of the partitioning keys stays co-located). BucketedTablesSpec
    * asserts the aggregate's executed plan holds no Exchange; the only
    * shuffle in the gated query is the output ORDER BY, which is gate
    * contract, not plan.
    */
  def sourceBucketedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    graft.sources.BucketedTables.ensureBucketed(spark,
      "graft_bkt_orders", "o_orderkey", buckets = 8, source = sfDir,
      columns = Seq("o_orderkey", "o_orderpriority"))(
      table(spark, sfDir, "orders").select("o_orderkey", "o_orderpriority"))
    graft.sources.BucketedTables.ensureBucketed(spark,
      "graft_bkt_lineitem", "l_orderkey", buckets = 8, source = sfDir,
      columns = Seq("l_orderkey", "l_extendedprice"))(
      table(spark, sfDir, "lineitem").select("l_orderkey", "l_extendedprice"))
    sourceBucketedAggPlan(spark).orderBy("o_orderkey")
  }

  /** The read-only aggregate over the pre-built pair, WITHOUT the gate
    * sort — the plan BucketedTablesSpec pins exchange-free.
    */
  private[graft] def sourceBucketedAggPlan(spark: SparkSession): DataFrame =
    graft.sources.BucketedTables.cobucketedJoin(spark,
        "graft_bkt_orders", "graft_bkt_lineitem", "o_orderkey", "l_orderkey")
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        exactSum(col("l_extendedprice")).as("revenue"))

  val sourceBucketedAggSql: String =
    """SELECT o_orderkey, o_orderpriority, COUNT(*) AS n_items,
      |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey, o_orderpriority
      |ORDER BY o_orderkey""".stripMargin

  val sourceMergeSchemaSql: String =
    """SELECT p_partkey, CAST(1 AS BIGINT) AS source_batch, p_name,
      |       CAST(NULL AS INTEGER) AS p_size, CAST(NULL AS DOUBLE) AS p_retailprice
      |FROM part
      |UNION ALL
      |SELECT p_partkey, CAST(2 AS BIGINT), CAST(NULL AS VARCHAR),
      |       p_size, p_retailprice
      |FROM part
      |ORDER BY p_partkey, source_batch""".stripMargin
}

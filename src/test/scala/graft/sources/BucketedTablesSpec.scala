package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.RefQueries

/** Bucketed-table layout pins.
  *
  * 1. The whole point of the layout: a join of two tables bucketed on
  *    their join keys with equal bucket counts runs with ZERO Exchange
  *    in the executed plan — the write paid the shuffle once.
  * 2. Layout is never a semantic change: the co-bucketed join's rows
  *    equal the plain parquet join's rows exactly.
  * 3. Mismatched bucket counts lose the property (the guard a caller
  *    needs to understand when choosing the layout constant): Spark
  *    re-shuffles at least one side.
  */
class BucketedTablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writePair(buckets: Int, rightBuckets: Int = -1): Unit = {
    BucketedTables.writeBucketed(
      RefQueries.table(spark, TestSpark.Sf0001, "orders")
        .select("o_orderkey", "o_orderpriority"),
      "bkt_spec_orders", "o_orderkey", buckets)
    BucketedTables.writeBucketed(
      RefQueries.table(spark, TestSpark.Sf0001, "lineitem")
        .select("l_orderkey", "l_extendedprice"),
      "bkt_spec_lineitem", "l_orderkey",
      if (rightBuckets > 0) rightBuckets else buckets)
  }

  test("co-bucketed join executes with zero Exchange") {
    writePair(buckets = 4)
    val joined = BucketedTables.cobucketedJoin(spark,
      "bkt_spec_orders", "bkt_spec_lineitem", "o_orderkey", "l_orderkey")
    joined.collect() // AQE finalizes the plan on execution
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("Exchange"),
      "co-bucketed equal-count join must not shuffle either side:\n" +
        plan.take(2000))
  }

  test("bucketed layout is not a semantic change") {
    writePair(buckets = 4)
    val got = BucketedTables.cobucketedJoin(spark,
        "bkt_spec_orders", "bkt_spec_lineitem", "o_orderkey", "l_orderkey")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
      .collect()
    val want = RefQueries.table(spark, TestSpark.Sf0001, "orders")
      .join(RefQueries.table(spark, TestSpark.Sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
      .collect()
    assert(got.sameElements(want))
  }

  private def seedOrphan(name: String): org.apache.hadoop.fs.Path = {
    // a realistic orphan: the files a prior JVM's managed parquet write
    // leaves behind (part files + _SUCCESS), with the catalog entry gone
    import org.apache.hadoop.fs.Path
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new Path(wh, name)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    fs.create(new Path(loc, "part-00000-dead_00000.c000.snappy.parquet"))
      .close()
    fs.create(new Path(loc, "_SUCCESS")).close()
    loc
  }

  test("writeBucketed recovers an orphaned warehouse location") {
    // a managed table's directory can outlive its catalog entry (prior
    // JVM's leavings): saveAsTable refuses to adopt it, so writeBucketed
    // clears the unclaimed location first — pin the recovery
    seedOrphan("bkt_spec_orphan")
    assert(!spark.catalog.tableExists("bkt_spec_orphan"))
    BucketedTables.writeBucketed(
      RefQueries.table(spark, TestSpark.Sf0001, "region")
        .select("r_regionkey", "r_name"),
      "bkt_spec_orphan", "r_regionkey", buckets = 2)
    assert(spark.table("bkt_spec_orphan").count() > 0)
  }

  test("orphan recovery refuses a directory it cannot prove it owns") {
    // the unclaimed location holds a file no managed parquet write ever
    // produces (someone else's data at our default path): deleting it
    // would destroy data the library cannot prove is ours — refuse loud
    import org.apache.hadoop.fs.Path
    val loc = seedOrphan("bkt_spec_foreign")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(loc, "somebody_elses_data.csv")).close()
    val e = intercept[IllegalStateException] {
      BucketedTables.writeBucketed(
        RefQueries.table(spark, TestSpark.Sf0001, "region")
          .select("r_regionkey", "r_name"),
        "bkt_spec_foreign", "r_regionkey", buckets = 2)
    }
    assert(e.getMessage.contains("somebody_elses_data.csv"))
    assert(fs.exists(new Path(loc, "somebody_elses_data.csv")),
      "the foreign file must survive the refusal")
    fs.delete(loc, true) // clean up for re-runs
  }

  test("a database-qualified name resolves to the database's location") {
    // the orphan path comes from the session catalog (defaultTablePath),
    // not string-building against the warehouse root — a db.table name
    // must recover ITS location, under the database directory
    spark.sql("CREATE DATABASE IF NOT EXISTS bktspecdb")
    import org.apache.hadoop.fs.Path
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new Path(new Path(wh, "bktspecdb.db"), "bkt_spec_q")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    fs.create(new Path(loc, "part-00000-dead.c000.snappy.parquet")).close()
    fs.create(new Path(loc, "_SUCCESS")).close()
    assert(!spark.catalog.tableExists("bktspecdb.bkt_spec_q"))
    BucketedTables.writeBucketed(
      RefQueries.table(spark, TestSpark.Sf0001, "region")
        .select("r_regionkey", "r_name"),
      "bktspecdb.bkt_spec_q", "r_regionkey", buckets = 2)
    assert(spark.table("bktspecdb.bkt_spec_q").count() > 0)
    spark.sql("DROP TABLE bktspecdb.bkt_spec_q")
    spark.sql("DROP DATABASE bktspecdb")
  }

  test("ensureBucketed reuses a fresh layout and rebuilds a stale one") {
    val dim = RefQueries.table(spark, TestSpark.Sf0001, "region")
      .select("r_regionkey", "r_name")
    assert(BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
      "r_regionkey", buckets = 2, source = "src-A")(dim),
      "first ensure must write")
    // same source: reuse — the by-name build must never be constructed
    assert(!BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
      "r_regionkey", buckets = 2, source = "src-A")(
      sys.error("build constructed on a fresh layout")))
    // different source: the stamp is stale — rebuild
    assert(BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
      "r_regionkey", buckets = 2, source = "src-B")(dim),
      "a stale source stamp must trigger a rebuild")
    // same source, different layout SHAPE: stale too (r16 review
    // finding — a layout built by older code from the same source must
    // not be silently reused with the wrong bucket count or key)
    assert(BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
      "r_regionkey", buckets = 4, source = "src-B")(dim),
      "a changed bucket count must trigger a rebuild")
    assert(BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
      "r_name", buckets = 4, source = "src-B")(dim),
      "a changed bucket key must trigger a rebuild")
    assert(!BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
      "r_name", buckets = 4, source = "src-B")(
      sys.error("build constructed on a fresh layout")),
      "unchanged source+shape must reuse again")
    // column drift (r17 advice): same key/buckets/source but a
    // DIFFERENT projected column set — caught exactly when the caller
    // states its expectation, reused (documented) when it doesn't
    assert(BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
      "r_name", buckets = 4, source = "src-B",
      columns = Seq("r_name", "r_comment"))(
      dim.withColumnRenamed("r_regionkey", "r_comment")
        .select("r_name", "r_comment")),
      "a stated column list that differs from the stamp must rebuild")
    assert(!BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
      "r_name", buckets = 4, source = "src-B",
      columns = Seq("r_name", "r_comment"))(
      sys.error("build constructed on a fresh layout")),
      "a stated column list matching the stamp must reuse")
    assert(!BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
      "r_name", buckets = 4, source = "src-B")(
      sys.error("build constructed on a fresh layout")),
      "the no-columns form still reuses on key+buckets alone " +
        "(documented limitation)")
    // a stated list the BUILD can never satisfy must fail loudly ONCE,
    // not silently re-pay the layout write on every call (r17 review)
    val ex = intercept[IllegalArgumentException] {
      BucketedTables.ensureBucketed(spark, "bkt_spec_ensure",
        "r_name", buckets = 4, source = "src-C",
        columns = Seq("r_comment", "r_name"))( // reordered vs build
        dim.withColumnRenamed("r_regionkey", "r_comment")
          .select("r_name", "r_comment"))
    }
    assert(ex.getMessage.contains("silently rebuild"))
  }

  test("read-only bucketed agg: zero Exchange through join AND groupBy") {
    // the steady-state plan source_bucketed_agg gates: both tables
    // pre-built, then join + aggregate on the bucket key with no
    // shuffle anywhere — the scan's HashPartitioning(o_orderkey, 8)
    // satisfies the join's distribution AND the aggregate's clustering
    // (grouping on a superset of the partitioning keys is co-located)
    BucketedTables.ensureBucketed(spark, "graft_bkt_orders",
      "o_orderkey", buckets = 8, source = TestSpark.Sf0001)(
      RefQueries.table(spark, TestSpark.Sf0001, "orders")
        .select("o_orderkey", "o_orderpriority"))
    BucketedTables.ensureBucketed(spark, "graft_bkt_lineitem",
      "l_orderkey", buckets = 8, source = TestSpark.Sf0001)(
      RefQueries.table(spark, TestSpark.Sf0001, "lineitem")
        .select("l_orderkey", "l_extendedprice"))
    val agg = graft.queries.SourceQueries.sourceBucketedAggPlan(spark)
    agg.collect() // AQE finalizes the plan on execution
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("Exchange"),
      "pre-built layout must satisfy join AND aggregate without a " +
        "shuffle:\n" + plan.take(2000))
    // and the layout is never a semantic change
    val want = RefQueries.table(spark, TestSpark.Sf0001, "orders")
      .join(RefQueries.table(spark, TestSpark.Sf0001, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        graft.ops.ExactAgg.exactSum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderkey").collect()
    assert(agg.orderBy("o_orderkey").collect().sameElements(want))
  }

  test("mismatched bucket counts re-shuffle (the layout-constant guard)") {
    writePair(buckets = 4, rightBuckets = 3)
    val joined = BucketedTables.cobucketedJoin(spark,
      "bkt_spec_orders", "bkt_spec_lineitem", "o_orderkey", "l_orderkey")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"),
      "a 4-vs-3 bucket join cannot be exchange-free:\n" + plan.take(2000))
  }
}

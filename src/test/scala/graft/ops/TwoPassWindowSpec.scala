package graft.ops

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[TwoPassWindow]] row-for-row against the single-partition
  * `Window.orderBy(...)` spellings it replaces (r21): the two-pass
  * construction must be VALUE-IDENTICAL — the whole point is changing
  * the execution shape (range partitions + offsets instead of one
  * task) without changing one bit of any query result.
  */
class TwoPassWindowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 997 rows with duplicate v values (strict order via k), plus
    * negatives.
    */
  private def frame(): DataFrame =
    spark.range(0, 997).select(
      col("id").as("k"),
      ((col("id") * 7919) % 101 - 50).as("v"),
      ((col("id") * 31) % 13).as("w"))

  private def sorted(df: DataFrame, cols: String*): Array[String] =
    df.orderBy(cols.map(col): _*).collect().map(_.toString)

  /** Runs `body` with AQE partition coalescing off, so a small frame
    * keeps several range partitions (8 here) and cross-partition
    * offsets are actually exercised. The helpers freeze the row→pid
    * binding when they are called, so the call goes inside `body`.
    */
  private def uncoalesced[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("withRowNumber equals the global row_number window") {
    uncoalesced {
      val df = frame()
      val expected = df.withColumn("rn",
        row_number().over(Window.orderBy(col("v"), col("k"))).cast("long"))
      val (got, n) =
        TwoPassWindow.withRowNumberAndTotal(df, Seq(col("v"), col("k")), "rn")
      assert(sorted(got, "k").sameElements(sorted(expected, "k")))
      assert(n == 997)
    }
  }

  test("withNtile equals the global ntile window, k over and under n") {
    uncoalesced {
      val df = frame()
      for (k <- Seq(5, 10, 1000, 997, 1)) {
        val expected = df.withColumn("t",
          ntile(k).over(Window.orderBy(col("v").desc, col("k"))).cast("long"))
        val got = TwoPassWindow.withNtile(df, k, Seq(col("v").desc, col("k")), "t")
        assert(sorted(got, "k").sameElements(sorted(expected, "k")), s"k=$k")
      }
    }
  }

  test("withRunningSums equals the inclusive running-sum window, " +
      "two values at once") {
    uncoalesced {
      val df = frame()
      val w = Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df
        .withColumn("cv", sum(col("v")).over(w))
        .withColumn("cw", sum(col("w")).over(w))
      val got = TwoPassWindow.withRunningSums(df, Seq(col("k")),
        Seq(col("v") -> "cv", col("w") -> "cw"))
      assert(sorted(got, "k").sameElements(sorted(expected, "k")))
    }
  }

  test("withRunningMaxExclusive equals the exclusive running-max window " +
      "(global first row NULL)") {
    uncoalesced {
      val df = frame()
      val w = Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val expected = df.withColumn("m", max(col("v")).over(w))
      val got = TwoPassWindow.withRunningMaxExclusive(
        df, Seq(col("k")), col("v"), "m")
      assert(sorted(got, "k").sameElements(sorted(expected, "k")))
      assert(got.where(col("m").isNull).count() == 1) // exactly the first row
    }
  }

  test("withGroupedRunningSumAndTotal equals the group-partitioned " +
      "running-sum + total windows, including a NULL group") {
    uncoalesced {
      val df = frame().withColumn("g",
        when(col("k") % 11 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("g"), col("k") % 3)))
      val w = Window.partitionBy("g").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("g")
      val expected = df
        .withColumn("cv", sum(col("v")).over(w))
        .withColumn("tv", sum(col("v")).over(wt))
      val got = TwoPassWindow.withGroupedRunningSumAndTotal(
        df, Seq("g"), Seq(col("k")), col("v"), "cv", "tv")
      // fixed column order — the helper appends cum/total in a different
      // position than withColumn does
      val cols = Seq("k", "v", "w", "g", "cv", "tv").map(col)
      assert(sorted(got.select(cols: _*), "k")
        .sameElements(sorted(expected.select(cols: _*), "k")))
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange SinglePartition"), plan)
    }
  }

  test("withRunningSums carries the cross-partition offset over " +
      "all-NULL prefixes and stays NULL before the first value") {
    uncoalesced {
      // leading rows NULL (global cum must be NULL there), then values,
      // then a long NULL tail spanning whole range partitions (global
      // cum must CARRY the earlier sum, not revert to NULL)
      val df = spark.range(0, 997).select(col("id").as("k"),
        when(col("id") < 5 || col("id") > 300, lit(null).cast("long"))
          .otherwise(col("id")).as("v"))
      val w = Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df.withColumn("c", sum(col("v")).over(w))
      val got = TwoPassWindow.withRunningSums(df, Seq(col("k")),
        Seq(col("v") -> "c"))
      assert(sorted(got, "k").sameElements(sorted(expected, "k")))
    }
  }

  test("withGroupedRunningSumAndTotal carries NULL values like the " +
      "group-partitioned window (all-NULL first and later partitions)") {
    // per group: a NULL head filling the group's first range
    // partition, values, then a NULL tail that fills whole later
    // partitions (their cum must CARRY the earlier sum, not turn NULL)
    uncoalesced {
      val df = spark.range(0, 997).select(col("id").as("k"),
        (col("id") / 500).cast("long").as("g"),
        when(col("id") % 500 < 150 || col("id") % 500 > 350,
          lit(null).cast("long")).otherwise(col("id")).as("v"))
      val w = Window.partitionBy("g").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df
        .withColumn("c", sum(col("v")).over(w))
        .withColumn("t", sum(col("v")).over(Window.partitionBy("g")))
      val got = TwoPassWindow.withGroupedRunningSumAndTotal(
        df, Seq("g"), Seq(col("k")), col("v"), "c", "t")
      val cols = Seq("k", "g", "v", "c", "t").map(col)
      assert(sorted(got.select(cols: _*), "k")
        .sameElements(sorted(expected.select(cols: _*), "k")))
    }
  }

  test("olap_percentile keeps a NULL l_returnflag group, as the " +
      "built-in percentile groupBy does") {
    val li = frame().select(
      when(col("k") % 5 === 0, lit(null).cast("string"))
        .when(col("k") % 5 < 3, lit("A")).otherwise(lit("N"))
        .as("l_returnflag"),
      (col("v") % 17).cast("double").as("l_quantity"),
      (col("w") * 1.5).cast("double").as("l_extendedprice"))
    val expected = li.groupBy("l_returnflag").agg(
      percentile(col("l_quantity"), lit(0.5)).as("p50_qty"),
      percentile(col("l_quantity"), lit(0.9)).as("p90_qty"),
      percentile(col("l_extendedprice"), lit(0.5)).as("p50_price"))
      .orderBy("l_returnflag").collect()
    val got = graft.queries.OlapQueries.percentilesByReturnFlag(li).collect()
    assert(expected.exists(_.isNullAt(0)))
    assert(got.map(_.toString).sameElements(expected.map(_.toString)),
      s"${got.mkString(",")} vs ${expected.mkString(",")}")
  }

  test("exactQuantilesCont is bit-identical to the built-in percentile " +
      "(ties, odd/even group sizes, singleton group)") {
    // group sizes 1, 10, 997 with heavy ties — exercises n=1 (pos 0),
    // even/odd interpolation, and equal-neighbor shortcuts
    val df = frame().withColumn("g",
        when(col("k") === 0, lit("s"))
          .when(col("k") < 11, lit("ten")).otherwise(lit("big")))
      .withColumn("x", (col("v") % 7).cast("double"))
    val expected = df.groupBy("g").agg(
      percentile(col("x"), lit(0.5)).as("p50"),
      percentile(col("x"), lit(0.9)).as("p90"),
      percentile(col("x"), lit(0.25)).as("p25"))
    val got = graft.queries.OlapQueries.exactQuantilesCont(
      df.select(col("g"), col("x")), "g", "x",
      Seq(0.5 -> "p50", 0.9 -> "p90", 0.25 -> "p25"))
    val e = expected.orderBy("g").collect()
    val o = got.orderBy("g").collect()
    assert(e.length == o.length)
    for ((er, or) <- e.zip(o); i <- 1 to 3)
      assert(java.lang.Double.doubleToLongBits(er.getDouble(i)) ==
        java.lang.Double.doubleToLongBits(or.getDouble(i)),
        s"group ${er.getString(0)} col $i: ${er.getDouble(i)} vs " +
          s"${or.getDouble(i)}")
  }

  test("empty and single-row frames survive every helper") {
    for (n <- Seq(0, 1)) {
      val df = spark.range(0, n).select(col("id").as("k"), col("id").as("v"))
      assert(TwoPassWindow.withRowNumberAndTotal(df, Seq(col("k")), "rn")
        ._1.count() == n)
      assert(TwoPassWindow.withNtile(df, 5, Seq(col("k")), "t")
        .count() == n)
      assert(TwoPassWindow.withRunningSums(df, Seq(col("k")),
        Seq(col("v") -> "c")).count() == n)
      assert(TwoPassWindow.withRunningMaxExclusive(df, Seq(col("k")),
        col("v"), "m").count() == n)
    }
  }

  test("no helper plan contains a single-partition window") {
    val df = frame()
    val plans = Seq(
      TwoPassWindow.withRowNumberAndTotal(df, Seq(col("v"), col("k")), "rn")._1,
      TwoPassWindow.withNtile(df, 5, Seq(col("v"), col("k")), "t"),
      TwoPassWindow.withRunningSums(df, Seq(col("k")), Seq(col("v") -> "c")),
      TwoPassWindow.withRunningMaxExclusive(df, Seq(col("k")), col("v"), "m"),
      TwoPassWindow.withGroupedRunningSumAndTotal(
        df.withColumn("g", col("k") % 3), Seq("g"), Seq(col("k")),
        col("v"), "c", "t")
    ).map(d => d.queryExecution.executedPlan.toString)
    for (p <- plans) assert(!p.contains("Exchange SinglePartition"), p)
  }
}

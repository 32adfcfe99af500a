package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.ops.ExactAgg
import graft.queries.RefQueries

/** Round-12 parity fast-path pins.
  *
  * 1. ExactAgg's quotient/remainder cents sum must be BIT-identical to
  *    the decimal-buffer spelling the DuckDB twins use, at every
  *    magnitude.
  * 2. q5's pre-join range sort must reproduce, row for row, the order
  *    an explicit post-join ORDER BY produces — the property that makes
  *    the written files a total ORDER BY for the oracle. This is the
  *    guard against any plan change (e.g. losing the broadcast hint to
  *    a sort-merge join) that would silently re-sort the probe side.
  */
class ParityFastPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf001

  // the decimal-buffer reference: SUM over DECIMAL(18,2) (Spark widens
  // the buffer to DECIMAL(28,2)) cast once to double, and its ÷count
  private def decSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)
  private def decAvg(c: Column): Column = decSum(c) / count(c)

  test("exactSum / exactAvg == decimal-buffer sums on lineitem groups bit for bit") {
    val li = RefQueries.table(spark, sf, "lineitem")
    val r = li.groupBy("l_returnflag")
      .agg(
        decSum(col("l_extendedprice")).as("s_dec"),
        ExactAgg.exactSum(col("l_extendedprice")).as("s_cents"),
        decAvg(col("l_quantity")).as("a_dec"),
        ExactAgg.exactAvg(col("l_quantity")).as("a_cents"))
      .collect()
    assert(r.nonEmpty)
    for (row <- r) {
      assert(java.lang.Double.doubleToLongBits(row.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(2)),
        s"sum mismatch on ${row.getString(0)}")
      assert(java.lang.Double.doubleToLongBits(row.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(4)),
        s"avg mismatch on ${row.getString(0)}")
    }
  }

  test("exactSum / exactAvg == decimal buffer at every signed magnitude past 2^53") {
    import spark.implicits._
    // property sweep: random magnitudes spanning cents totals from a
    // few dollars up to ~1e15 cents (200 × ~0.5e11 dollars)
    val rnd = new scala.util.Random(13)
    for (scalePow <- Seq(2, 6, 9, 11)) {
      val base = math.pow(10.0, scalePow.toDouble)
      val vals = (1 to 200).map(_ => rnd.nextDouble() * base)
      val df = vals.toDF("v")
      val row = df.agg(
        decSum(col("v")).as("dec"),
        ExactAgg.exactSum(col("v")).as("cents")).collect().head
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(1)),
        s"drift at 1e$scalePow: ${row.getDouble(0)} vs ${row.getDouble(1)}")
    }
    // signed values through 1e15-dollar rows: the quotient/remainder
    // split has no 2^53 ceiling
    for (scalePow <- Seq(2, 6, 11, 13, 15)) {
      val base = math.pow(10.0, scalePow.toDouble)
      val vals = (1 to 200).map(i =>
        (if (i % 3 == 0) -1 else 1) * rnd.nextDouble() * base)
      val df = vals.toDF("v")
      val row = df.agg(
        decSum(col("v")).as("dec"),
        ExactAgg.exactSum(col("v")).as("wide"),
        decAvg(col("v")).as("adec"),
        ExactAgg.exactAvg(col("v")).as("awide")).collect().head
      assert(java.lang.Double.doubleToLongBits(row.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(1)),
        s"wide sum drift at 1e$scalePow: ${row.getDouble(0)} vs ${row.getDouble(1)}")
      assert(java.lang.Double.doubleToLongBits(row.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(row.getDouble(3)),
        s"wide avg drift at 1e$scalePow")
    }
    // the whale group: 3 × $4e13 = 1.2e16 cents > 2^53 ≈ 9.0e15 (each
    // row is fine — the GROUP total is past double's exact-integer
    // range), and both spellings stay exact there
    val whale = Seq(4.0e13, 4.0e13, 4.0e13).toDF("v")
    val wideWhale = whale.agg(
      decSum(col("v")).as("dec"),
      ExactAgg.exactSum(col("v")).as("wide")).collect().head
    assert(java.lang.Double.doubleToLongBits(wideWhale.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(wideWhale.getDouble(1)),
      "exactSum must stay exact past 2^53")
    assert(wideWhale.getDouble(1) == 1.2e14,
      s"exactSum must stay exact: ${wideWhale.getDouble(1)}")
  }

  test("q5 pre-join range sort == explicit post-join ORDER BY, row for row") {
    val got = RefQueries.q5Join(spark, sf).collect()
    val li = RefQueries.table(spark, sf, "lineitem")
    val p = RefQueries.table(spark, sf, "part")
    val want = li.join(broadcast(p), li("l_partkey") === p("p_partkey"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("p_name"), col("p_brand"), col("l_quantity"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .collect()
    assert(got.length == want.length)
    assert(got.sameElements(want))
  }

  test("q5 plan still broadcasts the dim (order preservation precondition)") {
    val plan = RefQueries.q5Join(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }
}

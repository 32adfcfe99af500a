package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** The determinism-rule money aggregates, in ONE place: summing doubles
  * directly is order-dependent (floating-point addition is not
  * associative, and shuffle order varies run to run), so a gated sum
  * rounds each value once to cents and adds integers — identical on any
  * partitioning, any engine. Every query family and the streaming layer
  * spell money through [[cents]], [[exactSum]] and [[exactAvg]]; no
  * other code restates the rounding.
  */
object ExactAgg {

  /** The one cents rounding: a DECIMAL(18,2) cast (half-up, as the
    * DuckDB twins' `CAST(x AS DECIMAL(18,2))`), then ×100 to a long.
    */
  def cents(c: Column): Column =
    (c.cast(DecimalType(18, 2)) * 100).cast(LongType)

  /** Exact sum, bit-identical to `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS
    * DOUBLE)` at every magnitude. Each row's cents split into
    * quotient/remainder by 2^20 (hi = cents >> 20, an arithmetic shift
    * that floors negatives; lo = cents & (2^20−1), always in
    * [0, 2^20)). Each half sums as a codegen'd primitive long, and the
    * group's total recombines exactly in DECIMAL(38,0) as hi·2^20 + lo
    * before one ÷100 and one cast to double — the decimal spelling's
    * single rounding, without its per-row widened-decimal adds.
    *
    * Failure is loud, never drift: the only way out of range is a long
    * buffer overflowing (lo needs > 2^43 ≈ 8.8e12 rows per group, hi
    * needs |cents| · rows > 2^83), and ANSI mode fails long-sum
    * overflow outright.
    */
  def exactSum(c: Column): Column = {
    val v = cents(c)
    val hi = sum(shiftright(v, 20)).cast(DecimalType(38, 0))
    val lo = sum(v.bitwiseAND(lit((1L << 20) - 1))).cast(DecimalType(38, 0))
    ((hi * lit(1L << 20) + lo) / lit(100)).cast(DoubleType)
  }

  /** Exact mean: [[exactSum]] ÷ count — one exact-total→double rounding,
    * one division, the deterministic spelling of AVG for gated outputs.
    */
  def exactAvg(c: Column): Column = exactSum(c) / count(c)
}

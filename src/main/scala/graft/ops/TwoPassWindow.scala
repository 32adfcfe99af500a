package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Two-pass spellings of GLOBAL window functions — row_number / ntile /
  * prefix aggregates over a total order — that never move the frame
  * through a single partition (r21; guide §2 "partition by a computed
  * bucket with offset correction").
  *
  * An unpartitioned `Window.orderBy(...)` plans as
  * `Exchange SinglePartition → Sort → Window`: the WHOLE frame flows
  * through ONE task regardless of cluster size ("WindowExec: No
  * Partition Defined ... this can cause serious performance
  * degradation"), which is exactly the shape that stops scaling first
  * at 100 TB. The two-pass replacement is the classic distributed
  * prefix construction:
  *
  *   1. `repartitionByRange(sortCols)` spreads the frame across range
  *      partitions in sort order; the row→partition binding is FROZEN
  *      with a lineage truncation ([[Persist.truncate]] — a local or
  *      reliable checkpoint, never `cache()`, whose eviction would
  *      re-run the boundary sampling and could reassign pids between
  *      the offsets job and the output job).
  *   2. one tiny aggregate computes the per-partition count/sum/max;
  *      an O(partitions) driver collect turns those into EXCLUSIVE
  *      per-partition prefix offsets (the repo's bounded-collect
  *      doctrine: the collect is #range-partitions rows, never data);
  *   3. the window runs PARTITIONED by the frozen pid (each partition
  *      is one bounded task) and the offset is added back via a
  *      literal pid→offset map — no join, one projection.
  *
  * Determinism: rank/ntile callers must order by a STRICT total order
  * (every site tie-breaks to a key — the same requirement the
  * single-partition spelling already had for a deterministic result).
  * Equal full sort keys always land in the same range partition, so
  * ties never straddle an offset boundary.
  *
  * The range exchange deliberately passes NO explicit partition count
  * (scale-adaptive, guide §2.5): an explicit N marks the exchange
  * user-specified and BLOCKS AQE partition coalescing, so every
  * helper round paid shuffle.partitions-wide task waves even on a
  * 100-row frame (measured: the fixed-width spelling slowed the
  * tiny-frame sites 1.4–3.4× at sf0.1). Without it the
  * exchange starts at `spark.sql.shuffle.partitions` and AQE
  * coalesces by size — tiny frames collapse to one or two bounded
  * tasks, fact-sized frames keep the full width; the frozen pid keeps
  * the offsets exact either way.
  *
  * The rule: these helpers are for frames that GROW WITH THE DATA (fact
  * rows, per-customer rollups, a histogram whose bucket count scales
  * with the corpus). A frame whose row count is FIXED BY CONSTRUCTION —
  * a calendar series, a fixed-width histogram, a top-k, a categorical
  * domain — uses Spark's plain `Window` (with `rowsBetween` where a
  * frame is needed), exactly as its DuckDB twin spells it: the single
  * partition then holds a few thousand rows at any scale, and the
  * helpers' range shuffle, checkpoint and build-time offsets collect
  * would cost more than the window they replace.
  */
object TwoPassWindow {
  private val Pid = "__tp_pid"

  /** Range-partition by `sortCols` and freeze the row→pid binding. Not
    * lazy: `eager = false` only defers the final stage, while the range
    * shuffle below it (boundary sampling included) runs as jobs here,
    * during the build (Persist's BUILD-TIME JOBS note).
    */
  private def pidded(df: DataFrame, sortCols: Seq[Column]): DataFrame =
    Persist.truncate(
      df.repartitionByRange(sortCols: _*)
        .withColumn(Pid, spark_partition_id()),
      eager = false)

  /** pid→offset literal lookup; absent pid → `orElse`. */
  private def offsetExpr(offs: Seq[(Int, Long)], orElse: Column): Column =
    if (offs.isEmpty) orElse
    else coalesce(
      element_at(
        map(offs.flatMap { case (q, o) => Seq(lit(q), lit(o)) }: _*),
        col(Pid)),
      orElse)

  /** A running sum from its cross-partition offset and local prefix,
    * NULL-carried like SQL's: the offset is NULL until the first
    * non-null value before this partition (the local prefix stands
    * alone), and once it exists an all-NULL local prefix carries it
    * (NULL + offset would wrongly revert to NULL).
    */
  private def plusOffset(off: Column, local: Column): Column =
    when(off.isNull, local).otherwise(off + coalesce(local, lit(0L)))

  /** Exact global `row_number()` over a strict total order, as LONG,
    * plus the total row count (free from the same offsets job — callers
    * needing n avoid a second pass).
    */
  def withRowNumberAndTotal(df: DataFrame, sortCols: Seq[Column],
      out: String): (DataFrame, Long) = {
    val p = pidded(df, sortCols)
    val counts = p.groupBy(col(Pid)).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offs = counts.map { case (q, c) => val o = acc; acc += c; (q, o) }
    val w = Window.partitionBy(col(Pid)).orderBy(sortCols: _*)
    val rn = row_number().over(w).cast(LongType) +
      offsetExpr(offs.toSeq, lit(0L))
    (p.withColumn(out, rn).drop(Pid), acc)
  }

  /** Exact global `ntile(k)` over a strict total order, as LONG — the
    * SQL-standard front-loaded remainder: with n rows, tiles 1..(n%k)
    * hold n/k+1 rows, the rest n/k.
    */
  def withNtile(df: DataFrame, k: Int, sortCols: Seq[Column],
      out: String): DataFrame = {
    require(k >= 1, s"ntile($k)")
    val rnCol = "__tp_rn"
    val (withRn, n) = withRowNumberAndTotal(df, sortCols, rnCol)
    val base = n / k
    val rem = n % k
    val cut = rem * (base + 1)
    // DIV (integer) — `/` on Columns is double division; operands are
    // positive so DIV and floor agree. The else-branch divisor is
    // clamped to 1: when base = 0 every rn ≤ cut and the branch never
    // evaluates, but ANSI would still reject a literal DIV 0.
    val tile = when(col(rnCol) <= cut,
      expr(s"($rnCol - 1) DIV ${math.max(base + 1, 1L)}") + lit(1L))
      .otherwise(
        expr(s"($rnCol - ${cut + 1}) DIV ${math.max(base, 1L)}") +
          lit(rem + 1))
    withRn.withColumn(out, tile.cast(LongType)).drop(rnCol)
  }

  /** Exact INCLUSIVE running sums (`rowsBetween(unboundedPreceding,
    * currentRow)`) over a strict total order, one output column per
    * (LONG value expression → name).
    */
  def withRunningSums(df: DataFrame, sortCols: Seq[Column],
      sums: Seq[(Column, String)]): DataFrame = {
    val p = pidded(df, sortCols)
    val aggs = sums.zipWithIndex.map { case ((v, _), i) => sum(v).as(s"s$i") }
    val rows = p.groupBy(col(Pid)).agg(aggs.head, aggs.tail: _*)
      .collect().sortBy(_.getInt(0))
    val w = Window.partitionBy(col(Pid)).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nullLong = lit(null).cast(LongType)
    val withCums = sums.zipWithIndex.foldLeft(p) {
      case (acc, ((v, out), i)) =>
        // offset = NONE until the first non-null per-partition sum —
        // SQL's running sum is NULL while the prefix holds no non-null
        // value, and a 0L offset would wrongly turn those rows into 0
        var run: Option[Long] = None
        val offs = rows.flatMap { r =>
          val entry = run.map(r.getInt(0) -> _)
          if (!r.isNullAt(i + 1))
            run = Some(math.addExact(run.getOrElse(0L), r.getLong(i + 1)))
          entry
        }
        acc.withColumn(out,
          plusOffset(offsetExpr(offs.toSeq, nullLong), sum(v).over(w)))
    }
    withCums.drop(Pid)
  }

  /** Exact EXCLUSIVE running max (`rowsBetween(unboundedPreceding,
    * -1)`) of a LONG column over a total order — NULL for the global
    * first row, exactly like the single-partition spelling.
    */
  def withRunningMaxExclusive(df: DataFrame, sortCols: Seq[Column],
      value: Column, out: String): DataFrame = {
    val p = pidded(df, sortCols)
    val rows = p.groupBy(col(Pid)).agg(max(value).as("m"))
      .collect()
      .map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    var run: Option[Long] = None
    val offs = rows.flatMap { case (q, m) =>
      val entry = run.map(q -> _)
      run = (run.toSeq ++ m.toSeq).reduceOption((a: Long, b: Long) => math.max(a, b))
      entry
    }
    val w = Window.partitionBy(col(Pid)).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val nullLong = lit(null).cast(LongType)
    // greatest() skips nulls: global first row has neither a
    // within-partition prefix nor an earlier-partition max → NULL.
    p.withColumn(out,
      greatest(max(value).over(w), offsetExpr(offs.toSeq, nullLong)))
      .drop(Pid)
  }

  /** Exact per-group INCLUSIVE running sum plus per-group TOTAL of a
    * LONG value over a total order within each group — the grouped
    * sibling of [[withRunningSums]] for the few-fat-groups skew shape
    * (guide §2 skew): `Window.partitionBy(group)` sends each whole
    * group through ONE task, so 3 groups = 3 tasks no matter the
    * cluster. Here the frame is range-partitioned by (group ++ sort),
    * the window runs per (pid, group) — every task bounded by the
    * range split, a group spans many tasks — and the cross-pid offsets
    * and group totals are patched from a #pids×#groups aggregate
    * (itself windowed — trivially small) broadcast-joined back on the
    * frozen pid. Ties never straddle pids for a within-group order the
    * same way as [[withRunningSums]]; equal (group,sort) rows share a
    * pid, and the within-pid window orders by the same keys, so the
    * INCLUSIVE cum at each row covers exactly the rows ≤ it.
    *
    * Group keys are matched null-safely (`<=>`): a NULL group is a
    * group, exactly as `partitionBy` treats it. NULL values carry as
    * in [[withRunningSums]] (`plusOffset`), per group.
    */
  def withGroupedRunningSumAndTotal(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], value: Column, cum: String,
      total: String): DataFrame = {
    val gc = groupCols.map(col)
    val p = pidded(df, gc ++ sortCols)
    val pg = p.groupBy((col(Pid) +: gc): _*).agg(sum(value).as("__tp_s"))
    val wOff = Window.partitionBy(gc: _*).orderBy(col(Pid))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(gc: _*)
    val offs = pg
      .withColumn("__tp_off", sum("__tp_s").over(wOff))
      .withColumn(total, sum("__tp_s").over(wTot))
      .drop("__tp_s")
      .withColumnRenamed(Pid, s"${Pid}_o")
    val offKeyed = groupCols.map(c => s"${c}__o").zip(groupCols)
      .foldLeft(offs) { case (acc, (o, c)) => acc.withColumnRenamed(c, o) }
    val joinCond = (col(Pid) === col(s"${Pid}_o")) &&
      groupCols.map(c => col(c) <=> col(s"${c}__o")).reduce(_ && _)
    val w = Window.partitionBy((col(Pid) +: gc): _*).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.join(broadcast(offKeyed), joinCond)
      .withColumn(cum, plusOffset(col("__tp_off"), sum(value).over(w)))
      .drop((Pid +: s"${Pid}_o" +: "__tp_off" +:
        groupCols.map(c => s"${c}__o")): _*)
  }
}

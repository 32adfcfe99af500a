package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** The one place that fetches a frame to the driver under a row bound.
  *
  * The rule: run `limit(m + 1)` once, where `m` is the bound. A short
  * read (at most `m` rows) IS the whole frame, so the caller holds the
  * complete data and no count ran; an `m + 1`-th row proves the frame
  * is over the bound without counting it. The bound is measured per
  * call, never assumed, and the driver never receives more than
  * `m + 1` rows.
  *
  * `limit` takes an Int, so `m` is the bound clamped to
  * `Int.MaxValue - 1` (keeping `m + 1` representable), and completeness
  * is judged against the CLAMPED bound: under a bound past
  * `Int.MaxValue` a read that fills the clamped limit is a truncated
  * frame, not a complete one.
  *
  * A bound of 0 or less fetches nothing and starts no job: no frame is
  * judged to fit it.
  */
object Bounded {

  /** The row count a bounded fetch judges complete against: `max`
    * clamped so that one extra probe row still fits `limit`'s Int.
    */
  private[graft] def fetchLimit(max: Long): Int =
    math.min(max, Int.MaxValue - 1L).toInt

  /** Whether a bounded read that returned `n` rows saw the whole frame. */
  private[graft] def complete(n: Long, max: Long): Boolean =
    n <= fetchLimit(max)

  /** Every row of `df` when it has at most `max`, else None. */
  def rowsAtMost(df: DataFrame, max: Long): Option[Array[Row]] =
    if (max <= 0) None
    else {
      val got = df.limit(fetchLimit(max) + 1).collect()
      if (complete(got.length, max)) Some(got) else None
    }

  /** [[rowsAtMost]] for frames bounded by construction: more than `max`
    * rows is a broken invariant, reported with `what` instead of
    * falling back to another path.
    */
  def rows(df: DataFrame, max: Long, what: String): Array[Row] =
    rowsAtMost(df, max).getOrElse(throw new IllegalStateException(
      s"$what: more than $max rows, past its driver bound"))
}

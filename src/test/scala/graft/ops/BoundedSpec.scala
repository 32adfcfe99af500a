package graft.ops

import graft.TestSpark
import graft.TestSpark.withJobs
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bounded]]'s fetch rule: complete at exactly `max` rows, None
  * (or a named failure) past it, no job at all for a bound of 0 or
  * less, one job otherwise, and completeness judged against the
  * Int-clamped limit.
  */
class BoundedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `n` rows in ONE partition: Spark's incremental take then scans
    * everything in its first job, so the job count is the helper's own.
    */
  private def frame(n: Long): DataFrame =
    spark.range(0, n, 1, 1).toDF("id")


  private def ids(rows: Array[org.apache.spark.sql.Row]): Seq[Long] =
    rows.map(_.getLong(0)).toSeq.sorted

  test("exactly max rows come back complete, in one job") {
    val (got, jobs) = withJobs(Bounded.rowsAtMost(frame(5), 5))
    assert(got.map(ids).contains(0L until 5L))
    assert(jobs == 1, s"jobs=$jobs")
    val (all, jobsRows) = withJobs(Bounded.rows(frame(5), 5, "five ids"))
    assert(ids(all) == (0L until 5L))
    assert(jobsRows == 1, s"jobs=$jobsRows")
  }

  test("max + 1 rows is None, and rows() names what overflowed") {
    val (got, jobs) = withJobs(Bounded.rowsAtMost(frame(6), 5))
    assert(got.isEmpty)
    assert(jobs == 1, s"jobs=$jobs")
    val e = intercept[IllegalStateException](
      Bounded.rows(frame(6), 5, "the probe frame"))
    assert(e.getMessage.contains("the probe frame") &&
      e.getMessage.contains("5"), e.getMessage)
  }

  test("a bound of 0 or less is None without starting a job") {
    for (max <- Seq(0L, -1L, Long.MinValue)) {
      val (got, jobs) = withJobs(Bounded.rowsAtMost(frame(0), max))
      assert(got.isEmpty, s"max=$max")
      assert(jobs == 0, s"max=$max jobs=$jobs")
    }
  }

  test("a Long bound above Int.MaxValue is clamped, and filling the " +
      "clamped limit is never complete") {
    // limit() takes an Int: the bound clamps so that the probe row
    // (limit + 1) still fits, at Int.MaxValue and beyond it
    for (max <- Seq(Int.MaxValue.toLong, Int.MaxValue + 1L, Long.MaxValue))
      assert(Bounded.fetchLimit(max) == Int.MaxValue - 1, s"max=$max")
    // a read that filled the clamped limit (limit + 1 rows) is a
    // truncated frame, even though it is below the requested bound
    val filled = Bounded.fetchLimit(Long.MaxValue) + 1L
    assert(!Bounded.complete(filled, Long.MaxValue))
    assert(Bounded.complete(filled - 1, Long.MaxValue))
    // an unclamped Long.MaxValue would wrap the limit; the clamped one
    // fetches a small frame whole, in one job
    val (got, jobs) = withJobs(Bounded.rowsAtMost(frame(3), Long.MaxValue))
    assert(got.map(ids).contains(Seq(0L, 1L, 2L)))
    assert(jobs == 1, s"jobs=$jobs")
  }
}

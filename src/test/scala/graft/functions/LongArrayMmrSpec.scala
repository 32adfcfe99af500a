package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[LongArrayMmr]] against a hand-derived greedy MMR trace —
  * the kernel must reproduce the round spelling it replaced exactly:
  * argmax on (mmr, −n_id), penalty = max dot against selected,
  * round-1 score = relW·rel, front-runner ties to the smaller id.
  */
class LongArrayMmrSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(cands: Seq[(Long, Long, Seq[Long])], k: Int)
      : Seq[(Long, Long, Long)] = {
    import spark.implicits._
    val df = cands.toDF("n_id", "rel", "cv")
      .agg(collect_list(struct(col("n_id"), col("rel"), col("cv")))
        .as("cands"))
      .select(explode(LongArrayMmr.mmrSelect(col("cands"), k, 7, 3)).as("p"))
      .select("p.n_id", "p.pick_order", "p.mmr_score")
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("greedy trace: relevance ties break to the smaller id, the " +
      "near-duplicate is deferred behind the diverse candidate") {
    // c1/c2 same direction (near-dups), c3/c4 orthogonal; c4 ties c1
    // on relevance. Hand trace: r1 -> id1 (tie 1 vs 4, smaller id),
    // score 700; r2 -> id4 (pen 0, mmr 700) over c2 (pen 100 -> 365)
    // and c3 (630); r3 -> id2 (365) over c3 (now penalized by c4: 330).
    val got = run(Seq(
      (1L, 100L, Seq(10L, 0L)),
      (2L, 95L, Seq(10L, 0L)),
      (3L, 90L, Seq(0L, 10L)),
      (4L, 100L, Seq(0L, 10L))), k = 3)
    assert(got == Seq((1L, 1L, 700L), (4L, 2L, 700L), (2L, 3L, 365L)))
  }

  test("pool smaller than k returns the whole pool in mmr order") {
    val got = run(Seq((7L, 10L, Seq(1L)), (9L, 20L, Seq(1L))), k = 5)
    // r1: id9 (rel 20, score 140); r2: id7 (pen dot=1 -> 70-3=67)
    assert(got == Seq((9L, 1L, 140L), (7L, 2L, 67L)))
  }

  test("mmr ties break to the smaller id across rounds") {
    // identical rel and orthogonal identical-norm vectors: every round
    // ties on mmr, so picks ascend by id
    val got = run(Seq(
      (3L, 50L, Seq(1L, 0L, 0L)),
      (1L, 50L, Seq(0L, 1L, 0L)),
      (2L, 50L, Seq(0L, 0L, 1L))), k = 3)
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
  }

  /** The kernel's error for a pool with one NULL, as the caller sees it. */
  private def nullError(cands: Seq[(Long, Option[Long], Seq[Option[Long]])])
      : String = {
    import spark.implicits._
    val df = cands.toDF("n_id", "rel", "cv")
      .agg(collect_list(struct(col("n_id"), col("rel"), col("cv")))
        .as("cands"))
      .select(LongArrayMmr.mmrSelect(col("cands"), 2, 7, 3))
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
  }

  test("a NULL struct field fails the selection instead of reading as 0") {
    val msg = nullError(Seq(
      (1L, Some(100L), Seq(Some(1L), Some(0L))),
      (2L, None, Seq(Some(0L), Some(1L)))))
    assert(msg.contains("long_array_mmr: NULL field rel in candidate"), msg)
  }

  test("a NULL cv element fails the selection instead of reading as 0") {
    val msg = nullError(Seq(
      (1L, Some(100L), Seq(Some(1L), Some(0L))),
      (2L, Some(90L), Seq(Some(0L), None))))
    assert(msg.contains("long_array_mmr: NULL cv element 1 in candidate"), msg)
  }
}

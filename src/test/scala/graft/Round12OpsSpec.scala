package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Similarity, StronglyConnectedComponents}

/** Round-12 operator pins: Tarjan SCC must label hand-built shapes by
  * their minimum member (random digraphs are checked against mutual
  * reachability in StronglyConnectedComponentsSpec; union-find CC
  * against large-star/small-star in ConnectedComponentsSpec), and the
  * codegen probe kernel must equal the interpreted HOF spelling it
  * replaced. These are the STRUCTURAL guarantees the scaladocs claim;
  * the DuckDB oracle separately checks end-to-end values.
  */
class Round12OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf001

  test("Tarjan labels the classic false-positive shape correctly") {
    // 0→3, 3→1, 0→4, 4→1: forward-min and backward-min labels coincide
    // for 3 and 4 without any cycle — every node is its own SCC
    val lab = StronglyConnectedComponents.tarjanLabels(
      Array((0L, 3L), (3L, 1L), (0L, 4L), (4L, 1L)))
    assert(lab == Map(0L -> 0L, 1L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("Tarjan collapses cycles to min-member labels") {
    // two 3-cycles bridged one-way: {1,2,3} and {5,6,7}, bridge 3→5
    val lab = StronglyConnectedComponents.tarjanLabels(Array(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (5L, 6L), (6L, 7L), (7L, 5L),
      (3L, 5L)))
    assert(lab == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("probe kernel == interpreted HOF spelling on the gate corpus") {
    val emb = queries.RefQueries.table(spark, sf, "embeddings")
    val kernel = Similarity.probeCellsForSpec(emb, nCells = 92, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val ref = Similarity.probeCellsRef(emb, nCells = 92, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(kernel.nonEmpty)
    assert(kernel == ref)
  }

  test("candidate stats report the derived geometry and a real reduction") {
    val row = queries.SimilarityQueries
      .simDbscanCandidateStats(spark, sf).collect().head
    val n = row.getLong(0)
    val nCells = row.getLong(1)
    val total = row.getLong(3)
    val cand = row.getLong(4)
    val eps = row.getLong(5)
    assert(n == 500L)
    assert(nCells == Similarity.dbscanNCells(n).toLong)
    assert(total == n * (n - 1) / 2)
    assert(eps <= cand)
    // the measured blocking reduction the scaladoc claims — ≥5× at the
    // gate SF (measured 8.7×; the floor leaves calib headroom, not
    // correctness slack: candidate counts are deterministic)
    assert(cand * 5 <= total, s"reduction too weak: $cand of $total")
  }
}

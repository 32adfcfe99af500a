package graft.ops

import graft.queries.GraphQueries
import org.scalatest.funsuite.AnyFunSuite

/** Kruskal must produce the unique min spanning forest: hand-checked
  * trees, parallel/reversed edge collapse, and a disconnected forest.
  */
class MstSpec extends AnyFunSuite {

  private def run(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
    GraphQueries.mst(edges).toSet

  test("hand-checked square with diagonal") {
    // square 0-1-2-3 with costs 1,2,3,4 and diagonal 0-2 cost 5:
    // MST = {01:1, 12:2, 23:3}
    val got = run(
      Seq((0L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 3L), (3L, 0L, 4L),
        (0L, 2L, 5L)))
    assert(got == Set((0L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 3L)))
  }

  test("parallel and reversed edges collapse to the min cost") {
    val got = run(Seq((0L, 1L, 9L), (1L, 0L, 3L), (0L, 1L, 7L)))
    assert(got == Set((0L, 1L, 3L)))
  }

  test("disconnected input yields a spanning forest") {
    // components {0,1,2} and {5,6}; an isolated node has no edge
    val got = run(
      Seq((0L, 1L, 2L), (1L, 2L, 1L), (0L, 2L, 9L), (5L, 6L, 4L)))
    assert(got == Set((0L, 1L, 2L), (1L, 2L, 1L), (5L, 6L, 4L)))
  }

  test("equal costs break ties by the packed endpoint key") {
    // triangle, all cost 7: unique MST under the (cost, a, b) order —
    // the packed w = cost<<20 | a<<10 | b order — is the two
    // lexicographically smallest pairs {01, 02}
    val got = run(Seq((0L, 1L, 7L), (0L, 2L, 7L), (1L, 2L, 7L)))
    assert(got == Set((0L, 1L, 7L), (0L, 2L, 7L)))
  }
}

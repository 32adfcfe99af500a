package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** SCC labels must implement MUTUAL reachability exactly: the diamond
  * DAG that fools naive double min-propagation, directed cycles, chains
  * of SCCs, ids ordered against the edges, singletons, and random
  * digraphs against a Floyd–Warshall closure.
  */
class StronglyConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    StronglyConnectedComponents.resolveLocal(nodes.toDF("node"), edges.toArray)
      .as[(Long, Long)].collect().toMap
  }

  test("diamond DAG: the double-min-propagation counterexample") {
    // 0→3, 3→1, 0→4, 4→1: forward-min gives 3 and 4 the same label (0),
    // backward-min gives them the same label (1) — but there is no cycle,
    // so all four nodes are singleton SCCs
    val got = run(Seq(0L, 1L, 3L, 4L),
      Seq((0L, 3L), (3L, 1L), (0L, 4L), (4L, 1L)))
    assert(got == Map(0L -> 0L, 1L -> 1L, 3L -> 3L, 4L -> 4L))
  }

  test("cycle plus tail plus isolated node") {
    // 1→2→3→1 is one SCC (min 1); 3→4 dangles off it; 9 is isolated
    val got = run(Seq(1L, 2L, 3L, 4L, 9L),
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 9L -> 9L))
  }

  test("chain of SCCs peels level by level") {
    // {0,1} → {2,3} → {4,5}: three 2-cycles connected forward — distinct
    // SCCs despite full forward reachability
    val got = run((0L to 5L),
      Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L), (4L, 5L), (5L, 4L),
        (1L, 2L), (3L, 4L)))
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L,
      4L -> 4L, 5L -> 4L))
  }

  test("ids ordered against the peel direction") {
    // edges flow from HIGH ids to LOW: 5→4→3 singleton chain plus a
    // 2-cycle {1,2} reachable from it; the DAG part stays singletons
    val got = run((1L to 5L),
      Seq((5L, 4L), (4L, 3L), (3L, 2L), (1L, 2L), (2L, 1L)))
    assert(got == Map(5L -> 5L, 4L -> 4L, 3L -> 3L, 2L -> 1L, 1L -> 1L))
  }

  test("two interleaved cycles sharing a node form one SCC") {
    // 10→11→12→10 and 12→13→10: all mutually reachable
    val got = run(Seq(10L, 11L, 12L, 13L),
      Seq((10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L), (13L, 10L)))
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
  }

  test("random digraphs agree with brute-force mutual reachability") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val n = 12 + trial * 3
      val nodes = (0L until n.toLong)
      val edges = Seq.fill(n * 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (u, v) => u != v }.distinct
      // driver-side Floyd–Warshall closure → scc_id = min mutual peer
      val reach = Array.fill(n, n)(false)
      nodes.foreach(i => reach(i.toInt)(i.toInt) = true)
      edges.foreach { case (u, v) => reach(u.toInt)(v.toInt) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val want = nodes.map { v =>
        v -> nodes.filter(w =>
          reach(v.toInt)(w.toInt) && reach(w.toInt)(v.toInt)).min
      }.toMap
      assert(run(nodes, edges) == want, s"trial $trial, n=$n, edges=$edges")
    }
  }
}

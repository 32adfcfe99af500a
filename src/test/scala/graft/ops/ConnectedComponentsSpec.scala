package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Both closures — driver union-find under the bound, large-star/
  * small-star above it — must produce exact transitive closure with
  * min-id labels: chains collapse across hops, separate components stay
  * separate, and edge direction/duplication is irrelevant.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("chains, separate components, reversed and duplicate edges") {
    import spark.implicits._
    // component A: 5-3-8-9 chain (diameter 3, forces >1 iteration);
    // component B: 2-7 with the edge reversed and duplicated
    val pairs = Seq(
      (5L, 3L), (3L, 8L), (8L, 9L),
      (7L, 2L), (2L, 7L), (7L, 2L)
    ).toDF("d1", "d2")
    val got = ConnectedComponents.resolve(pairs, "d1", "d2")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 3L, 5L -> 3L, 8L -> 3L, 9L -> 3L,
      2L -> 2L, 7L -> 2L))
  }

  test("long path converges to the single min label") {
    import spark.implicits._
    // path 0-1-2-...-12: diameter 12, label 0 must reach the far end
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = ConnectedComponents.resolve(pairs, "d1", "d2")
      .as[(Long, Long)].collect()
    assert(got.length == 13 && got.forall(_._2 == 0L))
  }

  test("exhausting the star rounds fails loudly instead of returning a split component") {
    import spark.implicits._
    // an 8-hop path is no star forest after one large∘small round
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.resolveStar(pairs, "d1", "d2", maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge in 1 rounds"))
  }

  test("empty pair list yields an empty labeling") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(ConnectedComponents.resolve(empty, "d1", "d2").isEmpty)
    assert(ConnectedComponents.resolveStar(empty, "d1", "d2").isEmpty)
  }

  test("large-star/small-star == union-find on random graphs and chains") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // three random graphs with different density, plus a 60-hop path
    // (which diameter-bound label propagation would need 60 rounds for
    // — the log-round algorithm converges in a handful)
    val graphs = (1 to 3).map { g =>
      (1 to 80).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2)
    } :+ (100L until 160L).map(i => (i, i + 1))
    graphs.zipWithIndex.foreach { case (pairs, gi) =>
      val df = pairs.toDF("d1", "d2")
      // sorted-seq compare, NOT toMap: a fixpoint bug emitting two rows
      // for one doc_id would be silently collapsed by a map
      val star = ConnectedComponents.resolveStar(df, "d1", "d2")
        .as[(Long, Long)].collect().toSeq.sorted
      val local = ConnectedComponents.resolve(df, "d1", "d2")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(star.map(_._1).distinct.size == star.size,
        s"graph $gi: duplicate doc_id rows in star labeling")
      assert(star == local, s"graph $gi: star labels differ from union-find")
    }
  }

  test("self-loop-only nodes survive both spellings") {
    import spark.implicits._
    val pairs = Seq((9L, 9L), (1L, 2L)).toDF("d1", "d2")
    val star = ConnectedComponents.resolveStar(pairs, "d1", "d2")
      .as[(Long, Long)].collect().toSeq.sorted
    val local = ConnectedComponents.resolve(pairs, "d1", "d2")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(star == Seq((1L, 1L), (2L, 1L), (9L, 9L)))
    assert(local == star)
  }
}

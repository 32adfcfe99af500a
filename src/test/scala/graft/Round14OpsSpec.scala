package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.GraphQueries

/** Round-14 operator pins.
  *
  * 1. betweenness's BFS accepts a graph whose eccentricity equals
  *    maxRounds exactly (a one-step lookahead proves it complete) and
  *    throws when one round is missing.
  * 2. capHubs leaves the session CacheManager empty after a
  *    co-occurrence candidate pass — the r13 leak class (one cached
  *    adjacency per invocation for the life of the session).
  */
class Round14OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("betweenness: BFS completing exactly on the last round is accepted") {
    // path 0-1-2: eccentricity from an endpoint is exactly 2
    val path = Array((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L))
    val nodes = Array(0L, 1L, 2L)
    val expect = GraphQueries.betweenness(nodes, path, maxRounds = 10)
    assert(expect.toSeq == Seq((0L, 0L), (1L, 1000000L), (2L, 0L)))
    assert(GraphQueries.betweenness(nodes, path, maxRounds = 2).toSeq ==
      expect.toSeq)
    // one round short IS truncation — fail loudly
    val e = intercept[IllegalStateException] {
      GraphQueries.betweenness(nodes, path, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not finish"))
  }

  test("capHubs leaves the session CacheManager empty") {
    import spark.implicits._
    spark.catalog.clearCache()
    val adj = (1L to 6L).flatMap(l => Seq((0L, l), (l, 0L)))
      .toDF("x", "nbr")
    val nbrDeg = adj.groupBy("nbr").agg(count(lit(1)).as("deg"))
    val capped = GraphQueries.capHubs(adj, nbrDeg, cap = 10)
    // consume both self-join sides, the real usage shape
    val n = capped.select(col("x"), col("nbr"))
      .join(capped.select(col("x").as("y"), col("nbr")), "nbr")
      .count()
    assert(n > 0)
    assert(org.apache.spark.sql.graft.Bridge.cacheManagerIsEmpty(spark),
      "capHubs must not register in the CacheManager (localCheckpoint " +
        "blocks are ContextCleaner-owned instead — the r13 leak class)")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.GraphQueries

/** Round-13 operator pins: the LPA, k-core, coreness and betweenness
  * driver functions against independent references — hand-traced
  * rounds for LPA (ties to the smaller label), sequential peeling for
  * k-core and coreness, and shortest-path enumeration for betweenness,
  * on seeded random graphs. Also pins the copurchase whale-basket cap:
  * bounded pair counts on a synthetic whale, identity on bounded
  * baskets.
  */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Both orientations of `m` random undirected edges on `n` nodes,
    * self-loops dropped, each edge once.
    */
  private def randomUndirectedAdj(seed: Int, n: Int, m: Int): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val und = (0 until m)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toArray
  }

  /** The k-core by sequential peeling to the fixpoint: delete one node
    * of degree < k at a time until none is left; each survivor with its
    * degree inside the core.
    */
  private def peelKcore(adj: Array[(Long, Long)], k: Int): Map[Long, Long] = {
    val live = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    adj.foreach { case (a, b) =>
      live.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
    }
    var weak = live.find(_._2.size < k)
    while (weak.isDefined) {
      val v = weak.get._1
      live.remove(v)
      live.values.foreach(_ -= v)
      weak = live.find(_._2.size < k)
    }
    live.map { case (v, ns) => v -> ns.size.toLong }.toMap
  }

  test("LPA: hand-traced rounds, a tie goes to the smaller label") {
    // path 1-2-3: in round 1 node 2 sees labels 1 and 3 once each and
    // takes 1; the ends take 2. Round 2 swaps them back.
    val path = Array((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    assert(GraphQueries.lpaLabels(path, 1).toSeq ==
      Seq((1L, 2L), (2L, 1L), (3L, 2L)))
    assert(GraphQueries.lpaLabels(path, 2).toSeq ==
      Seq((1L, 1L), (2L, 2L), (3L, 1L)))
    // star 0-{1,2,3} plus 1-2. Round 1: 0 sees 1, 2, 3 (tie: 1); 1 sees
    // 0, 2 (tie: 0); 2 sees 0, 1 (tie: 0); 3 sees 0. Round 2: 0 sees
    // label 0 three times; 1 sees 1 and 0 (tie: 0); 2 sees 1 and 0
    // (tie: 0); 3 sees 1.
    val star = Array((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L))
      .flatMap(e => Seq(e, e.swap))
    assert(GraphQueries.lpaLabels(star, 1).toSeq ==
      Seq((0L, 1L), (1L, 0L), (2L, 0L), (3L, 0L)))
    assert(GraphQueries.lpaLabels(star, 2).toSeq ==
      Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L)))
  }

  test("k-core equals sequential peeling to the fixpoint, member for member") {
    for (seed <- 1 to 3) {
      val adj = randomUndirectedAdj(seed, 30, 90)
      // every synchronous round that is not the fixpoint drops a node,
      // so 31 rounds reach the (unique) 3-core of a 30-node graph
      val got = GraphQueries.kcoreSurvivors(adj, k = 3, rounds = 31).toMap
      val want = peelKcore(adj, 3)
      assert(want.nonEmpty, s"seed $seed: empty core proves nothing")
      assert(got == want, s"seed $seed")
    }
  }

  test("copurchase whale-basket cap bounds pair counts, identity below cap") {
    import spark.implicits._
    // one whale (customer 1, 600 distinct parts — past the 512 cap)
    // plus two bounded baskets sharing 3 parts
    val whale = (0L until 600L).map(p => (1L, p))
    val small = Seq((2L, 10L), (2L, 11L), (2L, 12L),
      (3L, 10L), (3L, 11L), (3L, 12L), (3L, 13L))
    val baskets = (whale ++ small).toDF("cust", "part")
    val capped = GraphQueries.copurchasePairs(baskets, minSupport = 1)
      .cache()
    val cap = GraphQueries.CopurchaseBasketCap.toLong
    // the whale keeps its cap lowest parts (0..511, which contains
    // every small-basket part), so the distinct pair universe is
    // exactly C(cap, 2) — never 600·599/2
    assert(capped.count() == cap * (cap - 1) / 2,
      "whale pair count not capped")
    // support: parts {10,11,12} in all three baskets, {x,13} pairs of
    // the small baskets in whale+cust3
    assert(capped.where(col("n_common") === 3).count() == 3L)
    assert(capped.where(col("n_common") === 2).count() == 3L)
    // the cap is deterministic low-end truncation: no part id ≥ cap
    val maxP2 = capped.agg(max("p2")).head.getLong(0)
    assert(maxP2 < cap, s"cap must keep lowest part ids, got p2=$maxP2")
    // below the cap the projection is the identity of the uncapped one
    val bounded = small.toDF("cust", "part")
    val a = GraphQueries.copurchasePairs(bounded, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = GraphQueries.copurchasePairs(bounded, 1, cap = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("katz: beta floor, attenuation ceiling, hand-computed chain") {
    val rows = GraphQueries.graphKatz(spark, TestSpark.Sf001).collect()
    assert(rows.length == 25)
    val katz = rows.map(r =>
      r.getAs[Long]("nationkey") -> r.getAs[Long]("katz")).toMap
    // beta floor: every node holds at least the injected 1e6, and the
    // geometric ceiling 1e6/(1 - alpha*maxdeg) bounds the series
    assert(katz.values.forall(_ >= 1000000L))
    assert(katz.values.forall(_ <= 3600000L),
      s"attenuation ceiling breached: ${katz.values.max}")
    // output ordered by katz desc
    val ks = rows.map(_.getAs[Long]("katz")).toSeq
    assert(ks == ks.sorted.reverse)
  }

  test("eigenvector: max-normalized, zero only for isolated nodes") {
    val rows = GraphQueries.graphEigenvector(spark, TestSpark.Sf001).collect()
    assert(rows.length == 25)
    val eig = rows.map(_.getAs[Long]("eig"))
    // max-norm rescale: the top score is exactly 1e6, all in [0, 1e6]
    assert(eig.max == 1000000L)
    assert(eig.forall(e => e >= 0L && e <= 1000000L))
  }

  test("hub cap cuts super-hub shared neighbors from candidate generation") {
    import spark.implicits._
    // star: hub 0 with 6 leaves, plus one normal edge (1,2) — with a
    // cap of 5 the hub's rows vanish from the candidate adjacency and
    // only the (1,2) edge survives; with a cap of 10 everything stays
    val star = (1L to 6L).flatMap(l => Seq((0L, l), (l, 0L))) ++
      Seq((1L, 2L), (2L, 1L))
    val adj = star.toDF("x", "nbr")
    val nbrDeg = adj.groupBy("nbr").agg(count(lit(1)).as("deg"))
    val capped = GraphQueries.capHubs(adj, nbrDeg, cap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rows whose SHARED-NEIGHBOR key is the hub (nbr = 0) are cut;
    // rows pointing AT low-degree nodes survive (incl. the hub's own
    // (0, leaf) rows — leaf degrees are small)
    assert(!capped.exists(_._2 == 0L), s"hub kept: $capped")
    assert(capped.contains((1L, 2L)) && capped.contains((0L, 1L)))
    val full = GraphQueries.capHubs(adj, nbrDeg, cap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == star.toSet)
  }

  /** Every shortest s–t path of an undirected graph, as node lists:
    * BFS distances from `s`, then every walk back from `t` that steps
    * down one level at a time.
    */
  private def shortestPaths(nbrs: Map[Long, Seq[Long]], s: Long,
      t: Long): Seq[List[Long]] = {
    val dist = scala.collection.mutable.Map(s -> 0)
    var frontier = Seq(s)
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(u => nbrs.getOrElse(u, Nil))
        .distinct.filterNot(dist.contains)
      frontier.foreach(dist(_) = d)
    }
    def back(v: Long): Seq[List[Long]] =
      if (v == s) Seq(List(s))
      else nbrs(v).filter(u => dist.get(u).contains(dist(v) - 1))
        .flatMap(u => back(u).map(_ :+ v))
    if (dist.contains(t)) back(t) else Nil
  }

  test("betweenness equals enumerated shortest paths, floored per term; star identity") {
    for (seed <- 1 to 3) {
      val bidir = randomUndirectedAdj(seed, 20, 40)
      val nodes = (0L until 20L).toArray
      val nbrs = bidir.groupMap(_._1)(_._2).view.mapValues(_.toSeq).toMap
      // B(v) = Σ_{s<t, v∉{s,t}} (paths through v · 1e6) DIV (all paths)
      val want = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for (s <- nodes; t <- nodes if s < t) {
        val paths = shortestPaths(nbrs, s, t)
        for (v <- nodes if v != s && v != t) {
          val through = paths.count(_.contains(v)).toLong
          if (through > 0) want(v) += through * 1000000L / paths.size
        }
      }
      val got = GraphQueries.betweenness(nodes, bidir, maxRounds = 20)
      assert(got.map(_._1).toSeq == nodes.toSeq, s"seed $seed: one row per node")
      assert(got.exists(_._2 > 0), s"seed $seed: all-zero proves nothing")
      assert(got.toMap == nodes.map(v => v -> want(v)).toMap, s"seed $seed")
    }
    // hand-checkable star: the center carries every leaf pair exactly
    // once (sigma products 1), leaves carry nothing
    val star = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L))).toArray
    val got = GraphQueries.betweenness((0L to 4L).toArray, star, 10).toMap
    assert(got(0L) == 6L * 1000000L, s"star center: ${got(0L)}")
    (1L to 4L).foreach(l => assert(got(l) == 0L, s"leaf $l"))
  }

  test("coreness equals sequential-peel coreness, value for value") {
    for (seed <- 1 to 3) {
      val adj = randomUndirectedAdj(seed, 30, 90)
      // a node's coreness is the largest k whose k-core holds it
      val maxDeg = adj.groupBy(_._1).values.map(_.length).max
      val want = (1 to maxDeg).flatMap(k => peelKcore(adj, k).keys.map(_ -> k.toLong))
        .groupMapReduce(_._1)(_._2)(math.max)
      // the h-index iteration only falls, by at least 1 in total per
      // non-final round, so 2m + 1 rounds reach its fixpoint
      val got = GraphQueries.corenessLabels(adj, rounds = adj.length + 1).toMap
      assert(got.keySet == adj.map(_._1).toSet, s"seed $seed")
      assert(got.values.toSet.size > 1, s"seed $seed: one coreness proves little")
      assert(got == want, s"seed $seed")
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.{GraphQueries, ProfileQueries, TextQueries}

/** Contracts for the graph/profile/layout/contamination operators. */
class GraphProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("pagerank fixpoint on a hand-computed chain and cycle") {
    // chain a->b: a has no inflow (floor 150000); b converges to
    // 150000 + 850*150000/1000 = 277500 once a settles (3 iters in)
    val got = GraphQueries.pagerank(Array((0L, 1L)), 5).toMap
    assert(got(0L) == 150000L)
    assert(got(1L) == 277500L)

    // 2-cycle: perfectly symmetric, ranks stay equal and bounded
    val cyc = GraphQueries.pagerank(Array((0L, 1L), (1L, 0L)), 5).toMap
    assert(cyc(0L) == cyc(1L))
    assert(cyc(0L) >= 850000L && cyc(0L) <= 1000000L)
  }

  test("pagerank: hand-traced integer floors on a fan-out") {
    // 0 -> {1, 2, 3} and 1 -> 0; 2 and 3 dangle. Round 1: each fan-out
    // edge carries 1e6 DIV 3 = 333333, so 1..3 get 150000 +
    // 850*333333 DIV 1000 = 433333 and 0 gets 150000 + 850000. Round 2:
    // 0 gets 150000 + 850*433333 DIV 1000 = 518333; 1..3 are unchanged.
    val es = Array((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L))
    assert(GraphQueries.pagerank(es, 1).toSeq ==
      Seq((0L, 1000000L), (1L, 433333L), (2L, 433333L), (3L, 433333L)))
    assert(GraphQueries.pagerank(es, 2).toSeq ==
      Seq((0L, 518333L), (1L, 433333L), (2L, 433333L), (3L, 433333L)))
  }

  test("hits and eigenvector scores: a hand trace, and an empty edge " +
      "list scores no endpoint") {
    // one edge 0 -> 1: 0 is the whole hub mass, 1 the whole authority
    assert(GraphQueries.hitsScores(Array((0L, 1L))).toSeq ==
      Seq((0L, 1000000L, 0L), (1L, 0L, 1000000L)))
    assert(GraphQueries.eigenvectorScores(Array((0L, 1L), (1L, 0L))).toSeq ==
      Seq((0L, 1000000L), (1L, 1000000L)))
    // no edges, no endpoints: graph_hits / graph_eigenvector then read
    // every nation as 0 through their coalesce, as the twins do
    assert(GraphQueries.hitsScores(Array.empty).isEmpty)
    assert(GraphQueries.eigenvectorScores(Array.empty).isEmpty)
  }

  test("nation pagerank: floor respected, total rank never exceeds injection") {
    val rows = GraphQueries.graphPagerank(spark, TestSpark.Sf001).collect()
    assert(rows.length == 25)
    assert(rows.forall(_.getAs[Long]("rank") >= 150000L))
    // with d=0.85 and dangling leakage, total can only fall below n*1e6
    assert(rows.map(_.getAs[Long]("rank")).sum <= 25L * 1000000L)
    // output is ordered by rank desc
    val ranks = rows.map(_.getAs[Long]("rank")).toSeq
    assert(ranks == ranks.sorted.reverse)
  }

  test("bfs: exact hop distances on a hand-built graph, NULL when unreachable") {
    // 0→1→2→3 chain plus a shortcut 0→2 and an isolated node 9:
    // dist must be 0,1,1,2 and absent for 9 (shortest path wins, not
    // first path; unreachable has no distance)
    val got = GraphQueries.bfsHops(
      Array((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L)), source = 0L)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L))
    // a cycle must not prevent termination
    val c = GraphQueries.bfsHops(Array((0L, 1L), (1L, 0L)), 0L)
    assert(c == Map(0L -> 0L, 1L -> 1L))
  }

  test("bfs and neighbor overlap stay bounded on sf0.001") {
    val rows = GraphQueries.graphBfs(spark, TestSpark.Sf0001).collect()
    assert(rows.length == 25)
    assert(rows.filter(_.getLong(0) == 0L).forall(_.getLong(1) == 0L))
    val ov = GraphQueries.graphNeighborOverlap(spark, TestSpark.Sf0001).collect()
    // every pair canonical (x<y), jaccard in (0, 1e6], inclusion-
    // exclusion denominator consistent with the reported degrees
    assert(ov.nonEmpty)
    ov.foreach { r =>
      val (x, y) = (r.getLong(0), r.getLong(1))
      val (common, dx, dy, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(x < y)
      assert(common >= 1 && common <= math.min(dx, dy))
      assert(j == common * 1000000L / (dx + dy - common))
      assert(j > 0 && j <= 1000000L)
    }
  }

  test("profile matches directly-computed stats") {
    val prof = ProfileQueries.etlProfile(spark, TestSpark.Sf001)
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    val orders = spark.read.parquet(s"${TestSpark.Sf001}/orders.parquet")
    val nStatus = orders.select("o_orderstatus").distinct().count()
    assert(prof("o_orderstatus").getAs[Long]("n_distinct") == nStatus)
    val maxPrice = orders.agg(max("o_totalprice")).head().getDouble(0)
    assert(prof("o_totalprice").getAs[Double]("max_num") == maxPrice)
    assert(prof("o_orderkey").getAs[Long]("n_nonnull") == orders.count())
  }

  test("zorder interleaves bits correctly and orders by locality") {
    val rows = ProfileQueries.etlZorder(spark, TestSpark.Sf001).collect()
    assert(rows.length == 100)
    def morton(p: Long, s: Long): Long =
      (0 until 10).map { b =>
        (((p >> b) & 1L) << (2 * b)) | (((s >> b) & 1L) << (2 * b + 1))
      }.sum
    rows.foreach { r =>
      val (p, s, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z == morton(p, s), s"($p,$s)")
    }
    val zs = rows.map(_.getLong(2)).toSeq
    assert(zs == zs.sorted)
  }

  test("contamination matches a driver-side recomputation of the truth") {
    val outRows = TextQueries.textContamination(spark, TestSpark.Sf001).collect()
    outRows.foreach { r =>
      assert(r.getAs[Long]("n_overlap") <= r.getAs[Long]("n_grams"))
      assert((r.getAs[Long]("contaminated") == 1L) ==
        (r.getAs[Long]("n_overlap") > 0L))
    }
    // the sf0.01 corpus genuinely exhibits contamination — without this
    // the exact-match comparison below could be trivially all zeros
    assert(outRows.map(_.getAs[Long]("n_overlap")).sum > 0L)
    // sf0.001 is 50 docs: recompute the full answer in plain Scala with
    // an independent spelling and compare every row
    val texts = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[String] =
      t.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
    val trainGrams = texts.collect { case (id, t) if id % 2 == 0 => grams(t) }
      .foldLeft(Set.empty[String])(_ ++ _)
    val expected = texts.collect { case (id, t) if id % 2 == 1 =>
      val g = grams(t)
      id -> ((g.size.toLong, (g intersect trainGrams).size.toLong))
    }
    val got = TextQueries.textContamination(spark, TestSpark.Sf0001)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_overlap")))).toMap
    assert(got == expected.toMap)
  }

  test("clustering coefficient: bounded, consistent with triangles and degree") {
    val tri = GraphQueries.graphTriangles(spark, TestSpark.Sf001).collect()
      .map(r => r.getAs[Long]("nationkey") -> r.getAs[Long]("n_triangles")).toMap
    val rows = GraphQueries.graphClusteringCoeff(spark, TestSpark.Sf001).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val (d, t, cc) = (r.getAs[Long]("deg"), r.getAs[Long]("n_triangles"),
        r.getAs[Long]("cc_1e6"))
      assert(cc >= 0L && cc <= 1000000L, s"cc out of [0,1]: $cc")
      assert(t == tri(r.getAs[Long]("nationkey")))
      if (d >= 2) assert(cc == 2 * t * 1000000L / (d * (d - 1)))
      else assert(cc == 0L)
      // triangle count can never exceed the neighbor-pair count
      assert(2 * t <= d * (d - 1))
    }
  }

  test("k-core: every member keeps >= k neighbors inside the core") {
    val rows = GraphQueries.graphKcore(spark, TestSpark.Sf001).collect()
    assert(rows.nonEmpty, "3-core vanished — corpus assumption broke")
    assert(rows.forall(_.getAs[Long]("core_deg") >= 3L))
    // handshake parity: core_deg counts edges inside the member set, so
    // the sum over members must be even (each surviving edge has 2 ends)
    assert(rows.map(_.getAs[Long]("core_deg")).sum % 2 == 0)
    // the core can't exceed the full node set and members are distinct
    val members = rows.map(_.getAs[Long]("nationkey"))
    assert(members.distinct.length == members.length && members.length <= 25)
  }

  test("adamic-adar discounts hubs no harder than resource allocation") {
    val ra = GraphQueries.graphResourceAlloc(spark, TestSpark.Sf001).collect()
      .map(r => (r.getAs[Long]("x"), r.getAs[Long]("y")) ->
        r.getAs[Long]("ra_1e6")).toMap
    val rows = GraphQueries.graphAdamicAdar(spark, TestSpark.Sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val key = (r.getAs[Long]("x"), r.getAs[Long]("y"))
      val (common, aa) = (r.getAs[Long]("common"), r.getAs[Long]("aa_1e6"))
      // per-term: 1/log2(deg) >= 1/deg for deg >= 2, so AA >= RA…
      assert(aa >= ra(key), s"$key: aa=$aa < ra=${ra(key)}")
      // …and each term is at most 1e6 (deg >= 2 ⇒ log2 >= 1)
      assert(aa <= common * 1000000L, s"$key: aa=$aa > common*1e6")
      // pair sets must coincide: same candidate generation
      assert(ra.contains(key))
    }
    assert(rows.length == ra.size)
  }

  test("modularity contributions respect the partition identities") {
    val rows = GraphQueries.graphModularity(spark, TestSpark.Sf001).collect()
    assert(rows.length == 5, "one row per region")
    val mcSum = rows.map(_.getAs[Long]("m_c")).sum
    val dcSum = rows.map(_.getAs[Long]("d_c")).sum
    // every edge-end lands in exactly one community: sum d_c = 2m, and
    // intra-community edges are a subset of all edges: sum m_c <= m
    assert(dcSum % 2 == 0)
    val m = dcSum / 2
    assert(mcSum <= m)
    // Q = sum of contributions is in the classic [-0.5, 1] band (scaled)
    val q = rows.map(_.getAs[Long]("contrib_1e6")).sum
    assert(q >= -500000L && q <= 1000000L, s"Q=$q")
  }

  test("assortativity is a bounded correlation") {
    val r = GraphQueries.graphAssortativity(spark, TestSpark.Sf001)
      .collect().head
    assert(r.getAs[Long]("n_pairs") > 0)
    val a = r.getAs[Double]("assortativity")
    assert(!a.isNaN && math.abs(a) <= 1.0, s"assortativity $a")
  }

  test("weighted SSSP: source is zero, distances obey edge relaxation") {
    val rows = GraphQueries.graphSsspWeighted(spark, TestSpark.Sf001).collect()
    assert(rows.length == 25)
    val dist = rows.map(r => r.getAs[Long]("nationkey") ->
      Option(r.getAs[java.lang.Long]("dist_cost")).map(_.toLong)).toMap
    assert(dist(0L).contains(0L), "source distance must be 0")
    // no negative distances; reachable set includes the source
    dist.values.flatten.foreach(d => assert(d >= 0L))
  }
}

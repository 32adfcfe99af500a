package graft.queries

import graft.ops.Bounded
import graft.ops.Persist.PersistOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Graph analytics over relational data: PageRank (Page et al. 1999)
  * on the nation-level trade graph derived from
  * customer→order→lineitem→supplier.
  *
  * Edge derivation is itself a showcase query: a 4-way join rolls
  * line-level trade up to (customer_nation → supplier_nation) counts,
  * and an edge survives if its count clears 625/550 ≈ 1.14x the mean
  * share (`cnt * 550 >= total` — scale-invariant integer compare, no
  * float ratio). That keeps the graph genuinely sparse at every SF
  * (233 of 625 pairs at sf0.01, 114 at sf0.1) instead of the complete
  * graph the raw join produces.
  *
  * Determinism: ranks are integers scaled by 1e6. Each round is
  * rank' = 150000 + 850 * sum(rank_src DIV outdeg_src) DIV 1000 — the
  * standard d=0.85 update with every division integral, so the
  * cross-engine hash can't drift on float summation order. Dangling
  * nodes (no outgoing edge) simply leak rank, the classic simplified
  * formulation; nodes with no INCOMING edge settle at the 150000
  * floor.
  *
  * Scale: the threshold also caps the graph at 550 edges at every SF
  * ([[GraphQueries.TradeEdgeBound]]), so each query fetches it to the
  * driver once ([[GraphQueries.tradeGraph]]) and joins LocalRelations.
  * Every iterative operator ([[GraphQueries.pagerank]],
  * [[GraphQueries.betweenness]], [[GraphQueries.lpaLabels]], the k-core
  * and coreness peels, Tarjan SCC) is a plain driver function over the
  * fetched rows that returns arrays; the query wraps them with
  * [[GraphQueries.longFrame]]. Five fixed iterations keep the gate
  * deterministic.
  */
object GraphQueries {
  import RefQueries.table

  private val Iters = 5

  /** The most edges the trade graph can have, at any scale factor. An
    * edge survives only when `cnt * TradeEdgeBound >= tot`, where `tot`
    * is the sum of `cnt` over all counted pairs. Summed over the k
    * surviving edges, `k * tot <= TradeEdgeBound * (their cnt sum) <=
    * TradeEdgeBound * tot`, and `tot > 0` whenever an edge exists, so
    * `k <= TradeEdgeBound`. [[tradeGraph]] fetches under exactly this
    * bound, so every call checks the proof.
    */
  private val TradeEdgeBound = 550

  /** The trade graph on the driver: the thresholded directed edges
    * (`src`, `dst`, `cnt`) as one fetch returned them, with the
    * derivation's schema. Every view below is built from these rows,
    * so a query derives the graph once and each frame it hands out is
    * a LocalRelation (re-scanning one runs nothing, so none is
    * persisted).
    */
  private[graft] final class TradeGraph(spark: SparkSession,
      schema: StructType, rows: Array[Row]) {

    /** The weighted directed edges (`src`, `dst`, `cnt`). */
    def weighted: DataFrame = spark.createDataFrame(rows.toSeq.asJava, schema)

    /** The directed edges as (src, dst) pairs, in fetch order. */
    def pairs: Array[(Long, Long)] = rows.map(r => (r.getLong(0), r.getLong(1)))

    /** The weighted directed edges as (src, dst, cnt), in fetch order. */
    def weightedTriples: Array[(Long, Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    /** The undirected graph: each edge between two distinct nations
      * once, as (least, greatest), ascending. A null endpoint is no
      * edge, as `src != dst` makes it in SQL.
      */
    def undirectedPairs: Array[(Long, Long)] =
      rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1) &&
          r.getLong(0) != r.getLong(1))
        .map { r =>
          val (s, d) = (r.getLong(0), r.getLong(1))
          (math.min(s, d), math.max(s, d))
        }.distinct.sorted

    /** [[undirectedPairs]] as (`a`, `b`). Like `least`/`greatest`, a
      * column is nullable only when both endpoints are.
      */
    def undirected: DataFrame = {
      val nullable = schema("src").nullable && schema("dst").nullable
      spark.createDataFrame(
        undirectedPairs.toSeq.map { case (a, b) => Row(a, b) }.asJava,
        StructType(Seq(StructField("a", LongType, nullable),
          StructField("b", LongType, nullable))))
    }
  }

  /** Derive the trade graph and fetch it to the driver: line-level
    * trade rolled up to (customer_nation → supplier_nation) with the
    * trade count kept as the edge WEIGHT, thresholded to keep the graph
    * sparse (see object scaladoc). The fetch runs while the query is
    * built; at most [[TradeEdgeBound]] rows come back.
    */
  private[graft] def tradeGraph(spark: SparkSession, sfDir: String): TradeGraph = {
    val orders = table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey").cast("long").as("src"))
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val supp = table(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").cast("long").as("dst"))
    val counted = li
      .join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    // total via a 1-row cross join, so one fetch returns the edges
    val total = counted.agg(sum("cnt").as("tot"))
    val edges = counted.crossJoin(broadcast(total))
      .where(col("cnt") * TradeEdgeBound >= col("tot"))
      .select("src", "dst", "cnt")
    new TradeGraph(spark, edges.schema,
      Bounded.rows(edges, TradeEdgeBound, "trade edges"))
  }

  /** The weighted directed trade edges (`src`, `dst`, `cnt`). */
  private[graft] def tradeEdgesWeighted(spark: SparkSession, sfDir: String): DataFrame =
    tradeGraph(spark, sfDir).weighted

  /** The directed trade edges (`src`, `dst`). */
  private[graft] def tradeEdges(spark: SparkSession, sfDir: String): DataFrame =
    tradeEdgesWeighted(spark, sfDir).select("src", "dst")

  /** Spec access to the directed edge list, so brute-force graph
    * recomputes pin the SAME derivation the operators run on, not a
    * reimplementation that could drift.
    */
  private[graft] def tradeEdgesForSpec(spark: SparkSession,
      sfDir: String): Array[(Long, Long)] =
    tradeGraph(spark, sfDir).pairs

  /** The counted/edges CTE pair shared by every graph oracle.
    *
    * TWIN DOCTRINE (learned the hard way, twice): DuckDB inlines CTEs
    * by default, so any CTE referenced more than once PER LEVEL of an
    * unrolled iteration multiplies the re-derivation of everything
    * beneath it — the expansion is exponential in the round count
    * (betweenness: measured OOM at 100 GiB; eigenvector: killed at
    * 21 GB / 21 CPU-min, 0.87 s materialized; ktruss: 57.7 GB RSS).
    * Every round CTE with >1 reference per level MUST carry
    * `AS MATERIALIZED`. `counted` (self-referenced by the scalar SUM)
    * and `edges` (referenced 1-3× by downstream CTEs) are materialized
    * here so no twin ever re-runs the 4-way lineitem join.
    */
  private val EdgeCtes =
    """counted AS MATERIALIZED (
      |  SELECT CAST(c.c_nationkey AS BIGINT) AS src,
      |         CAST(s.s_nationkey AS BIGINT) AS dst,
      |         COUNT(*) AS cnt
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2
      |), edges AS MATERIALIZED (
      |  SELECT src, dst FROM counted
      |  WHERE cnt * 550 >= (SELECT SUM(cnt) FROM counted)
      |)""".stripMargin

  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val lab = localRankDf(spark, pagerank(tradeGraph(spark, sfDir).pairs, Iters))
    nodes
      .join(broadcast(lab), Seq("node"), "left")
      // a node that is no edge endpoint receives no rank: the floor
      .select(col("node").as("nationkey"),
        coalesce(col("lrank"), lit(150000L)).as("rank"))
      .orderBy(desc("rank"), col("nationkey"))
  }

  /** `graph_triangles` — per-node triangle counts on the undirected
    * trade graph: the standard clustering/community signal (a node in
    * many triangles sits in a dense trading bloc).
    *
    * Algorithm: canonicalize to a < b once (each undirected edge
    * stored a single time), then the ordered two-path join
    * (a<b<c: e1=(a,b), e2=(b,c)) closed against e3=(a,c) counts every
    * triangle EXACTLY once — the node-ordering trick that keeps the
    * join from producing each triangle 6×. Per-node counts fall out by
    * exploding the 3 corners.
    *
    * Scale: this is the textbook distributed triangle count (node-
    * iterator with ordering); the joins key on single node ids, so at
    * real graph scale they hash-partition by vertex and the hot-vertex
    * mitigation is the same degree-ordering already applied (high-
    * degree nodes appear mostly as the 'c' side). Here the edge list is
    * dimension-sized and broadcast.
    */
  def graphTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val und = tradeGraph(spark, sfDir).undirected
    val e1 = und
    val e2 = und.select(col("a").as("b2"), col("b").as("c"))
    val e3 = und.select(col("a").as("a3"), col("b").as("c3"))
    val tri = e1
      .join(broadcast(e2), col("b") === col("b2"))
      .join(broadcast(e3), col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val corners = tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("nationkey"))
      .join(broadcast(corners),
        col("nationkey") === col("node"), "left")
      .select(col("nationkey"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("nationkey")
  }

  val graphTrianglesSql: String =
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), tri AS MATERIALIZED (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM und e1
       |  JOIN und e2 ON e2.a = e1.b
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
       |), corners AS MATERIALIZED (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri
       |), cnt AS (
       |  SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
       |)
       |SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
       |       COALESCE(c.n_triangles, 0) AS n_triangles
       |FROM nation n LEFT JOIN cnt c ON c.node = CAST(n.n_nationkey AS BIGINT)
       |ORDER BY nationkey""".stripMargin

  /** Driver-local damped-rank fixed point over a BOUNDED weighted edge
    * list — the integer arithmetic behind [[pagerank]] /
    * [[graphPagerankWeighted]] / [[graphPpr]]: per edge (s, d, w) the
    * contribution is (rank(s)·w) DIV totw(s); next(v) = base(v) +
    * (850·Σc) DIV 1000.
    * Unweighted is the w = 1 special case ((rank·1) DIV deg =
    * rank DIV deg, the pre-divide spelling — same floors). Only
    * edge-ENDPOINT ranks are computed; callers coalesce non-endpoint
    * nodes to base(v) (they receive no mass and their own mass never
    * reaches an edge). Same doctrine as the Tarjan/union-find fast
    * paths: the trade graph is SCHEMA-bounded (≤ |nations|² edges
    * derived by one distributed hash-agg from lineitem — the 100 TB
    * side), so the fixed point is a bounded model artifact; each
    * caller fetches the edge list through [[Bounded]].
    */
  private def dampedRankLocal(edges: Array[(Long, Long, Long)],
      init: Long => Long, base: Long => Long,
      iters: Int): Array[(Long, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val totw = edges.groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toMap
    var rank = nodes.map(n => n -> init(n)).toMap
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((s, d, w) <- edges)
        sums(d) += rank(s) * w / totw(s)
      rank = nodes.map(n => n -> (base(n) + 850L * sums(n) / 1000L)).toMap
    }
    nodes.map(n => (n, rank(n)))
  }

  /** A LocalRelation of non-null LONG columns `cols`, one row per
    * tuple of `rows` (each of arity `cols.size`).
    */
  private def longFrame(spark: SparkSession, cols: String*)(
      rows: Iterable[Product]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromTuple).toSeq.asJava,
      StructType(cols.map(StructField(_, LongType, nullable = false))))

  /** (node, lrank) LocalRelation from a driver-resolved rank vector —
    * broadcast-joined back onto the full node set by the callers.
    */
  private def localRankDf(spark: SparkSession,
      ranks: Array[(Long, Long)]): DataFrame =
    longFrame(spark, "node", "lrank")(ranks)

  /** Driver bound for a node set fetched next to the trade graph: the
    * nation ids that [[betweenness]] takes as its pivots, that
    * [[allPairsHops]] takes as its roots and that `graph_bowtie`
    * labels. The nation table is a dimension (25 rows at every scale
    * factor), so a fetch past this bound is a broken invariant and
    * fails loudly ([[nodeIds]]).
    */
  private val NodeFetchBound = 500000

  /** The `node` column of `nodes` on the driver, under
    * [[NodeFetchBound]]; `what` names the fetch if it overflows.
    */
  private def nodeIds(nodes: DataFrame, what: String): Array[Long] =
    Bounded.rows(nodes.select(col("node").cast("long")),
      NodeFetchBound, what).map(_.getLong(0))

  /** Shared-neighbor hub cap for the co-occurrence link-prediction
    * family (neighbor_overlap / resource_alloc / adamic_adar): the
    * candidate self-join keys on the shared neighbor z and fans out
    * deg(z)² pairs, so super-hub z's are EXCLUDED from candidate
    * generation in code, not in a comment — the standard hub cut (for
    * RA/AA a super-hub's per-term 1/deg ≈ 0 anyway; for raw common
    * counts the cut is the documented approximation at web scale,
    * exactly the CopurchaseBasketCap doctrine). 10⁴ is ~400× this
    * corpus's max degree, so every gate hash is the uncapped answer;
    * the oracles apply the identical filter.
    */
  private[graft] val HubNeighborCap = 10000L

  /** Candidate-generation adjacency for the co-occurrence family:
    * drops rows whose SHARED-NEIGHBOR key has degree above `cap`.
    * `nbrDeg` (`nbr`, `deg`) is the caller's EXISTING degree frame
    * re-keyed (degree by nbr == degree by x on a bidirected
    * adjacency) — reusing it keeps the cap to one broadcast semi
    * filter instead of adding a second degree aggregate (A/B'd:
    * recomputing cost ~0.2–0.5 s of extra exchange per query). Not
    * persisted: the adjacency is built from the fetched trade graph's
    * rows, so each side of the co-occurrence self-join re-derives it
    * from a LocalRelation. The spec overrides `cap` to pin the cut on
    * a synthetic hub.
    */
  private[graft] def capHubs(adj: DataFrame, nbrDeg: DataFrame,
      cap: Long = HubNeighborCap): DataFrame =
    // re-project (x, nbr): the USING join puts the key column first
    adj.join(broadcast(nbrDeg.where(col("deg") <= cap).select("nbr")),
      Seq("nbr")).select("x", "nbr")

  /** Fixed-iteration integer PageRank over a directed edge list:
    * (node, rank) for every edge endpoint, ascending, rank scaled by
    * 1e6. Each round is rank' = 150000 + 850·Σ(rank_src DIV outdeg_src)
    * DIV 1000 ([[dampedRankLocal]] with unit weights, so the per-edge
    * quotient is the twin's `rank // deg`). A node that is no endpoint
    * receives nothing and sits at the 150000 floor after the first
    * round; the caller coalesces it.
    */
  private[graft] def pagerank(edges: Array[(Long, Long)],
      iters: Int): Array[(Long, Long)] =
    dampedRankLocal(edges.map { case (s, d) => (s, d, 1L) },
      _ => 1000000L, _ => 150000L, iters)

  /** r1..r5 are mechanically unrolled (DuckDB supports recursive CTEs
    * with aggregates, but five explicit rounds read as exactly the
    * Spark loop above and can't hide an off-by-one).
    */
  val graphPagerankSql: String = {
    val rounds = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         CAST(150000 + 850 * COALESCE(c.s, 0) // 1000 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
         |    FROM edges e
         |    JOIN r${i - 1} r ON r.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst
         |  ) c ON c.node = n.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, deg AS MATERIALIZED (
       |  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
       |), nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), r0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
       |), $rounds
       |SELECT node AS nationkey, rank FROM r$Iters
       |ORDER BY rank DESC, nationkey""".stripMargin
  }

  /** `graph_degree` — degree distribution of the customer→order graph:
    * how many customers placed exactly k orders, INCLUDING k = 0 (the
    * left join is the part a naive group-by silently drops). A
    * count-of-counts is two hash aggregates; the second's key space is
    * the max degree — at any scale the heavy shuffle is the first
    * aggregate, which map-side combines on o_custkey.
    */
  def graphDegree(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = table(spark, sfDir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("degree"))
    table(spark, sfDir, "customer")
      .select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("degree")
  }

  val graphDegreeSql: String =
    """WITH d AS (
      |  SELECT c.c_custkey, COALESCE(o.degree, 0) AS degree
      |  FROM customer c LEFT JOIN (
      |    SELECT o_custkey, COUNT(*) AS degree FROM orders GROUP BY o_custkey
      |  ) o ON c.c_custkey = o.o_custkey
      |)
      |SELECT degree, COUNT(*) AS n_customers
      |FROM d GROUP BY degree ORDER BY degree""".stripMargin

  /** `graph_bfs` — single-source shortest HOP distance over the
    * directed trade graph (source = nation 0), the frontier-expansion
    * primitive under reachability, radius, and influence queries.
    * Every nation is reported; one the source cannot reach has a NULL
    * distance.
    *
    * Scale: the trade graph has at most [[TradeEdgeBound]] edges, so
    * [[bfsHops]] runs on the driver over the fetched edge list and the
    * distances join back onto the nation set as a LocalRelation.
    */
  def graphBfs(spark: SparkSession, sfDir: String): DataFrame = {
    val hops = longFrame(spark, "node", "dist")(
      bfsHops(tradeGraph(spark, sfDir).pairs, source = 0L))
    table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("nationkey"))
      .join(broadcast(hops), col("nationkey") === col("node"), "left")
      .select(col("nationkey"), col("dist"))
      .orderBy("nationkey")
  }

  /** Single-source BFS over directed `edges`: the hop distance of every
    * node `source` reaches, the source itself at 0. Each level is the
    * unvisited successors of the previous one, so a cycle ends the
    * walk rather than extending it.
    */
  private[graft] def bfsHops(edges: Array[(Long, Long)],
      source: Long): Map[Long, Long] = {
    val adj = edges.groupMap(_._1)(_._2)
    var dist = Map(source -> 0L)
    var frontier = Seq(source)
    var d = 0L
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Array.empty[Long]))
        .distinct.filterNot(dist.contains)
      dist ++= frontier.map(_ -> d)
    }
    dist
  }

  /** DuckDB twin: textbook recursive-CTE BFS. UNION (not UNION ALL)
    * dedups (node, dist) pairs per step, so the working set is bounded
    * by |nodes| × the dist cap even on cyclic graphs — no path
    * explosion; MIN(dist) per node afterwards is the shortest
    * distance. The dist < 24 recursion bound is total on a 25-node
    * graph (any shortest path has < |V| hops).
    */
  val graphBfsSql: String =
    s"""WITH RECURSIVE $EdgeCtes, walk(node, dist) AS (
       |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
       |  UNION
       |  SELECT e.dst, w.dist + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.dist < 24
       |), best AS (
       |  SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
       |)
       |SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey, b.dist
       |FROM nation n LEFT JOIN best b ON b.node = CAST(n.n_nationkey AS BIGINT)
       |ORDER BY nationkey""".stripMargin

  /** `graph_neighbor_overlap` — neighborhood similarity of node pairs
    * on the undirected trade graph: for every pair with at least one
    * common neighbor, the common-neighbor count, both degrees, and the
    * neighborhood Jaccard |Γx∩Γy| / |Γx∪Γy| scaled to 1e6 by integral
    * division (exact in both engines — no float ratio under the hash
    * gate). Common-neighbors/Jaccard is the standard link-prediction
    * and role-similarity signal.
    *
    * Spelling: the adjacency self-join on the SHARED NEIGHBOR — the
    * co-occurrence shape. x < y canonicalizes each pair once;
    * |Γx∪Γy| = deg x + deg y − common by inclusion-exclusion, so no
    * second join pass. Scale: the join keys on the shared-neighbor id
    * and hash-partitions by it; a hot hub fans out deg² pairs, so
    * super-hub shared neighbors are CUT from candidate generation by
    * the [[HubNeighborCap]] filter (in code, gate-inactive — see the
    * cap's scaladoc); reported degrees stay the true degrees.
    */
  def graphNeighborOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val und = tradeGraph(spark, sfDir).undirected
    // bidirectional adjacency: (x, nbr) once per undirected edge end
    val adj = und.select(col("a").as("x"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("x"), col("a").as("nbr")))
    val deg = adj.groupBy("x").agg(count(lit(1)).as("deg"))
    val cadj = capHubs(adj, deg.select(col("x").as("nbr"), col("deg")))
    val common = cadj.select(col("x"), col("nbr"))
      .join(broadcast(cadj.select(col("x").as("y"), col("nbr"))), "nbr")
      .where(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("common"))
    common
      .join(broadcast(deg), "x")
      .withColumnRenamed("deg", "deg_x")
      .join(broadcast(deg.select(col("x").as("y"), col("deg").as("deg_y"))), "y")
      .select(col("x"), col("y"), col("common"), col("deg_x"), col("deg_y"),
        expr("(common * 1000000L) DIV (deg_x + deg_y - common)").as("jaccard_1e6"))
      .orderBy("x", "y")
  }

  val graphNeighborOverlapSql: String =
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), adj AS MATERIALIZED (
       |  SELECT a AS x, b AS nbr FROM und
       |  UNION ALL
       |  SELECT b AS x, a AS nbr FROM und
       |), deg AS MATERIALIZED (
       |  SELECT x, COUNT(*) AS deg FROM adj GROUP BY x
       |), cadj AS MATERIALIZED (
       |  SELECT a.x, a.nbr FROM adj a
       |  JOIN deg d ON d.x = a.nbr AND d.deg <= $HubNeighborCap
       |), common AS MATERIALIZED (
       |  SELECT a1.x AS x, a2.x AS y, COUNT(*) AS common
       |  FROM cadj a1 JOIN cadj a2 ON a1.nbr = a2.nbr AND a1.x < a2.x
       |  GROUP BY 1, 2
       |)
       |SELECT c.x, c.y, c.common, dx.deg AS deg_x, dy.deg AS deg_y,
       |       CAST(c.common * 1000000 // (dx.deg + dy.deg - c.common) AS BIGINT) AS jaccard_1e6
       |FROM common c
       |JOIN deg dx ON dx.x = c.x
       |JOIN deg dy ON dy.x = c.y
       |ORDER BY c.x, c.y""".stripMargin

  /** `graph_resource_alloc` — resource-allocation link prediction (Zhou,
    * Lü & Zhang 2009): for every node pair sharing a neighbor,
    * RA(x,y) = Σ_{z ∈ Γx∩Γy} 1/deg(z). Unlike the raw common-neighbor
    * count (graph_neighbor_overlap), RA discounts hub neighbors — a
    * shared neighbor that touches everything carries almost no signal —
    * which is why it wins link-prediction benchmarks over plain Jaccard.
    *
    * Determinism: per-term integral division, 1e6 DIV deg(z), summed as
    * BIGINT — the score is DEFINED as the sum of floored per-neighbor
    * shares, identical in both engines (no float accumulation order).
    *
    * Scale: same co-occurrence self-join as neighbor_overlap, keyed on
    * the shared neighbor, plus ONE extra broadcast join against the
    * node-sized degree table to weight each match — no new shuffle
    * shape. Hub fan-out is cut in code by the shared
    * [[HubNeighborCap]] filter (a super-hub's 1/deg term is ≈ 0
    * anyway; gate-inactive — see the cap's scaladoc).
    */
  def graphResourceAlloc(spark: SparkSession, sfDir: String): DataFrame = {
    val und = tradeGraph(spark, sfDir).undirected
    val adj = und.select(col("a").as("x"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("x"), col("a").as("nbr")))
    val deg = adj.groupBy(col("x").as("z")).agg(count(lit(1)).as("deg"))
    val cadj = capHubs(adj, deg.select(col("z").as("nbr"), col("deg")))
    cadj.select(col("x"), col("nbr"))
      .join(broadcast(cadj.select(col("x").as("y"), col("nbr"))), "nbr")
      .where(col("x") < col("y"))
      .join(broadcast(deg), col("nbr") === col("z"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000L DIV deg")).as("ra_1e6"))
      .orderBy("x", "y")
  }

  val graphResourceAllocSql: String =
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), adj AS MATERIALIZED (
       |  SELECT a AS x, b AS nbr FROM und
       |  UNION ALL
       |  SELECT b AS x, a AS nbr FROM und
       |), deg AS MATERIALIZED (
       |  SELECT x AS z, COUNT(*) AS deg FROM adj GROUP BY x
       |), cadj AS MATERIALIZED (
       |  SELECT a.x, a.nbr FROM adj a
       |  JOIN deg d ON d.z = a.nbr AND d.deg <= $HubNeighborCap
       |)
       |SELECT a1.x, a2.x AS y, COUNT(*) AS common,
       |       CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_1e6
       |FROM cadj a1
       |JOIN cadj a2 ON a1.nbr = a2.nbr AND a1.x < a2.x
       |JOIN deg d ON d.z = a1.nbr
       |GROUP BY 1, 2
       |ORDER BY a1.x, y""".stripMargin

  /** `graph_pagerank_weighted` — PageRank with rank flowing in
    * proportion to edge WEIGHT (trade volume), not split evenly across
    * out-neighbors: each edge carries rank_src·w(src,dst) DIV W(src),
    * the weighted-graph generalization (Xing & Ghorbani 2004) that a
    * volume-skewed trade network actually wants — a nation trading 90%
    * with one partner should push 90% of its rank there, which the
    * uniform split of graph_pagerank flattens.
    *
    * Same doctrine as the uniform spelling: integral arithmetic
    * throughout (the per-EDGE quotient is the one difference — no
    * per-node pre-divide exists when weights differ per edge).
    *
    * Scale: the weighted trade graph has at most 550 edges (see
    * [[TradeEdgeBound]]), so the rounds run on the driver in
    * [[dampedRankLocal]] over the fetched edge list, and non-endpoint
    * nations keep the 150000 floor.
    */
  def graphPagerankWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val es = tradeGraph(spark, sfDir).weightedTriples
    val lab = localRankDf(spark,
      dampedRankLocal(es, _ => 1000000L, _ => 150000L, Iters))
    nodes
      .join(broadcast(lab), Seq("node"), "left")
      .select(col("node").as("nationkey"),
        coalesce(col("lrank"), lit(150000L)).as("rank"))
      .orderBy(desc("rank"), col("nationkey"))
  }

  /** Unrolled like graphPagerankSql; the per-edge quotient
    * r.rank·e.cnt // t.tw mirrors the Spark round exactly.
    */
  val graphPagerankWeightedSql: String = {
    val rounds = (1 to Iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         CAST(150000 + 850 * COALESCE(c.s, 0) // 1000 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank * e.cnt // t.tw) AS s
         |    FROM wedges e
         |    JOIN r${i - 1} r ON r.node = e.src
         |    JOIN totw t ON t.src = e.src
         |    GROUP BY e.dst
         |  ) c ON c.node = n.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, wedges AS MATERIALIZED (
       |  SELECT src, dst, cnt FROM counted
       |  WHERE cnt * 550 >= (SELECT SUM(cnt) FROM counted)
       |), totw AS MATERIALIZED (
       |  SELECT src, CAST(SUM(cnt) AS BIGINT) AS tw FROM wedges GROUP BY src
       |), nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), r0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
       |), $rounds
       |SELECT node AS nationkey, rank FROM r$Iters
       |ORDER BY rank DESC, nationkey""".stripMargin
  }

  private val HitsIters = 3

  /** `graph_hits` — HITS hubs & authorities (Kleinberg 1999) on the
    * directed trade graph: authority(j) = Σ_{i→j} hub(i),
    * hub(i) = Σ_{i→j} authority(j), alternated, each vector re-scaled
    * to a 1e6 max after every half-step (the max-norm spelling of the
    * usual normalization — integral, so the gate can hash it).
    * Exporter-nations score as hubs, importer-nations as authorities;
    * it is the asymmetric complement of PageRank's single score.
    *
    * Determinism: BIGINT sums of ≤1e6-scaled scores over a ≤625-edge
    * graph (≪ 2^63), then (v·1e6) DIV max(v) — every op integral, the
    * same doctrine as graphPagerank. Nodes without in-(out-)edges hold
    * score 0 via the left join + coalesce.
    *
    * Scale: the trade graph has at most 550 edges (see
    * [[TradeEdgeBound]]), so the half-steps run on the driver in
    * [[hitsScores]] over the fetched edge list.
    */
  def graphHits(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val lab = longFrame(spark, "node", "lhub", "lauth")(
      hitsScores(tradeGraph(spark, sfDir).pairs))
    nodes
      .join(broadcast(lab), Seq("node"), "left")
      .select(col("node").as("nationkey"),
        coalesce(col("lhub"), lit(0L)).as("hub_1e6"),
        coalesce(col("lauth"), lit(0L)).as("auth_1e6"))
      .orderBy(desc("hub_1e6"), col("nationkey"))
  }

  /** [[HitsIters]] rounds of integer HITS over a directed edge list:
    * (node, hub, auth) for every edge endpoint, ascending by node. Each
    * half-step is auth(d) = Σ hub(s) (hub symmetric) and then
    * [[rescaleToMax]]. A node that is no endpoint scores 0 after the
    * first half-step, so it is left out and the caller coalesces it to
    * 0; the max over endpoints is the global max, since scores are
    * non-negative. An empty edge list gives no endpoints.
    */
  private[graft] def hitsScores(
      es: Array[(Long, Long)]): Array[(Long, Long, Long)] = {
    val endpoints = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def half(from: Map[Long, Long], rev: Boolean): Map[Long, Long] = {
      val sums = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((s, d) <- es) {
        if (rev) sums(s) += from(d) else sums(d) += from(s)
      }
      rescaleToMax(endpoints.map(n => n -> sums(n)).toMap)
    }
    var hub = endpoints.map(n => n -> 1000000L).toMap
    var auth = endpoints.map(n => n -> 0L).toMap
    for (_ <- 1 to HitsIters) {
      auth = half(hub, rev = false)
      hub = half(auth, rev = true)
    }
    endpoints.map(n => (n, hub(n), auth(n)))
  }

  /** Rescale non-negative scores to a 1e6 max by integral division;
    * an all-zero or empty vector passes through unchanged.
    */
  private def rescaleToMax(raw: Map[Long, Long]): Map[Long, Long] =
    raw.values.maxOption.filter(_ > 0) match {
      case Some(mx) => raw.view.mapValues(v => v * 1000000L / mx).toMap
      case None => raw
    }

  private val BetweennessRounds = 6

  /** `graph_betweenness` — betweenness centrality on the undirected
    * trade graph, the pair-counting spelling: per-source BFS layers
    * carry shortest-path COUNTS (σ at dist r = Σ of parents' σ at
    * r−1), and B(v) = Σ_{s<t, v∉{s,t}} σ_sv·σ_tv/σ_st over pairs where
    * d(s,v)+d(v,t) = d(s,t) — the identity that replaces Brandes'
    * sequential backward accumulation with two joins, which is what
    * makes the operator RELATIONAL (Brandes' δ-recursion is inherently
    * per-source sequential; the σ-product identity is one shuffle).
    * Per-term integral scoring ((σ_sv·σ_tv·10⁶) DIV σ_st, the RA
    * doctrine) keeps both engines bit-identical with no float
    * accumulation order.
    *
    * Scale: exact betweenness is quadratic BY DEFINITION (one BFS per
    * source, one term per pair). The trade graph has at most
    * [[TradeEdgeBound]] edges over the 25 nations, so [[betweenness]]
    * runs on the driver over the fetched edges and nation ids.
    * Fail-loudly (the bfs doctrine): a frontier still alive after
    * [[BetweennessRounds]] throws rather than returning silently
    * truncated centralities.
    */
  def graphBetweenness(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val und = tradeGraph(spark, sfDir).undirectedPairs
    longFrame(spark, "nationkey", "btw_1e6")(
      betweenness(nodeIds(nodes, "betweenness pivots"),
        und ++ und.map(_.swap), BetweennessRounds))
      .orderBy("nationkey")
  }

  /** The engine behind [[graphBetweenness]]: `bidir` is the bidirected
    * neighbor list, `nodes` the pivot set, which is also the output's
    * node set: (node, btw_1e6) for each distinct node, ascending. B(v)
    * sums over pairs s&lt;t of `nodes` with d(s,v) + d(v,t) = d(s,t) the
    * floored term (σ_sv·σ_tv·10⁶) DIV σ_st. A BFS whose frontier is
    * still growing after `maxRounds` levels throws; one that fills its
    * last level exactly is complete (one step of lookahead proves it).
    */
  private[graft] def betweenness(nodes: Array[Long], bidir: Array[(Long, Long)],
      maxRounds: Int): Array[(Long, Long)] = {
    val nbrs = bidir.groupMap(_._1)(_._2)
    val endpoints = bidir.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val srcs = nodes.distinct.sorted
    // per-source BFS with path counts (dist, sigma)
    val aps = srcs.map { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Seq(s)
      var r = 0
      while (frontier.nonEmpty && r < maxRounds) {
        r += 1
        val sums = scala.collection.mutable.Map.empty[Long, Long]
          .withDefaultValue(0L)
        for (u <- frontier; w <- nbrs.getOrElse(u, Array.empty[Long]))
          if (!dist.contains(w)) sums(w) += sigma(u)
        frontier = sums.keys.toSeq.sorted
        for (w <- frontier) { dist(w) = r; sigma(w) = sums(w) }
      }
      if (frontier.nonEmpty && r == maxRounds) {
        // one more half-step proves (in)completeness, the bfs contract
        val more = frontier.exists(u =>
          nbrs.getOrElse(u, Array.empty[Long]).exists(!dist.contains(_)))
        if (more) throw new IllegalStateException(
          s"betweenness BFS did not finish in $maxRounds rounds")
      }
      s -> ((dist.toMap, sigma.toMap))
    }.toMap
    val btw = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for {
      s <- srcs; t <- srcs if s < t
      (dst, sigst) <- aps(s)._1.get(t).map(d => (d, aps(s)._2(t))).toSeq
      v <- endpoints if v != s && v != t
      dsv <- aps(s)._1.get(v).toSeq
      dtv <- aps(t)._1.get(v).toSeq
      if dsv + dtv == dst
    } btw(v) += aps(s)._2(v) * aps(t)._2(v) * 1000000L / sigst
    srcs.map(n => (n, btw(n)))
  }

  val graphBetweennessSql: String = {
    val rounds = (1 to BetweennessRounds).map { r =>
      // MATERIALIZED: DuckDB inlines CTEs by default, and each a_r is
      // referenced twice per level (the NOT EXISTS and the union) plus
      // three times in the tail — inlined, the chain re-expands
      // exponentially (measured: OOM at 100 GiB on sf0.01)
      s"""f$r AS MATERIALIZED (
         |  SELECT p.s, b.v AS nv, SUM(p.sigma) AS sigma
         |  FROM n${r - 1} p JOIN bidir b ON b.u = p.v
         |  GROUP BY 1, 2
         |), n$r AS MATERIALIZED (
         |  SELECT f.s, f.nv AS v, $r AS dist, CAST(f.sigma AS BIGINT) AS sigma
         |  FROM f$r f
         |  WHERE NOT EXISTS (SELECT 1 FROM a${r - 1} x
         |                    WHERE x.s = f.s AND x.v = f.nv)
         |), a$r AS MATERIALIZED (
         |  SELECT * FROM a${r - 1} UNION ALL SELECT * FROM n$r
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), bidir AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM und
       |  UNION ALL
       |  SELECT b AS u, a AS v FROM und
       |), nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), n0 AS MATERIALIZED (
       |  SELECT node AS s, node AS v, 0 AS dist, CAST(1 AS BIGINT) AS sigma
       |  FROM nodes
       |), a0 AS MATERIALIZED (
       |  SELECT * FROM n0
       |), $rounds, pr AS (
       |  SELECT s, v AS t, dist AS dst, sigma AS sigst
       |  FROM a$BetweennessRounds WHERE s < v
       |), terms AS (
       |  SELECT i1.v AS node,
       |         SUM((i1.sigma * i2.sigma * 1000000) // p.sigst) AS b
       |  FROM pr p
       |  JOIN a$BetweennessRounds i1 ON i1.s = p.s
       |  JOIN a$BetweennessRounds i2 ON i2.s = p.t AND i2.v = i1.v
       |  WHERE i1.v != p.s AND i1.v != p.t
       |    AND i1.dist + i2.dist = p.dst
       |  GROUP BY i1.v
       |)
       |SELECT n.node AS nationkey, CAST(COALESCE(t.b, 0) AS BIGINT) AS btw_1e6
       |FROM nodes n LEFT JOIN terms t ON t.node = n.node
       |ORDER BY nationkey""".stripMargin
  }

  /** Katz attenuation α = [[KatzAlphaNum]]/1000. Must satisfy
    * α·λmax < 1 for the truncated series to be the Katz limit's
    * prefix; λmax of the trade graph is bounded by its max in-degree
    * (≤ 24 nations), so 0.03·24 = 0.72 < 1 with a per-node score
    * ceiling of 1e6/(1−0.72) ≈ 3.6e6 — longs never strain.
    */
  private val KatzAlphaNum = 30L

  /** `graph_katz` — Katz centrality (Katz 1953) on the directed trade
    * graph: x(v) = β + α·Σ_{u→v} x(u), iterated [[Iters]] fixed rounds
    * from x⁰ = β = 1e6 — the truncated Katz series, the walk-counting
    * centrality that (unlike PageRank) does NOT divide a node's
    * influence by its out-degree: a hub nation lends full weight to
    * every partner. Integral arithmetic throughout (β = 1e6 scaled,
    * α·s = (30·s) DIV 1000), the pagerank fixed-iteration doctrine.
    *
    * Scale: the trade graph has at most 550 edges (see
    * [[TradeEdgeBound]]), so the integer rounds run on the driver
    * over the fetched edge list.
    */
  def graphKatz(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val es = tradeGraph(spark, sfDir).pairs
    val endpoints = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var x = endpoints.map(_ -> 1000000L).toMap
    for (_ <- 1 to Iters) {
      val sums = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((u, v) <- es) sums(v) += x(u)
      // non-negative longs: / == DIV
      x = endpoints.map(n =>
        n -> (1000000L + KatzAlphaNum * sums(n) / 1000L)).toMap
    }
    nodes
      .join(broadcast(localRankDf(spark,
        endpoints.map(n => (n, x(n))))), Seq("node"), "left")
      .select(col("node").as("nationkey"),
        // a node with no in-edges holds exactly β forever
        coalesce(col("lrank"), lit(1000000L)).as("katz"))
      .orderBy(desc("katz"), col("nationkey"))
  }

  val graphKatzSql: String = {
    val rounds = (1 to Iters).map { i =>
      s"""k$i AS (
         |  SELECT n.node,
         |         CAST(1000000 + ($KatzAlphaNum * COALESCE(c.s, 0)) // 1000
         |              AS BIGINT) AS katz
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(k.katz) AS s
         |    FROM edges e JOIN k${i - 1} k ON k.node = e.src
         |    GROUP BY e.dst
         |  ) c ON c.node = n.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), k0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS katz FROM nodes
       |), $rounds
       |SELECT node AS nationkey, katz FROM k$Iters
       |ORDER BY katz DESC, nationkey""".stripMargin
  }

  /** `graph_eigenvector` — eigenvector centrality by power iteration
    * on the UNDIRECTED trade graph (self-loops dropped, mutual pairs
    * collapsed): x ← A·x, rescaled to a 1e6 max after every round —
    * the max-norm spelling of the usual normalization, integral so the
    * gate can hash it (the [[graphHits]] doctrine with one vector and
    * a symmetric edge set). Bonacich's "importance of your neighbors"
    * score: the principal-eigenvector direction emerges in a few
    * rounds on this diameter-2 graph; [[Iters]] fixed rounds keep both
    * engines on the identical prefix.
    *
    * Scale: the undirected trade graph has at most 550 edges (see
    * [[TradeEdgeBound]]), so the rounds run on the driver in
    * [[eigenvectorScores]] over the fetched bidirected edge list.
    */
  def graphEigenvector(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val es = tradeGraph(spark, sfDir).undirectedPairs
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    nodes
      .join(broadcast(localRankDf(spark, eigenvectorScores(es))),
        Seq("node"), "left")
      .select(col("node").as("nationkey"),
        coalesce(col("lrank"), lit(0L)).as("eig"))
      .orderBy(desc("eig"), col("nationkey"))
  }

  /** [[Iters]] rounds of x ← A·x then [[rescaleToMax]] over a
    * bidirected edge list: (node, score) for every edge endpoint,
    * ascending by node. A node that is no endpoint scores 0 after the
    * first round, so it is left out and the caller coalesces it to 0.
    * An empty edge list gives no endpoints.
    */
  private[graft] def eigenvectorScores(
      es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val endpoints = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var x = endpoints.map(_ -> 1000000L).toMap
    for (_ <- 1 to Iters) {
      val sums = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((u, v) <- es) sums(v) += x(u)
      x = rescaleToMax(endpoints.map(n => n -> sums(n)).toMap)
    }
    endpoints.map(n => (n, x(n)))
  }

  val graphEigenvectorSql: String = {
    val rounds = (1 to Iters).map { r =>
      // MATERIALIZED is load-bearing: e_r references s_r THREE times
      // (two scalar MAX subqueries + the FROM); inlined, DuckDB
      // re-derives the whole chain ~3^Iters times including the 4-way
      // EdgeCtes join (measured: killed at 21 GB / 21 CPU-min at
      // sf0.01; materialized: 0.87 s). Any round CTE referenced more
      // than once per level must be MATERIALIZED — the EdgeCtes
      // doctrine.
      s"""s$r AS MATERIALIZED (
         |  SELECT n.node, COALESCE(x.s, 0) AS s
         |  FROM nodes n LEFT JOIN (
         |    SELECT b.v AS node, SUM(p.score) AS s
         |    FROM bidir b JOIN e${r - 1} p ON p.node = b.u
         |    GROUP BY b.v
         |  ) x ON x.node = n.node
         |), e$r AS MATERIALIZED (
         |  SELECT node,
         |         CAST(CASE WHEN (SELECT MAX(s) FROM s$r) > 0
         |              THEN (s * 1000000) // (SELECT MAX(s) FROM s$r)
         |              ELSE s END AS BIGINT) AS score
         |  FROM s$r
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), bidir AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM und
       |  UNION ALL
       |  SELECT b AS u, a AS v FROM und
       |), nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), e0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes
       |), $rounds
       |SELECT node AS nationkey, score AS eig FROM e$Iters
       |ORDER BY eig DESC, nationkey""".stripMargin
  }

  private val LpaIters = 4

  /** `graph_label_propagation` — community detection by synchronous
    * label propagation (Raghavan et al. 2007): every node starts as
    * its own label; each of [[LpaIters]] fixed rounds, a node adopts
    * the label held by most of its UNDIRECTED neighbors, ties broken
    * by smallest label — the deterministic spelling of the classic
    * random-tie LPA, so both engines converge identically (and the
    * fixed round count sidesteps synchronous LPA's oscillation
    * non-termination, the pagerank fixed-iteration doctrine).
    *
    * Scale: the trade graph has at most [[TradeEdgeBound]] edges, so
    * the top-2 cut and the rounds ([[lpaLabels]]) run on the driver
    * over the fetched rows; the twin's argmax is
    * `max(struct(count, −label))`.
    */
  def graphLabelPropagation(spark: SparkSession, sfDir: String): DataFrame = {
    // the near-complete trade graph collapses LPA to one community in
    // round 1 (min-label floods every neighborhood) — communities only
    // exist in the PREFERRED-PARTNER structure, so propagate over each
    // nation's top-2 trade partners (rank by cnt desc, dst tie-break:
    // deterministic), the standard sparsification for dense graphs
    val top2 = tradeGraph(spark, sfDir).weightedTriples.groupBy(_._1).values
      .flatMap(_.sortBy { case (_, d, c) => (-c, d) }.take(2))
      .map { case (s, d, _) => (s, d) }.toArray
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    // undirected neighbor relation: both orientations, deduped so a
    // mutual preferred pair still casts ONE vote per neighbor
    val bidir = (top2 ++ top2.map(_.swap)).distinct
    nodes
      .join(broadcast(localRankDf(spark, lpaLabels(bidir, LpaIters))),
        Seq("node"), "left")
      // a node on no edge receives no vote and keeps its own label
      .select(col("node").as("nationkey"),
        coalesce(col("lrank"), col("node")).as("community"))
      .orderBy("nationkey")
  }

  /** Synchronous LPA over a DEDUPED bidirected neighbor list `bidir`:
    * each of `iters` rounds every node adopts the argmax-vote label of
    * its in-neighbors — max count, ties to the SMALLEST label; a node
    * receiving no vote keeps its label. Returns (node, label) for every
    * edge endpoint, ascending; every other node keeps its own id.
    */
  private[graft] def lpaLabels(bidir: Array[(Long, Long)],
      iters: Int): Array[(Long, Long)] = {
    val endpoints = bidir.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    var lbl = endpoints.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      val votes = bidir.groupBy(_._2).view.mapValues { in =>
        in.groupBy(p => lbl(p._1)).view.mapValues(_.length)
          .toSeq.maxBy { case (l, c) => (c, -l) }._1
      }.toMap
      lbl = endpoints.map(n => n -> votes.getOrElse(n, lbl(n))).toMap
    }
    endpoints.map(n => (n, lbl(n)))
  }

  val graphLabelPropagationSql: String = {
    val rounds = (1 to LpaIters).map { r =>
      val prev = s"l${r - 1}"
      s"""v$r AS MATERIALIZED (
         |  SELECT b.v AS node, p.lbl, COUNT(*) AS c
         |  FROM bidir b JOIN $prev p ON p.node = b.u
         |  GROUP BY 1, 2
         |), a$r AS MATERIALIZED (
         |  SELECT node, max(struct_pack(c := c, ml := -lbl)) AS m
         |  FROM v$r GROUP BY node
         |), l$r AS MATERIALIZED (
         |  SELECT p.node,
         |         CAST(COALESCE(-(a.m).ml, p.lbl) AS BIGINT) AS lbl
         |  FROM $prev p LEFT JOIN a$r a USING (node)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, wedges AS MATERIALIZED (
       |  SELECT src, dst, cnt FROM counted
       |  WHERE cnt * 550 >= (SELECT SUM(cnt) FROM counted)
       |), top2 AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |           row_number() OVER (PARTITION BY src
       |                              ORDER BY cnt DESC, dst) AS rn
       |    FROM wedges) WHERE rn <= 2
       |), nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), bidir AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM top2
       |  UNION
       |  SELECT dst AS u, src AS v FROM top2
       |), l0 AS MATERIALIZED (
       |  SELECT node, node AS lbl FROM nodes
       |), $rounds
       |SELECT node AS nationkey, lbl AS community
       |FROM l$LpaIters ORDER BY nationkey""".stripMargin
  }

  /** DuckDB twin: the three rounds unrolled, each half-step a
    * join+sum+left-join over all nodes and a `// max` rescale mirroring
    * [[rescaleToMax]] (max via a scalar subquery; GREATEST(max, 1)
    * leaves an all-zero half-step at 0).
    */
  val graphHitsSql: String = {
    def half(prev: String, out: String, from: String, to: String): String =
      s"""${out}_raw AS MATERIALIZED (
         |  SELECT e.$to AS node, SUM(p.score) AS s
         |  FROM edges e JOIN $prev p ON p.node = e.$from
         |  GROUP BY e.$to
         |), $out AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST(COALESCE(r.s, 0) * 1000000 //
         |              GREATEST((SELECT MAX(COALESCE(r2.s, 0)) FROM nodes n2
         |               LEFT JOIN ${out}_raw r2 ON r2.node = n2.node), 1)
         |              AS BIGINT) AS score
         |  FROM nodes n LEFT JOIN ${out}_raw r ON r.node = n.node
         |)""".stripMargin
    val rounds = (1 to HitsIters).map { i =>
      half(if (i == 1) "h0" else s"h${i - 1}", s"a$i", "src", "dst") + ", " +
        half(s"a$i", s"h$i", "dst", "src")
    }.mkString(", ")
    s"""WITH $EdgeCtes, nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), h0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes
       |), $rounds
       |SELECT n.node AS nationkey, h.score AS hub_1e6, a.score AS auth_1e6
       |FROM nodes n
       |JOIN h$HitsIters h ON h.node = n.node
       |JOIN a$HitsIters a ON a.node = n.node
       |ORDER BY hub_1e6 DESC, nationkey""".stripMargin
  }

  /** `graph_clustering_coeff` — local clustering coefficient per node
    * (Watts & Strogatz 1998): cc(v) = 2·t(v) / (d(v)·(d(v)−1)) where
    * t(v) is the number of triangles through v and d(v) the undirected
    * degree — how close each nation's trading neighborhood is to a
    * clique. Scaled-integer spelling: cc_1e6 = 2·t·10⁶ DIV (d·(d−1)),
    * 0 for degree < 2 (the coefficient is undefined there; 0 is the
    * standard convention).
    *
    * Scale: triangle counts come from the same ordered two-path join
    * as graph_triangles (each triangle found exactly once, corners
    * exploded), degrees from one aggregate over the bidirected
    * adjacency — all joins key on single node ids so they partition by
    * vertex at real scale; here the edge list is dimension-sized and
    * broadcast. No new shuffle shape beyond the triangle query.
    */
  def graphClusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    val und = tradeGraph(spark, sfDir).undirected
    val deg = und.select(col("a").as("x"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("x"), col("a").as("nbr")))
      .groupBy("x").agg(count(lit(1)).as("deg"))
    val e2 = und.select(col("a").as("b2"), col("b").as("c"))
    val e3 = und.select(col("a").as("a3"), col("b").as("c3"))
    val tri = und
      .join(broadcast(e2), col("b") === col("b2"))
      .join(broadcast(e3), col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val corners = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("nationkey"))
      .join(broadcast(deg), col("nationkey") === col("x"), "left")
      .join(broadcast(corners), col("nationkey") === col("node"), "left")
      .select(col("nationkey"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          expr("(2 * coalesce(tri, 0L) * 1000000L) DIV (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("cc_1e6"))
      .orderBy("nationkey")
  }

  val graphClusteringCoeffSql: String =
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), deg AS MATERIALIZED (
       |  SELECT x, COUNT(*) AS deg FROM (
       |    SELECT a AS x FROM und UNION ALL SELECT b FROM und
       |  ) GROUP BY x
       |), tri AS MATERIALIZED (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM und e1
       |  JOIN und e2 ON e2.a = e1.b
       |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
       |), corners AS MATERIALIZED (
       |  SELECT node, COUNT(*) AS tri FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri
       |  ) GROUP BY node
       |)
       |SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
       |       COALESCE(d.deg, 0) AS deg,
       |       COALESCE(c.tri, 0) AS n_triangles,
       |       CASE WHEN COALESCE(d.deg, 0) >= 2
       |            THEN CAST(2 * COALESCE(c.tri, 0) * 1000000
       |                      // (d.deg * (d.deg - 1)) AS BIGINT)
       |            ELSE 0 END AS cc_1e6
       |FROM nation n
       |LEFT JOIN deg d ON d.x = CAST(n.n_nationkey AS BIGINT)
       |LEFT JOIN corners c ON c.node = CAST(n.n_nationkey AS BIGINT)
       |ORDER BY nationkey""".stripMargin

  private val KcoreK = 3
  private val KcoreRounds = 5

  /** `graph_kcore` — k-core membership (Seidman 1983) by synchronous
    * peeling: repeatedly delete every node whose degree among the
    * SURVIVORS falls below k; what remains is the maximal subgraph
    * where every node keeps ≥ k neighbors — the standard "dense
    * nucleus" extractor (spam cores, cohesive trading blocs).
    * [[KcoreRounds]] fixed synchronous rounds (the pagerank
    * fixed-iteration doctrine: both engines unroll the same rounds, so
    * the gate can't drift on convergence detection); on this corpus
    * the survivor set reaches its fixpoint well inside 5 rounds.
    *
    * Scale: the trade graph has at most [[TradeEdgeBound]] edges, so
    * the peels ([[kcoreSurvivors]]) run on the driver over the fetched
    * undirected pairs.
    */
  def graphKcore(spark: SparkSession, sfDir: String): DataFrame = {
    val und = tradeGraph(spark, sfDir).undirectedPairs
    longFrame(spark, "nationkey", "core_deg")(
      kcoreSurvivors(und ++ und.map(_.swap), KcoreK, KcoreRounds))
      .orderBy("nationkey")
  }

  /** Synchronous k-core peeling over a bidirected adjacency `adj`
    * (both orientations of each undirected edge): `rounds` fixed rounds
    * of "recount degree among survivors, drop < k". Returns
    * (node, core_deg) for the surviving members, ascending.
    */
  private[graft] def kcoreSurvivors(adj: Array[(Long, Long)], k: Int,
      rounds: Int): Array[(Long, Long)] = {
    var surv = adj.map(_._1).toSet
    var deg = Map.empty[Long, Long]
    for (_ <- 1 to rounds) {
      deg = adj.filter(p => surv(p._1) && surv(p._2))
        .groupBy(_._1).view.mapValues(_.length.toLong).toMap
      surv = deg.filter(_._2 >= k).keySet
    }
    deg.toArray.filter(_._2 >= k).sortBy(_._1)
  }

  val graphKcoreSql: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      val prev = s"n${r - 1}"
      s"""d$r AS MATERIALIZED (
         |  SELECT a.x, COUNT(*) AS deg
         |  FROM adj a
         |  JOIN $prev sx ON sx.x = a.x
         |  JOIN $prev sy ON sy.x = a.nbr
         |  GROUP BY a.x
         |), n$r AS MATERIALIZED (
         |  SELECT x FROM d$r WHERE deg >= $KcoreK
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), adj AS MATERIALIZED (
       |  SELECT a AS x, b AS nbr FROM und
       |  UNION ALL
       |  SELECT b AS x, a AS nbr FROM und
       |), n0 AS MATERIALIZED (
       |  SELECT DISTINCT x FROM adj
       |), $rounds
       |SELECT x AS nationkey, deg AS core_deg
       |FROM d$KcoreRounds WHERE deg >= $KcoreK
       |ORDER BY nationkey""".stripMargin
  }

  /** `graph_rich_club` — the rich-club coefficient φ(k) for every
    * degree threshold k: among nodes of degree > k, the realized
    * fraction of possible edges (Colizza et al. 2006) — "do the hubs
    * trade with each other", the structural question degree and
    * assortativity each only half-answer. Pure integer counting: a
    * pair contributes to every k below min(deg a, deg b), so one
    * min-degree rollup + a threshold-range join produce all φ(k) rows
    * in two dimension-sized aggregates; φ is floored ppm of
    * 2·E_k / (n_k·(n_k−1)).
    *
    * Scale: degree and pair frames are node/edge-sized; the k range is
    * bounded by max degree. Nothing touches the fact table after the
    * shared edge derivation.
    */
  def graphRichClub(spark: SparkSession, sfDir: String): DataFrame = {
    val und = tradeGraph(spark, sfDir).undirected
    val adj = und.select(col("a").as("x"))
      .unionByName(und.select(col("b").as("x")))
    val deg = adj.groupBy("x").agg(count(lit(1)).as("deg"))
    val pairMin = und
      .join(deg.select(col("x").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("x").as("b"), col("deg").as("db")), "b")
      .select(least(col("da"), col("db")).as("mind"))
    val ks = spark.range(0, 24).select(col("id").as("k"))
    val nodesK = ks.crossJoin(deg).where(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val edgesK = ks.crossJoin(pairMin).where(col("mind") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    nodesK
      .join(edgesK, Seq("k"), "left")
      .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
      .where(col("n_nodes") >= 2)
      .select(col("k"), col("n_nodes"), col("n_edges"),
        expr("n_edges * 2000000L div (n_nodes * (n_nodes - 1L))")
          .as("phi_ppm"))
      .orderBy("k")
  }

  val graphRichClubSql: String =
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), deg AS MATERIALIZED (
       |  SELECT x, CAST(COUNT(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS x FROM und UNION ALL SELECT b AS x FROM und)
       |  GROUP BY x
       |), pm AS MATERIALIZED (
       |  SELECT least(da.deg, db.deg) AS mind
       |  FROM und
       |  JOIN deg da ON da.x = und.a
       |  JOIN deg db ON db.x = und.b
       |), nk AS MATERIALIZED (
       |  SELECT r.k, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM range(0, 24) r(k) JOIN deg d ON d.deg > r.k
       |  GROUP BY r.k
       |), ek AS MATERIALIZED (
       |  SELECT r.k, CAST(COUNT(*) AS BIGINT) AS n_edges
       |  FROM range(0, 24) r(k) JOIN pm ON pm.mind > r.k
       |  GROUP BY r.k
       |)
       |SELECT nk.k, nk.n_nodes, COALESCE(ek.n_edges, 0) AS n_edges,
       |       CAST(COALESCE(ek.n_edges, 0) * 2000000
       |            // (nk.n_nodes * (nk.n_nodes - 1)) AS BIGINT) AS phi_ppm
       |FROM nk LEFT JOIN ek ON ek.k = nk.k
       |WHERE nk.n_nodes >= 2
       |ORDER BY nk.k""".stripMargin

  private val CorenessRounds = 12

  /** `graph_coreness` — the FULL core decomposition (every node's core
    * number, not just membership at one fixed k like [[graphKcore]]):
    * computed by the h-index fixpoint of Lü et al. 2016 — core⁰ = deg,
    * core^{t+1}(v) = H({core^t(u) : u ∈ N(v)}), which converges to the
    * peeling coreness without ANY sequential peel. The h-index is a
    * per-node window: sort neighbor values descending, H = max over
    * rows of min(rank, value) — pure integers. Fixed
    * [[CorenessRounds]] rounds (the pagerank unroll doctrine); the
    * spec proves the fixpoint equals brute-force peeling on this
    * corpus.
    *
    * Scale: the h-index iteration needs no sequential peel, so the
    * twin states it as one join and one window per round. Here the
    * trade graph has at most [[TradeEdgeBound]] edges and the rounds
    * ([[corenessLabels]]) run on the driver over the fetched pairs.
    */
  def graphCoreness(spark: SparkSession, sfDir: String): DataFrame = {
    val und = tradeGraph(spark, sfDir).undirectedPairs
    longFrame(spark, "nationkey", "coreness")(
      corenessLabels(und ++ und.map(_.swap), CorenessRounds))
      .orderBy("nationkey")
  }

  /** The h-index coreness fixpoint over a bidirected adjacency `adj`:
    * core⁰ = deg, core^{t+1}(x) = max_i min(i, nc_i) with neighbors
    * sorted (coreness desc, id asc), the twin's window order. Returns
    * (node, coreness) for every edge endpoint, ascending.
    */
  private[graft] def corenessLabels(adj: Array[(Long, Long)],
      rounds: Int): Array[(Long, Long)] = {
    val nbrs = adj.groupMap(_._1)(_._2)
    var core = nbrs.view.mapValues(_.length.toLong).toMap
    for (_ <- 1 to rounds) {
      core = nbrs.map { case (x, ns) =>
        val sorted = ns.map(nb => (core(nb), nb))
          .sortBy { case (nc, nb) => (-nc, nb) }
        x -> sorted.zipWithIndex
          .map { case ((nc, _), i) => math.min(i + 1L, nc) }.max
      }
    }
    core.toArray.sortBy(_._1)
  }

  val graphCorenessSql: String = {
    val rounds = (1 to CorenessRounds).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT x, CAST(MAX(least(rn, nc)) AS BIGINT) AS c
         |  FROM (
         |    SELECT a.x, p.c AS nc,
         |           row_number() OVER (PARTITION BY a.x
         |                              ORDER BY p.c DESC, a.nbr) AS rn
         |    FROM adj a JOIN c${r - 1} p ON p.x = a.nbr
         |  ) GROUP BY x
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), adj AS MATERIALIZED (
       |  SELECT a AS x, b AS nbr FROM und
       |  UNION ALL
       |  SELECT b AS x, a AS nbr FROM und
       |), c0 AS (
       |  SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM adj GROUP BY x
       |), $rounds
       |SELECT x AS nationkey, c AS coreness
       |FROM c$CorenessRounds ORDER BY nationkey""".stripMargin
  }

  /** `graph_adamic_adar` — Adamic–Adar link prediction (Adamic & Adar
    * 2003): for node pairs sharing neighbors,
    * AA(x,y) = Σ_{z ∈ Γx∩Γy} 1/log(deg z) — like resource allocation
    * but with a logarithmic hub discount, the classic middle ground
    * between raw common-neighbor counts (no discount) and RA's 1/deg
    * (aggressive discount).
    *
    * Determinism: the per-neighbor term is 10¹² DIV log2_1e6(deg z)
    * via the [[graft.functions.IntegerLog2]] kernel (bit length +
    * shared 256-entry mantissa table — bit-identical in both engines
    * by construction), summed as BIGINT: aa_1e6 ≈ 10⁶/log₂(deg).
    * A shared neighbor touches both endpoints, so deg(z) ≥ 2 and
    * log2_1e6 ≥ 10⁶ — the division is always defined.
    *
    * Scale: identical shuffle shape to graph_resource_alloc — the
    * co-occurrence self-join keyed on the shared neighbor plus one
    * broadcast degree join, with the same in-code [[HubNeighborCap]]
    * hub cut on candidate generation (a super-hub's 1/log term barely
    * moves the score); the log kernel is a codegen'd narrow map.
    */
  def graphAdamicAdar(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.IntegerLog2
    val und = tradeGraph(spark, sfDir).undirected
    val adj = und.select(col("a").as("x"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("x"), col("a").as("nbr")))
    val deg = adj.groupBy(col("x").as("z")).agg(count(lit(1)).as("deg"))
    val cadj = capHubs(adj, deg.select(col("z").as("nbr"), col("deg")))
    cadj.select(col("x"), col("nbr"))
      .join(broadcast(cadj.select(col("x").as("y"), col("nbr"))), "nbr")
      .where(col("x") < col("y"))
      .join(broadcast(deg), col("nbr") === col("z"))
      .withColumn("lg", IntegerLog2.log2s(col("deg")))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000000000L DIV lg")).as("aa_1e6"))
      .orderBy("x", "y")
  }

  val graphAdamicAdarSql: String = {
    val log2deg = graft.functions.IntegerLog2.log2Sql("d.deg")
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), adj AS MATERIALIZED (
       |  SELECT a AS x, b AS nbr FROM und
       |  UNION ALL
       |  SELECT b AS x, a AS nbr FROM und
       |), deg AS MATERIALIZED (
       |  SELECT x AS z, COUNT(*) AS deg FROM adj GROUP BY x
       |), cadj AS MATERIALIZED (
       |  SELECT a.x, a.nbr FROM adj a
       |  JOIN deg d ON d.z = a.nbr AND d.deg <= $HubNeighborCap
       |)
       |SELECT a1.x, a2.x AS y, COUNT(*) AS common,
       |       CAST(SUM(1000000000000 // $log2deg) AS BIGINT) AS aa_1e6
       |FROM cadj a1
       |JOIN cadj a2 ON a1.nbr = a2.nbr AND a1.x < a2.x
       |JOIN deg d ON d.z = a1.nbr
       |GROUP BY 1, 2
       |ORDER BY a1.x, y""".stripMargin
  }

  /** `graph_reciprocity` — edge reciprocity of the DIRECTED trade graph:
    * the fraction of non-loop edges (u→v) whose reverse (v→u) also
    * clears the trade threshold — how symmetric are trading
    * relationships? (Directed-graph health metric; the thresholded
    * derivation makes it non-trivial: raw trade is near-complete, the
    * SPARSE graph is not.) Reported as n_edges, n_reciprocal and an
    * integral ppm ratio.
    *
    * Scale: one self-join of the edge list on the swapped key — edge-
    * keyed hash join, dimension-sized here, vertex-partitioned at real
    * scale. One aggregate.
    */
  def graphReciprocity(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = tradeEdges(spark, sfDir).where(col("src") =!= col("dst"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    edges.join(broadcast(rev.withColumn("has_rev", lit(1L))),
        Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce(col("has_rev"), lit(0L))).as("n_reciprocal"))
      .select(col("n_edges"), col("n_reciprocal"),
        expr("n_reciprocal * 1000000L DIV n_edges").as("recip_ppm"))
  }

  val graphReciprocitySql: String =
    s"""WITH $EdgeCtes, e AS MATERIALIZED (
       |  SELECT src, dst FROM edges WHERE src != dst
       |)
       |SELECT COUNT(*) AS n_edges,
       |       CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_reciprocal,
       |       CAST(SUM(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
       |            * 1000000 // COUNT(*) AS BIGINT) AS recip_ppm
       |FROM e
       |LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src""".stripMargin

  /** `graph_modularity` — Newman–Girvan modularity of a given partition
    * of the trade graph, here the REGION partition (does intra-region
    * trade exceed the random-graph expectation?): per community c,
    * contrib(c) = m_c/m − (d_c/2m)², Q = Σ contrib. Reported PER
    * COMMUNITY (the chi2 per-cell doctrine — a summed Q would be an
    * order-dependent float sum; per-community contributions are each
    * one fixed integer formula): contrib_1e6 = (4·m·m_c − d_c²)·10⁶
    * DIV (4·m²), exact BIGINTs throughout.
    *
    * This is the evaluation half of community detection — score any
    * labelling (label propagation, regions, a business hierarchy)
    * against the graph; detection lives in graph_label_propagation.
    *
    * Scale: one broadcast join tags each undirected edge with its two
    * communities; m_c and d_c are one aggregate each over edge-ends
    * keyed by the community domain. Nothing iterates.
    */
  def graphModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val und = tradeGraph(spark, sfDir).undirected
    val nat = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"),
        col("n_regionkey").cast("long").as("community"))
    val tagged = und
      .join(broadcast(nat.select(col("node").as("a"), col("community").as("ca"))), "a")
      .join(broadcast(nat.select(col("node").as("b"), col("community").as("cb"))), "b")
    val m = und.agg(count(lit(1)).as("m"))
    val mc = tagged.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("m_c"))
    val dc = tagged.select(col("ca").as("community"))
      .unionByName(tagged.select(col("cb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("d_c"))
    table(spark, sfDir, "region")
      .select(col("r_regionkey").cast("long").as("community"))
      .join(broadcast(mc), Seq("community"), "left")
      .join(broadcast(dc), Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"),
        coalesce(col("m_c"), lit(0L)).as("m_c"),
        coalesce(col("d_c"), lit(0L)).as("d_c"),
        // m is the TOTAL edge count, so 4·m² (and d_c²·10⁶) clears 2⁶³
        // on a ~10⁹-edge graph — whole contribution widened through
        // DECIMAL(38,0), the analytics_pareto overflow class
        // (GateHygieneSpec); DIV returns LONG either way
        expr("(CAST(4 AS DECIMAL(38,0)) * m * coalesce(m_c, 0L)" +
          " - CAST(coalesce(d_c, 0L) AS DECIMAL(38,0)) * coalesce(d_c, 0L))" +
          " * 1000000 DIV (CAST(4 AS DECIMAL(38,0)) * m * m)")
          .as("contrib_1e6"))
      .orderBy("community")
  }

  val graphModularitySql: String =
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), nat AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node,
       |         CAST(n_regionkey AS BIGINT) AS community
       |  FROM nation
       |), tagged AS MATERIALIZED (
       |  SELECT u.a, u.b, na.community AS ca, nb.community AS cb
       |  FROM und u
       |  JOIN nat na ON na.node = u.a
       |  JOIN nat nb ON nb.node = u.b
       |), m AS MATERIALIZED (
       |  SELECT COUNT(*) AS m FROM und
       |), mc AS MATERIALIZED (
       |  SELECT ca AS community, COUNT(*) AS m_c
       |  FROM tagged WHERE ca = cb GROUP BY ca
       |), dc AS MATERIALIZED (
       |  SELECT community, COUNT(*) AS d_c FROM (
       |    SELECT ca AS community FROM tagged
       |    UNION ALL
       |    SELECT cb FROM tagged
       |  ) GROUP BY community
       |)
       |SELECT CAST(r.r_regionkey AS BIGINT) AS community,
       |       COALESCE(mc.m_c, 0) AS m_c,
       |       COALESCE(dc.d_c, 0) AS d_c,
       |       CAST((CAST(4 AS HUGEINT) * m.m * COALESCE(mc.m_c, 0)
       |             - CAST(COALESCE(dc.d_c, 0) AS HUGEINT) * COALESCE(dc.d_c, 0))
       |            * 1000000 // (CAST(4 AS HUGEINT) * m.m * m.m) AS BIGINT) AS contrib_1e6
       |FROM region r
       |LEFT JOIN mc ON mc.community = CAST(r.r_regionkey AS BIGINT)
       |LEFT JOIN dc ON dc.community = CAST(r.r_regionkey AS BIGINT)
       |CROSS JOIN m
       |ORDER BY community""".stripMargin

  /** `graph_assortativity` — degree assortativity (Newman 2002): the
    * Pearson correlation of endpoint degrees across all edge-ends — do
    * high-degree nations trade with other hubs (assortative, r > 0) or
    * with the periphery (disassortative, r < 0)? Social networks trend
    * positive, technological/trade networks negative; a single number
    * summarizing the mixing pattern.
    *
    * Determinism: degrees are tiny integers, so all five sufficient
    * statistics are exact BIGINT sums over the bidirected pair list;
    * the final r is one fixed IEEE op sequence (the [[StatQueries]]
    * doctrine). Each undirected edge contributes both orientations —
    * the standard symmetric spelling that makes r independent of edge
    * storage order.
    *
    * Scale: one degree aggregate plus two broadcast joins over the
    * edge list keyed by vertex — the graph_neighbor_overlap shuffle
    * shape, nothing new.
    */
  def graphAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val und = tradeGraph(spark, sfDir).undirected
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
    val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val pairs = adj
      .join(broadcast(deg.select(col("node").as("u"), col("deg").as("dx"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dy"))), "v")
    val stats = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum("dx").as("sx"), sum("dy").as("sy"),
      sum(col("dx") * col("dy")).as("sxy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"))
    val nD = col("n_pairs").cast(DoubleType)
    stats.select(col("n_pairs"),
      ((nD * col("sxy").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
        (sqrt(nD * col("sxx").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
          sqrt(nD * col("syy").cast(DoubleType) -
            col("sy").cast(DoubleType) * col("sy").cast(DoubleType))))
        .as("assortativity"))
  }

  val graphAssortativitySql: String =
    s"""WITH $EdgeCtes, und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst
       |), adj AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM und
       |  UNION ALL
       |  SELECT b AS u, a AS v FROM und
       |), deg AS MATERIALIZED (
       |  SELECT u AS node, COUNT(*) AS deg FROM adj GROUP BY u
       |), s AS (
       |  SELECT COUNT(*) AS n_pairs,
       |         CAST(SUM(dx.deg) AS BIGINT) AS sx,
       |         CAST(SUM(dy.deg) AS BIGINT) AS sy,
       |         CAST(SUM(dx.deg * dy.deg) AS BIGINT) AS sxy,
       |         CAST(SUM(dx.deg * dx.deg) AS BIGINT) AS sxx,
       |         CAST(SUM(dy.deg * dy.deg) AS BIGINT) AS syy
       |  FROM adj
       |  JOIN deg dx ON dx.node = adj.u
       |  JOIN deg dy ON dy.node = adj.v
       |)
       |SELECT n_pairs,
       |       (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       |       (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
       |        sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS assortativity
       |FROM s""".stripMargin

  private val SsspRounds = 5
  private val SsspInf = 1000000000000000L

  /** `graph_sssp_weighted` — single-source shortest paths with edge
    * costs, Bellman–Ford style synchronous relaxation (the Pregel/
    * GraphX SSSP shape): dist'(v) = min(dist v, min over in-edges
    * (u,v) of dist(u) + cost(u,v)), [[SsspRounds]] fixed rounds from
    * source node 0. Edge cost is 10⁹ DIV cnt — heavier trade = cheaper
    * hop — so the result ranks nations by how cheaply goods reach them
    * from nation 0 through the trade network. Integer throughout;
    * unreachable nodes surface as NULL (the twin's [[SsspInf]]
    * sentinel never leaves it; here an unreached node has no
    * distance).
    *
    * Scale: the trade graph has at most [[TradeEdgeBound]] edges, so
    * the rounds run on the driver over the fetched edge list and the
    * distances join back onto the nation set as a LocalRelation. Each
    * round reads only the previous round's distances (synchronous, as
    * the unrolled twin does); fixed rounds bound the gate, so the
    * result is the ≤ [[SsspRounds]]-hop distance, not the fixpoint.
    */
  def graphSsspWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val wedges = tradeGraph(spark, sfDir).weightedTriples
      .map { case (s, d, cnt) => (s, d, 1000000000L / cnt) }
    var dist = Map(0L -> 0L)
    for (_ <- 1 to SsspRounds) {
      val via = wedges.collect {
        case (s, d, cost) if dist.contains(s) => d -> (dist(s) + cost)
      }.groupMapReduce(_._1)(_._2)(math.min)
      dist = via.foldLeft(dist) { case (m, (v, c)) =>
        m.updated(v, math.min(c, m.getOrElse(v, c))) }
    }
    table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("nationkey"))
      .join(broadcast(longFrame(spark, "node", "dist_cost")(dist)),
        col("nationkey") === col("node"), "left")
      .select(col("nationkey"), col("dist_cost"))
      .orderBy("nationkey")
  }

  val graphSsspWeightedSql: String = {
    val rounds = (1 to SsspRounds).map { r =>
      val prev = s"s${r - 1}"
      s"""v$r AS MATERIALIZED (
         |  SELECT e.dst, MIN(p.dist + e.cost) AS via
         |  FROM wedges e JOIN $prev p ON p.node = e.src
         |  WHERE p.dist < $SsspInf
         |  GROUP BY e.dst
         |), s$r AS MATERIALIZED (
         |  SELECT p.node, LEAST(p.dist, COALESCE(v.via, $SsspInf)) AS dist
         |  FROM $prev p LEFT JOIN v$r v ON v.dst = p.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, wedges AS MATERIALIZED (
       |  SELECT src, dst, CAST(1000000000 // cnt AS BIGINT) AS cost
       |  FROM counted
       |  WHERE cnt * 550 >= (SELECT SUM(cnt) FROM counted)
       |), nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), s0 AS MATERIALIZED (
       |  SELECT node,
       |         CASE WHEN node = 0 THEN 0
       |              ELSE CAST($SsspInf AS BIGINT) END AS dist
       |  FROM nodes
       |), $rounds
       |SELECT node AS nationkey,
       |       CASE WHEN dist < $SsspInf THEN dist END AS dist_cost
       |FROM s$SsspRounds ORDER BY nationkey""".stripMargin
  }

  // ---- bipartite co-purchase projection -------------------------------

  /** `graph_copurchase` — the part-part projection of the
    * customer×part bipartite purchase graph: part pairs bought by ≥ 3
    * common customers, ranked by co-purchase count — the
    * collaborative-filtering backbone ("customers who bought X also
    * bought Y"). Baskets dedupe to DISTINCT (customer, part) BEFORE the
    * pairing, so one customer re-ordering a pair many times counts
    * once.
    *
    * Scale: the projection self-join is keyed by customer and is
    * quadratic in BASKET SIZE, not in customers or parts — the
    * standard market-basket shape. Whale baskets are CAPPED in code,
    * not in a comment: each basket keeps its [[CopurchaseBasketCap]]
    * lowest part ids (row_number per customer) BEFORE the self-join,
    * bounding any one customer's pair fan-out at cap·(cap−1)/2
    * (~131k pairs) instead of letting a million-item basket become a
    * 10¹²-pair hot key. The cap is deterministic (order by part) and
    * INACTIVE on this corpus — measured max distinct-part basket is 90
    * at sf0.01 / 105 at sf0.1, 5× under the cap, and TPC-H basket size
    * grows with orders-per-customer (constant), not with SF — so the
    * gate hash is the uncapped answer; the oracle applies the identical
    * cap. Support floor + top-100 keep the output ranked and
    * deterministic (count desc, pair asc).
    */
  def graphCopurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val baskets = li
      .join(orders, li("l_orderkey") === orders("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
    copurchasePairs(baskets, minSupport = 3)
      .orderBy(desc("n_common"), col("p1"), col("p2"))
      .limit(100)
      .transform(RefQueries.gateSort(_, "p1", "p2"))
  }

  /** Deterministic whale-basket cap for the co-purchase projection:
    * per-customer pair work is bounded by cap·(cap−1)/2. 512 is ~5×
    * the largest basket this corpus produces at any gate SF (90/105
    * measured), so the cap changes nothing here while making the
    * operator safe on real retail-shaped data where a single
    * registry/bot account can hold millions of items.
    */
  private[graft] val CopurchaseBasketCap = 512

  /** The capped part-part projection over a (`cust`, `part`) basket
    * frame (duplicates allowed — deduped here): keep each customer's
    * `cap` lowest part ids, self-join on customer, count
    * co-occurrences, floor at `minSupport`. Factored out so
    * Round13OpsSpec can feed a synthetic whale basket and assert the
    * pair count stays bounded.
    *
    * ONE exchange serves the whole per-customer prefix: the explicit
    * repartition(cust) satisfies the dedup's ClusteredDistribution
    * (cust ⊆ (cust, part)) and the cap window's partitionBy(cust),
    * whose WindowGroupLimit keeps memory bounded even pre-cap — the
    * naive spelling paid a separate exchange for each (measured
    * 2.68 → 2.20 s at sf0.1). The self-join sides still re-exchange
    * off the cache (AQE leaves a cached plan's output partitioning
    * unreliable for reuse), but on capped, deduped rows. (A join-free
    * collect_list + transform/slice pair lambda was measured WORSE —
    * 4.97 s — array HOFs run interpreted; the plan-shape pitfalls
    * note applies.)
    */
  private[graft] def copurchasePairs(baskets: DataFrame, minSupport: Int,
      cap: Int = CopurchaseBasketCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCust = Window.partitionBy("cust").orderBy("part")
    val capped = baskets
      .repartition(col("cust"))
      .dropDuplicates("cust", "part")
      .withColumn("rn", row_number().over(byCust))
      .where(col("rn") <= cap)
      .select("cust", "part")
      .persistHotIntermediate
    capped.select(col("cust"), col("part").as("p1"))
      .join(capped.select(col("cust"), col("part").as("p2")), "cust")
      .where(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= minSupport)
  }

  val graphCopurchaseSql: String =
    s"""WITH baskets AS MATERIALIZED (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), capped AS MATERIALIZED (
      |  SELECT cust, part FROM baskets
      |  QUALIFY row_number() OVER (PARTITION BY cust ORDER BY part)
      |          <= $CopurchaseBasketCap
      |), pairs AS MATERIALIZED (
      |  SELECT a.part AS p1, b.part AS p2, COUNT(*) AS n_common
      |  FROM capped a JOIN capped b
      |    ON a.cust = b.cust AND a.part < b.part
      |  GROUP BY 1, 2
      |), top AS (
      |  SELECT * FROM pairs WHERE n_common >= 3
      |  ORDER BY n_common DESC, p1, p2 LIMIT 100
      |)
      |SELECT p1, p2, n_common FROM top ORDER BY p1, p2""".stripMargin

  // ---- k-truss cohesion -----------------------------------------------

  /** `graph_ktruss` — the 12-truss of the undirected trade graph:
    * edges whose TRIANGLE SUPPORT (common-neighbor count) stays ≥ 10
    * through 4 synchronous peeling rounds — the edge-cohesion upgrade
    * of `graph_kcore` (a k-core can be triangle-free; a k-truss is
    * built from triangles, the community-core definition of Cohen
    * 2008). Support recomputes per round over the SURVIVING edge set,
    * so removals cascade exactly like the vertex peeling in k-core's
    * fixed-round doctrine.
    *
    * Scale: the trade graph has at most [[TradeEdgeBound]] edges, so
    * the rounds run on the driver over [[TradeGraph.undirectedPairs]]:
    * an edge's support is |N(a) ∩ N(b)| over the surviving edges, and
    * an edge in no triangle drops out, as the twin's inner joins drop
    * it. Fixed 4 rounds is the gateable restatement of
    * run-to-fixpoint, same contract as k-core/SSSP.
    */
  def graphKtruss(spark: SparkSession, sfDir: String): DataFrame = {
    val KtrussSupport = 10
    var und = tradeGraph(spark, sfDir).undirectedPairs
    var supp = Array.empty[(Long, Long, Long)]
    for (_ <- 1 to 4) {
      val nbrs = (und ++ und.map(_.swap)).groupMap(_._1)(_._2)
        .view.mapValues(_.toSet).toMap
      supp = und.map { case (a, b) =>
        (a, b, nbrs(a).intersect(nbrs(b)).size.toLong) }.filter(_._3 > 0)
      und = supp.collect { case (a, b, n) if n >= KtrussSupport => (a, b) }
    }
    longFrame(spark, "a", "b", "support")(supp.filter(_._3 >= KtrussSupport))
      .orderBy("a", "b")
  }

  val graphKtrussSql: String = {
    val rounds = (1 to 4).map { r =>
      // MATERIALIZED: u_{r-1} is referenced THREE times per level (the
      // supp FROM + twice through adj) and adj_r twice — inlined,
      // DuckDB re-derives ~5^4 copies of the chain down to the 4-way
      // EdgeCtes join (measured: checker at 57.7 GB RSS at sf0.01,
      // one version bump from the OOM that bit betweenness). The
      // EdgeCtes doctrine: any round CTE referenced more than once
      // per level must be MATERIALIZED.
      s"""adj$r AS MATERIALIZED (
         |  SELECT a AS x, b AS n FROM u${r - 1}
         |  UNION ALL SELECT b, a FROM u${r - 1}
         |), supp$r AS MATERIALIZED (
         |  SELECT u.a, u.b, COUNT(*) AS support
         |  FROM u${r - 1} u
         |  JOIN adj$r p ON p.x = u.a
         |  JOIN adj$r q ON q.x = u.b AND q.n = p.n
         |  GROUP BY u.a, u.b
         |), u$r AS MATERIALIZED (
         |  SELECT a, b FROM supp$r WHERE support >= 10
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, u0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src <> dst
       |), $rounds
       |SELECT a, b, support FROM supp4 WHERE support >= 10
       |ORDER BY a, b""".stripMargin
  }

  // ---- deterministic random walks -------------------------------------

  /** `graph_random_walk` — length-4 walks from every nation on the
    * directed trade graph, the sampling primitive under node2vec/
    * DeepWalk-style graph embeddings. "Random" is a DETERMINISTIC
    * hash: at step t from node u, the successor is the out-neighbor v
    * minimizing (u·1315423911 + v·2654435761 + t·97) mod 1000003 (min
    * v on ties) — reproducible across engines and retries, the same
    * never-random()-at-query-time rule as `analytics_abtest`. Walks
    * stop early at out-degree-0 dead ends.
    *
    * Scale: the trade graph has at most [[TradeEdgeBound]] edges, so
    * the walks run on the driver from every node with an out-edge and
    * join back onto the nation set as a LocalRelation; every nation
    * keeps its step-0 row. The mix runs in exact arithmetic, so an
    * overflow fails as the twin's BIGINT would.
    */
  def graphRandomWalk(spark: SparkSession, sfDir: String): DataFrame = {
    val succ = tradeGraph(spark, sfDir).pairs
      .filter { case (s, d) => s != d }.groupMap(_._1)(_._2)
    def mix(cur: Long, dst: Long, t: Long): Long =
      Math.addExact(Math.addExact(Math.multiplyExact(cur, 1315423911L),
        Math.multiplyExact(dst, 2654435761L)), t * 97L) % 1000003L
    // (step, node) from `cur` on: the least (mix, dst) successor, until
    // step 4 or a dead end
    def walk(cur: Long, t: Long): List[(Long, Long)] =
      if (t > 4) Nil
      else succ.get(cur).fold(List.empty[(Long, Long)]) { ds =>
        val next = ds.minBy(d => (mix(cur, d, t), d))
        (t, next) :: walk(next, t + 1)
      }
    val steps = succ.keys.toSeq.flatMap(start =>
      walk(start, 1).map { case (t, n) => (start, t, n) })
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("start"))
    nodes.select(col("start"), lit(0L).as("step"), col("start").as("node"))
      .unionByName(nodes.join(
        broadcast(longFrame(spark, "start", "step", "node")(steps)), "start"))
      .orderBy("start", "step")
  }

  val graphRandomWalkSql: String = {
    val steps = (1 to 4).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT s.start,
         |         (MIN(struct_pack(
         |            mix := (s.cur * 1315423911 + e.dst * 2654435761 + $t * 97)
         |                     % 1000003,
         |            dst := e.dst))).dst AS cur
         |  FROM s${t - 1} s JOIN edges e ON e.src = s.cur AND e.src <> e.dst
         |  GROUP BY s.start
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), s0 AS MATERIALIZED (
       |  SELECT node AS start, node AS cur FROM nodes
       |), $steps
       |SELECT start, step, cur AS node FROM (
       |  SELECT start, CAST(0 AS BIGINT) AS step, cur FROM s0
       |  UNION ALL SELECT start, 1, cur FROM s1
       |  UNION ALL SELECT start, 2, cur FROM s2
       |  UNION ALL SELECT start, 3, cur FROM s3
       |  UNION ALL SELECT start, 4, cur FROM s4
       |) ORDER BY start, step""".stripMargin
  }

  // ---- minimum spanning tree ------------------------------------------

  /** `graph_mst` — minimum spanning tree of the weighted trade graph
    * (cost = 10⁹ DIV trade count, the SSSP scaling) via Kruskal
    * ([[mst]]) over the fetched edge list: the trade graph has at most
    * [[TradeEdgeBound]] edges, so the tree is built on the driver and
    * handed out as a LocalRelation. Ties break on the canonical
    * endpoints, so the MST is UNIQUE and the gate deterministic; the
    * oracle computes the same unique tree with a one-row-per-step
    * recursive Prim.
    */
  def graphMst(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = tradeGraph(spark, sfDir).weightedTriples
      .map { case (s, d, cnt) => (s, d, 1000000000L / cnt) }
    longFrame(spark, "a", "b", "cost")(mst(edges)).orderBy("a", "b")
  }

  /** The minimum spanning forest of `edges` (src, dst, cost) as
    * (a, b, cost) with a < b: direction is ignored, self-loops dropped
    * and parallel edges collapse to their min cost. Kruskal takes the
    * edges in (cost, a, b) order — the twin's packed
    * `cost·2²⁰ + a·2¹⁰ + b` order wherever that packing fits — and
    * keeps each one that joins two union-find trees. The order is
    * total, so the forest is unique.
    */
  private[graft] def mst(
      edges: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x =>
        val root = find(p)
        parent(x) = root
        root
      case _ => x
    }
    edges.collect { case (s, d, c) if s != d =>
        (math.min(s, d), math.max(s, d)) -> c }
      .groupMapReduce(_._1)(_._2)(math.min)
      .toSeq.map { case ((a, b), c) => (c, a, b) }.sorted
      .flatMap { case (c, a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) None
        else {
          parent(ra) = rb
          Some((a, b, c))
        }
      }
  }

  val graphMstSql: String =
    s"""WITH RECURSIVE $EdgeCtes, wed AS (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |         CAST(MIN(1000000000 // cnt) AS BIGINT) AS cost
       |  FROM counted
       |  WHERE cnt * 550 >= (SELECT SUM(cnt) FROM counted) AND src <> dst
       |  GROUP BY 1, 2
       |), uw AS (
       |  SELECT a, b, cost, cost * 1048576 + a * 1024 + b AS w FROM wed
       |), nn AS (SELECT COUNT(DISTINCT n_nationkey) AS n FROM nation),
       |prim(tn, te, n) AS (
       |  SELECT [CAST(0 AS BIGINT)],
       |         CAST([] AS STRUCT(a BIGINT, b BIGINT, cost BIGINT, w BIGINT)[]),
       |         1
       |  UNION ALL
       |  SELECT list_append(tn, CASE WHEN list_contains(tn, best.a)
       |                              THEN best.b ELSE best.a END),
       |         list_append(te, best), n + 1
       |  FROM prim, (
       |    SELECT min_by(struct_pack(a := u.a, b := u.b,
       |                              cost := u.cost, w := u.w), u.w) AS best
       |    FROM uw u, prim p
       |    WHERE list_contains(p.tn, u.a) <> list_contains(p.tn, u.b)
       |  ) x(best)
       |  WHERE n < (SELECT n FROM nn) AND best IS NOT NULL
       |)
       |SELECT e.a, e.b, e.cost
       |FROM (SELECT unnest(te) AS e FROM prim
       |      WHERE n = (SELECT MAX(n) FROM prim))
       |ORDER BY e.a, e.b""".stripMargin

  // ---- two-hop reach ---------------------------------------------------

  /** `graph_two_hop` — friends-of-friends accounting on the directed
    * trade graph: per nation, the distinct 1-hop out-neighborhood size
    * and the count of nodes at EXACTLY distance 2 (reachable via two
    * edges, not self, not already a direct neighbor) — the audience-
    * expansion / influence-frontier primitive.
    *
    * Spelling: one edge self-join on the middle node, then a distinct
    * + anti-join against the 1-hop set and a per-source count; nodes
    * with no edges report zeros via the left join. At scale the
    * self-join shuffles on the middle-node key and the result stays
    * bounded by the 2-hop closure — the standard FoF shape (the
    * neighbor-overlap operator shares the same first join).
    */
  def graphTwoHop(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val e = tradeEdges(spark, sfDir)
      .where(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val oneHop = e.groupBy("src").agg(countDistinct("dst").as("n_1hop"))
    val twoHop = e.select(col("src"), col("dst").as("mid"))
      .join(e.select(col("src").as("mid"), col("dst").as("far")), "mid")
      .where(col("far") =!= col("src"))
      .select("src", "far").distinct()
      .join(e.select(col("src"), col("dst").as("far")), Seq("src", "far"),
        "left_anti")
      .groupBy("src").agg(count(lit(1)).as("n_2hop"))
    nodes
      .join(oneHop.withColumnRenamed("src", "node"), Seq("node"), "left")
      .join(twoHop.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node").as("nationkey"),
        coalesce(col("n_1hop"), lit(0L)).as("n_1hop"),
        coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
      .orderBy("nationkey")
  }

  val graphTwoHopSql: String =
    s"""WITH $EdgeCtes, e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM edges WHERE src <> dst
       |), one AS (
       |  SELECT src, COUNT(DISTINCT dst) AS n_1hop FROM e GROUP BY src
       |), two AS (
       |  SELECT a.src, COUNT(*) AS n_2hop FROM (
       |    SELECT DISTINCT x.src, y.dst AS far
       |    FROM e x JOIN e y ON x.dst = y.src
       |    WHERE y.dst <> x.src
       |      AND NOT EXISTS (SELECT 1 FROM e d
       |                      WHERE d.src = x.src AND d.dst = y.dst)
       |  ) a GROUP BY a.src
       |)
       |SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
       |       COALESCE(o.n_1hop, 0) AS n_1hop,
       |       COALESCE(t.n_2hop, 0) AS n_2hop
       |FROM nation n
       |LEFT JOIN one o ON o.src = CAST(n.n_nationkey AS BIGINT)
       |LEFT JOIN two t ON t.src = CAST(n.n_nationkey AS BIGINT)
       |ORDER BY nationkey""".stripMargin

  // ---- personalized pagerank ------------------------------------------

  /** `graph_ppr` — PERSONALIZED PageRank from a seed set ({0, 7}):
    * random-walk-with-restart where teleportation returns to the seeds
    * instead of spreading uniformly, the standard relevance/
    * recommendation primitive (nodes far from the seeds decay toward
    * zero — locality the uniform `graph_pagerank` cannot express).
    * Same integer fixed-point doctrine as the uniform operator: ranks
    * in 1e6 scale, 5 rounds, rank' = tele(v) + 0.85·Σ inbound
    * contributions with DIV-floor arithmetic; tele(v) distributes the
    * SAME total teleport mass as the uniform variant (0.15·1e6 per
    * node, i.e. 150000·n) but concentrated on the seeds:
    * tele(seed) = 150000·n DIV |S|, 0 elsewhere. The seed start vector
    * equals tele, the standard PPR initialization.
    *
    * Scale: the trade graph has at most 550 edges (see
    * [[TradeEdgeBound]]), so the rounds run on the driver in
    * [[dampedRankLocal]] with init = base = the teleport vector, and
    * non-endpoint nations keep exactly their teleport mass.
    */
  def graphPpr(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val seeds = Seq(0L, 7L)
    val es = tradeGraph(spark, sfDir).pairs.map { case (s, d) => (s, d, 1L) }
    // seeds split 15% of n·1e6, everyone else 0
    val nTot = nodeIds(nodes, "graph_ppr nations").length.toLong
    val teleOf = (n: Long) =>
      if (seeds.contains(n)) 150000L * nTot / seeds.size else 0L
    val lab = localRankDf(spark, dampedRankLocal(es, teleOf, teleOf, Iters))
    nodes
      .join(broadcast(lab), Seq("node"), "left")
      .select(col("node").as("nationkey"),
        coalesce(col("lrank"),
          when(col("node").isin(seeds: _*),
            lit(150000L * nTot / seeds.size)).otherwise(lit(0L)))
          .as("rank"))
      .orderBy(desc("rank"), col("nationkey"))
  }

  val graphPprSql: String = {
    val rounds = (1 to Iters).map { i =>
      s"""p$i AS (
         |  SELECT t.node,
         |         CAST(t.tele + 850 * COALESCE(c.s, 0) // 1000 AS BIGINT) AS rank
         |  FROM tele t LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
         |    FROM edges e
         |    JOIN p${i - 1} r ON r.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst
         |  ) c ON c.node = t.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $EdgeCtes, deg AS MATERIALIZED (
       |  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
       |), nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), tele AS MATERIALIZED (
       |  SELECT node,
       |         CASE WHEN node IN (0, 7)
       |              THEN CAST(150000 * (SELECT COUNT(*) FROM nodes) // 2 AS BIGINT)
       |              ELSE CAST(0 AS BIGINT) END AS tele
       |  FROM nodes
       |), p0 AS (
       |  SELECT node, tele AS rank FROM tele
       |), $rounds
       |SELECT node AS nationkey, rank FROM p$Iters
       |ORDER BY rank DESC, nationkey""".stripMargin
  }

  // ---- closeness centrality -------------------------------------------

  /** All-pairs min-hop closure (root, node, dist) of the trade graph —
    * the shared state behind closeness / harmonic / eccentricity (one
    * spelling, so the three centralities cannot drift on BFS
    * semantics; previously each carried its own copy of the loop).
    *
    * Scale: the trade graph has at most 550 edges over the nation set
    * (see [[TradeEdgeBound]]), so one [[bfsHops]] per root runs on the
    * driver over the edge list and the roots `ns` (the fetched nation
    * ids, whose count the callers reuse as n) and builds the
    * ≤ |nations|²-row answer as a LocalRelation.
    */
  private def allPairsHops(spark: SparkSession, ns: Array[Long],
      edges: Array[(Long, Long)]): DataFrame =
    longFrame(spark, "root", "node", "dist")(
      ns.sorted.toSeq.flatMap(root => bfsHops(edges, root).toSeq.sorted
        .map { case (nd, d) => (root, nd, d) }))

  /** The nation ids on the driver: the roots of [[allPairsHops]]. */
  private def nationIds(spark: SparkSession, sfDir: String): Array[Long] =
    nodeIds(table(spark, sfDir, "nation").select(col("n_nationkey").as("node")),
      "all-pairs hop closure nodes")

  /** `graph_closeness` — out-closeness centrality of every nation on the
    * directed trade graph: reach count, total hop distance, and the
    * Wasserman–Faust-normalized closeness
    * (r−1)/Σd · (r−1)/(n−1) — the standard form that stays comparable
    * on disconnected graphs (r = nodes reached incl. self).
    *
    * Spelling: one BFS per root over the trade graph ([[allPairsHops]]);
    * the state is the REACHED (root, node, dist) triples only (never
    * the n² matrix of unreached pairs). Exact all-pairs closeness is
    * O(n·m) work by definition; at corpus scale a frontier-expansion
    * loop runs from a sampled landmark set of roots instead
    * (Eppstein–Wang estimation).
    */
  def graphCloseness(spark: SparkSession, sfDir: String): DataFrame = {
    val ns = nationIds(spark, sfDir)
    val n = ns.length
    allPairsHops(spark, ns, tradeGraph(spark, sfDir).pairs).groupBy("root")
      .agg(count(lit(1)).as("n_reached"), sum("dist").as("total_dist"))
      .select(col("root").as("nationkey"), col("n_reached"),
        col("total_dist"),
        when(col("total_dist") > 0,
          (col("n_reached") - 1).cast("double") / col("total_dist") *
            (col("n_reached") - 1).cast("double") / lit((n - 1).toDouble))
          .otherwise(lit(0.0d)).as("closeness"))
      .orderBy("nationkey")
  }

  val graphClosenessSql: String =
    s"""WITH RECURSIVE $EdgeCtes, nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), walk(root, node, dist) AS (
       |  SELECT node AS root, node, CAST(0 AS BIGINT) FROM nodes
       |  UNION
       |  SELECT w.root, e.dst, w.dist + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.dist < 24
       |), best AS (
       |  SELECT root, node, MIN(dist) AS dist FROM walk GROUP BY root, node
       |), agg AS (
       |  SELECT root, COUNT(*) AS n_reached, CAST(SUM(dist) AS BIGINT) AS total_dist
       |  FROM best GROUP BY root
       |)
       |SELECT root AS nationkey, n_reached, total_dist,
       |       CASE WHEN total_dist > 0
       |            THEN CAST(n_reached - 1 AS DOUBLE) / total_dist *
       |                 CAST(n_reached - 1 AS DOUBLE) /
       |                 ((SELECT COUNT(*) FROM nodes) - 1)
       |            ELSE 0.0 END AS closeness
       |FROM agg ORDER BY nationkey""".stripMargin

  // ---- harmonic centrality ---------------------------------------------

  /** `graph_harmonic` — harmonic centrality of every nation on the
    * directed trade graph: Σ_{v≠u} 1/d(u,v), the centrality that stays
    * well-defined on DISCONNECTED graphs (unreached nodes contribute 0
    * instead of poisoning the sum with ∞ — the reason Boldi–Vigna
    * recommend it over closeness). Same multi-source BFS state and
    * round structure as [[graphCloseness]]; only the rollup differs.
    *
    * Determinism: Σ 1/d over doubles is summation-order-dependent, so
    * the sum runs in EXACT INTEGERS — each distance contributes
    * L DIV d with L = 5354228880 = lcm(1..24) (every BFS distance on
    * this graph is ≤ 24, the same bound the closeness oracle's
    * recursion cap relies on, so the division is exact, not just
    * deterministic). The normalized double is one division pair over
    * the exact scaled sum at the very end.
    *
    * Scale: identical contract to closeness — O(n·m) exact by
    * definition, state is reached pairs only, one [[bfsHops]] per root
    * on the driver ([[allPairsHops]]).
    */
  def graphHarmonic(spark: SparkSession, sfDir: String): DataFrame = {
    val L = 5354228880L // lcm(1..24)
    val ns = nationIds(spark, sfDir)
    val n = ns.length
    allPairsHops(spark, ns, tradeGraph(spark, sfDir).pairs).where(col("dist") > 0)
      .groupBy("root")
      .agg(sum(expr(s"${L}L div dist")).cast("long").as("harmonic_sc"),
        count(lit(1)).as("n_reached"))
      .select(col("root").as("nationkey"), col("n_reached"),
        col("harmonic_sc"),
        (col("harmonic_sc").cast("double") / lit(L.toDouble) /
          lit((n - 1).toDouble)).as("harmonic_norm"))
      .orderBy("nationkey")
  }

  val graphHarmonicSql: String =
    s"""WITH RECURSIVE $EdgeCtes, nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), walk(root, node, dist) AS (
       |  SELECT node AS root, node, CAST(0 AS BIGINT) FROM nodes
       |  UNION
       |  SELECT w.root, e.dst, w.dist + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.dist < 24
       |), best AS (
       |  SELECT root, node, MIN(dist) AS dist FROM walk GROUP BY root, node
       |), agg AS (
       |  SELECT root,
       |         CAST(SUM(5354228880 // dist) AS BIGINT) AS harmonic_sc,
       |         COUNT(*) AS n_reached
       |  FROM best WHERE dist > 0 GROUP BY root
       |)
       |SELECT root AS nationkey, n_reached, harmonic_sc,
       |       CAST(harmonic_sc AS DOUBLE) / 5354228880.0 /
       |       ((SELECT COUNT(*) FROM nodes) - 1) AS harmonic_norm
       |FROM agg ORDER BY nationkey""".stripMargin

  // ---- eccentricity / diameter / radius --------------------------------

  /** `graph_eccentricity` — per-node eccentricity on the directed trade
    * graph (the longest shortest path out of each node, over its
    * REACHABLE set — the disconnected-safe reading), plus the graph's
    * diameter and radius and the center/periphery flags they induce:
    * the structural report next to the per-node centralities. Pure
    * integer aggregates over the same multi-source BFS state as
    * [[graphCloseness]]/[[graphHarmonic]] — no fp anywhere.
    *
    * Scale: the BFS contract of its siblings (O(n·m) exact, landmark
    * sampling at corpus scale); diameter/radius are two scalars
    * broadcast back over the O(n) eccentricity frame.
    */
  def graphEccentricity(spark: SparkSession, sfDir: String): DataFrame = {
    val ecc = allPairsHops(spark, nationIds(spark, sfDir),
        tradeGraph(spark, sfDir).pairs).groupBy("root")
      .agg(max("dist").as("ecc"), count(lit(1)).as("n_reached"))
    val bounds = ecc.agg(max("ecc").as("diameter"), min("ecc").as("radius"))
    ecc.crossJoin(broadcast(bounds))
      .select(col("root").as("nationkey"), col("n_reached"), col("ecc"),
        col("diameter"), col("radius"),
        (col("ecc") === col("radius")).as("is_center"),
        (col("ecc") === col("diameter")).as("is_periphery"))
      .orderBy("nationkey")
  }

  val graphEccentricitySql: String =
    s"""WITH RECURSIVE $EdgeCtes, nodes AS MATERIALIZED (
       |  SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
       |), walk(root, node, dist) AS (
       |  SELECT node AS root, node, CAST(0 AS BIGINT) FROM nodes
       |  UNION
       |  SELECT w.root, e.dst, w.dist + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.dist < 24
       |), best AS (
       |  SELECT root, node, MIN(dist) AS dist FROM walk GROUP BY root, node
       |), ecc AS MATERIALIZED (
       |  SELECT root, CAST(MAX(dist) AS BIGINT) AS ecc,
       |         COUNT(*) AS n_reached
       |  FROM best GROUP BY root
       |), b AS MATERIALIZED (
       |  SELECT MAX(ecc) AS diameter, MIN(ecc) AS radius FROM ecc
       |)
       |SELECT root AS nationkey, n_reached, ecc, b.diameter, b.radius,
       |       ecc = b.radius AS is_center,
       |       ecc = b.diameter AS is_periphery
       |FROM ecc, b ORDER BY nationkey""".stripMargin

  // ---- strongly connected components ----------------------------------

  /** `graph_scc` — strongly connected components of the DIRECTED trade
    * graph: every nation labeled with the min nation id of its mutual-
    * reachability class. Trade cycles (A sells to B sells to ... sells
    * back to A) are the directed structure none of the undirected
    * operators (`dedup_clusters`' CC, label propagation) can see.
    *
    * Labels the fetched trade graph's pairs with Tarjan on the driver
    * ([[graft.ops.StronglyConnectedComponents.resolveLocal]]; see its
    * scaladoc for why double min-propagation is WRONG). The oracle restates the DEFINITION, not
    * the algorithm: a recursive-CTE transitive closure,
    * scc_id(v) = min(w : v→*w ∧ w→*v, plus v) — fine at oracle scale,
    * impossible at 100 TB.
    */
  def graphScc(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    graft.ops.StronglyConnectedComponents.resolveLocal(nodes,
      tradeGraph(spark, sfDir).pairs)
      .select(col("node").as("nationkey"), col("scc_id"))
      .orderBy("nationkey")
  }

  val graphSccSql: String =
    s"""WITH RECURSIVE $EdgeCtes, closure AS (
       |  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
       |  UNION
       |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src
       |  WHERE c.a <> e.dst
       |), mutual AS (
       |  SELECT c1.a AS v, c1.b AS w
       |  FROM closure c1 JOIN closure c2 ON c1.a = c2.b AND c1.b = c2.a
       |), mn AS MATERIALIZED (
       |  SELECT v, MIN(w) AS mw FROM mutual GROUP BY v
       |)
       |SELECT CAST(n.n_nationkey AS BIGINT) AS nationkey,
       |       LEAST(CAST(n.n_nationkey AS BIGINT),
       |             COALESCE(mn.mw, CAST(n.n_nationkey AS BIGINT))) AS scc_id
       |FROM nation n LEFT JOIN mn ON mn.v = CAST(n.n_nationkey AS BIGINT)
       |ORDER BY nationkey""".stripMargin

  // ---- bow-tie decomposition -------------------------------------------

  /** `graph_bowtie` — the Broder et al. (2000) bow-tie decomposition of
    * the directed trade graph: the LARGEST strongly connected component
    * is the CORE (ties to the smaller scc id), `in` nodes can reach the
    * core without belonging to it, `out` nodes are reachable FROM the
    * core, and everything else is `other` (tendrils/disconnected) —
    * the canonical macro-structure question for any directed graph
    * (who feeds the trading core, who only consumes from it). IN and
    * OUT are disjoint by construction: a node in both would mutually
    * reach the core and BE core.
    *
    * Composition: Tarjan over the fetched trade graph's pairs
    * ([[graft.ops.StronglyConnectedComponents.tarjanLabels]]) labels
    * every edge endpoint; one bounded fetch of the nation ids gives
    * every other nation its own label, and reachability runs on the SCC
    * CONDENSATION — the distinct (scc, scc) pairs of the trade graph's
    * rows — with [[bfsHops]] on the driver, one BFS per side. The
    * answer is built on the driver as a LocalRelation. The condensation
    * of this graph is bounded (≤ |nations| components,
    * ≤ [[TradeEdgeBound]] edges); the earlier spelling ran two 40-round
    * frontier-BFS loops on the full node set and paid ~40 tiny Spark
    * jobs' fixed overhead for the same answer (5.8 s). The oracle restates the DEFINITION via one transitive
    * closure used four ways — fine at oracle scale, impossible at
    * 100 TB.
    */
  def graphBowtie(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = table(spark, sfDir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val graph = tradeGraph(spark, sfDir)
    val tarjan = graft.ops.StronglyConnectedComponents.tarjanLabels(graph.pairs)
    val ids = nodeIds(nodes, "graph_bowtie nations").distinct.sorted
    val lab = ids.map(n => n -> tarjan.getOrElse(n, n)).toMap
    // condensation: distinct (scc(src), scc(dst)) pairs between
    // labelled nodes, self-loops dropped
    val condensation = graph.pairs.flatMap { case (s, d) =>
      for (a <- lab.get(s); b <- lab.get(d) if a != b) yield (a, b)
    }.distinct
    // core scc: most members, ties to the smaller id
    val coreId = lab.values.groupMapReduce(identity)(_ => 1L)(_ + _)
      .minBy { case (id, n) => (-n, id) }._1
    val fwdScc = bfsHops(condensation, coreId).keySet
    val bwdScc = bfsHops(condensation.map(_.swap), coreId).keySet
    def component(id: Long): String =
      if (id == coreId) "core"
      else if (bwdScc(id)) "in"
      else if (fwdScc(id)) "out"
      else "other"
    spark.createDataFrame(
      ids.toSeq.map(n => Row(n, lab(n), component(lab(n)))).asJava,
      StructType(Seq(StructField("nationkey", LongType, nullable = false),
        StructField("scc_id", LongType, nullable = false),
        StructField("component", StringType, nullable = false))))
      .orderBy("nationkey")
  }

  val graphBowtieSql: String =
    s"""WITH RECURSIVE $EdgeCtes, closure AS (
       |  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
       |  UNION
       |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src
       |  WHERE c.a <> e.dst
       |), mutual AS (
       |  SELECT c1.a AS v, c1.b AS w
       |  FROM closure c1 JOIN closure c2 ON c1.a = c2.b AND c1.b = c2.a
       |), lab AS MATERIALIZED (
       |  SELECT CAST(n.n_nationkey AS BIGINT) AS node,
       |         LEAST(CAST(n.n_nationkey AS BIGINT),
       |               COALESCE(mn.mw, CAST(n.n_nationkey AS BIGINT))) AS scc_id
       |  FROM nation n LEFT JOIN (
       |    SELECT v, MIN(w) AS mw FROM mutual GROUP BY v
       |  ) mn ON mn.v = CAST(n.n_nationkey AS BIGINT)
       |), core AS MATERIALIZED (
       |  SELECT scc_id AS core_id FROM lab
       |  GROUP BY scc_id ORDER BY COUNT(*) DESC, scc_id LIMIT 1
       |), coreset AS MATERIALIZED (
       |  SELECT l.node FROM lab l, core WHERE l.scc_id = core.core_id
       |)
       |SELECT l.node AS nationkey, l.scc_id,
       |       CASE WHEN l.scc_id = core.core_id THEN 'core'
       |            WHEN EXISTS (SELECT 1 FROM closure c JOIN coreset k
       |                         ON c.b = k.node WHERE c.a = l.node)
       |              THEN 'in'
       |            WHEN EXISTS (SELECT 1 FROM closure c JOIN coreset k
       |                         ON c.a = k.node WHERE c.b = l.node)
       |              THEN 'out'
       |            ELSE 'other' END AS component
       |FROM lab l, core
       |ORDER BY nationkey""".stripMargin
}

package graft.ops

import graft.ops.Persist.PersistOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the cluster-resolution step
  * that turns near-duplicate PAIRS into canonical duplicate CLUSTERS
  * (every member labeled with the minimum doc id of its component).
  * Pairwise output alone under-deletes: a~b and b~c without an explicit
  * a~c edge must still land a, b, c in ONE cluster before "keep one per
  * cluster" is sound.
  *
  * Two algorithms, one per side of a bound, with one output contract:
  *   - an edge list of at most [[LocalEdgeThreshold]] pairs is fetched
  *     once and closed with union-find on the driver ([[resolve]]);
  *   - a longer one runs the large-star/small-star algorithm (Kiveris
  *     et al., "Connected Components in MapReduce and Beyond",
  *     SoCC'14), which needs O(log n) rounds whatever the component
  *     diameter ([[resolveStar]]).
  *
  * Only nodes that appear in `pairs` come back — callers union-in
  * singletons if every document needs a label.
  */
object ConnectedComponents {

  /** Driver-local bound: an edge list at or below this count is
    * collected and closed with union-find on the driver (≤ ~8 MB of
    * long pairs) instead of paying the star rounds' per-round fixed job
    * overhead. The count is measured by the fetch, never assumed, and
    * anything larger runs [[resolveStar]].
    */
  val LocalEdgeThreshold = 500000L

  def resolve(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // ONE bounded fetch decides the path AND (when short) delivers the
    // data: it either returns the complete edge list — closed locally,
    // no cache ever built — or proves it exceeds the bound.
    // Both id columns are cast to long HERE so the two paths accept
    // the same input types (the local getLong would ClassCastException
    // on int/string ids the distributed joins happily coerce).
    val fwd = pairs.select(col(aCol).cast("long").as("n"),
      col(bCol).cast("long").as("m"))
    Bounded.rowsAtMost(fwd, LocalEdgeThreshold) match {
      case Some(rows) => resolveLocal(pairs.sparkSession,
        rows.map(r => (r.getLong(0), r.getLong(1))))
      case None => resolveStar(fwd, "n", "m")
    }
  }

  /** Union-find closure of a DRIVER-BOUNDED edge list — union-by-min
    * root (attaching the larger root under the smaller keeps the root
    * equal to the component's minimum id) with path compression, so the
    * label contract is IDENTICAL to [[resolveStar]]'s: every node
    * appearing in the edges, labeled with its component's min id. The
    * result is a LocalRelation (sorted by doc_id), so downstream joins
    * against it broadcast instead of shuffling.
    */
  private def resolveLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[org.apache.spark.sql.Row] =
      parent.keys.toArray.sorted
        .map(n => org.apache.spark.sql.Row(n, find(n))).toSeq.asJava
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** The distributed closure: alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). The star operations re-wire the graph toward its
    * component minima, so the round count is logarithmic in the node
    * count even on adversarial chains, never the component diameter.
    *
    *   large-star(u): every neighbor LARGER than u links to
    *     m = min(Γ(u) ∪ {u});
    *   small-star(u): every neighbor smaller than u, and u itself,
    *     links to the min of those.
    *
    * Each operation is one groupBy(min) + join — no per-node
    * collect_set, so a hot node's neighborhood streams through an
    * aggregate instead of materializing in one task. Fixpoint when the
    * canonical edge set stops changing; the surviving edges are stars
    * (component-min → member). Same output contract as the union-find
    * closure — ConnectedComponentsSpec pins the two equal on random
    * graphs. More than `maxRounds` rounds fails loudly: a split
    * component would make a downstream keep-one-per-cluster
    * under-delete.
    */
  def resolveStar(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 40): DataFrame = {
    def canonical(e: DataFrame): DataFrame = e
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()

    def bidir(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))

    // NO trailing canonical()/distinct here: m ≤ u < v already makes
    // every emitted pair ordered and loop-free, and the composed round
    // ends in smallStar's canonical() which dedups once for both ops.
    // Deduping between the stars too was one extra full exchange per
    // round for rows smallStar's min-aggregate is insensitive to —
    // round wall-clock on small graphs is job-count-bound, not
    // data-bound.
    def largeStar(e: DataFrame): DataFrame = {
      val b = bidir(e)
      val m = b.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // (v, m) for v > u; m ≤ u < v so the pair is already ordered
      b.join(m, "u").where(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val b = bidir(e)
      val small = b.where(col("v") < col("u"))
      val m = small.groupBy("u").agg(min(col("v")).as("mv"))
      val linkNbrs = small.join(m, "u")
        .select(col("mv").as("u"), col("v"))
      val linkSelf = m.select(col("mv").as("u"), col("u").as("v"))
      canonical(linkNbrs.unionByName(linkSelf))
    }

    // persist the raw pairs BEFORE fanning out: edges reads them once and
    // the nodes union reads them twice more (union branches get no
    // common-subexpression elimination), so an unpersisted `pairs` plan —
    // here the entire upstream minhash pipeline — would execute three
    // times
    val p0 = pairs.select(col(aCol).as("u"), col(bCol).as("v")).persistIntermediate
    var edges = canonical(p0).truncateLineage(true)
    // node universe from the RAW pairs, not the canonical edges:
    // canonical() drops self-loops, and a node appearing only as (x,x)
    // must still come back labeled x — union-find keeps it, and the two
    // closures share one output contract
    val nodes = p0.select(col("u").as("n"))
      .unionByName(p0.select(col("v").as("n")))
      .distinct()
      .truncateLineage(true)
    // both consumers are EAGER checkpoints, so p0's persisted rows are
    // dead the moment they exist — free them now (mode-aware helper)
    Persist.release(p0)

    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // LAZY local checkpoint: the convergence aggregate below is the
      // round's materializing action, so the checkpoint piggybacks on
      // that job instead of costing an eager job of its own (2 jobs →
      // 1 per round). This is safe ONLY because the test reads `next`
      // through a groupBy — its shuffle-map stage computes EVERY
      // partition of `next`, so the lazy checkpoint is complete before
      // the next round (or the final join) reads it. A test that could
      // short-circuit on a narrow plan (e.g. where+isEmpty with no
      // exchange) would leave a partial checkpoint — keep the barrier.
      // truncation-purpose, not reuse (see Persist's scope note)
      val next = smallStar(largeStar(edges)).truncateLineage(false)
      // Fixpoint test in ONE aggregate job, not count+count+exceptAll
      // (the except alone was a wide shuffle over both edge sets every
      // round): a canonical edge set is a fixpoint of small∘large star
      // IFF it is a star forest rooted at component minima, i.e. no
      // node has a smaller neighbor AND degree > 1. (⇐: centers have
      // only larger neighbors so large-star keeps every (c,v); a leaf's
      // only smaller neighbor is its center so small-star re-emits
      // (c,leaf) verbatim. ⇒: a node with a smaller neighbor and any
      // second neighbor is re-wired by whichever star op sees the
      // mixed/multi neighborhood, so the set changes.) Violations are
      // one groupBy over the bidirectional edges — O(E) with map-side
      // combine, no second edge-set scan.
      converged = bidir(next)
        .groupBy("u").agg(min(col("v")).as("mn"), count(lit(1)).as("deg"))
        .where(col("mn") < col("u") && col("deg") > 1)
        .isEmpty
      // the replaced round's checkpoint blocks are dead once `next` is
      // materialized — drop them, or checkpoint storage grows with rounds
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(edges)
      edges = next
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"star algorithm did not converge in $maxRounds rounds")
    // surviving edges are (component-min, member) stars; minima label
    // themselves
    nodes.join(edges.select(col("v").as("n"), col("u").as("c")), Seq("n"), "left")
      .select(col("n").as("doc_id"), coalesce(col("c"), col("n")).as("cluster"))
  }
}

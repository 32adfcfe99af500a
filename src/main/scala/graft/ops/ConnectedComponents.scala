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
  * Spelling: iterative min-label propagation. Labels start as each
  * node's own id; each round every node takes the min of its own label
  * and its neighbors' labels; fixpoint when nothing changes. Each round
  * is one join + one aggregate — fully distributed, nothing driver-side
  * except the single converged? count per round. Rounds needed =
  * component DIAMETER, which for near-dup graphs is small (duplicates
  * of one document form near-cliques). For adversarial long-chain
  * graphs at 100 TB the upgrade is the large-star/small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — same label contract, O(log n) rounds; the propagation
  * loop here is the straightforward spelling of that contract.
  *
  * Only nodes that appear in `pairs` come back — callers union-in
  * singletons if every document needs a label.
  */
object ConnectedComponents {

  /** Driver-local fast-path bound: an edge list at or below this count
    * is collected and closed with union-find on the driver (≤ ~8 MB of
    * long pairs) instead of paying the iterative loop's per-round fixed
    * job overhead — the bounded-model-artifact doctrine of the bow-tie
    * condensation closure, here made ADAPTIVE: the count is measured,
    * never assumed, and anything larger runs the distributed loop
    * unchanged. On the sandbox's 2 000-node DBSCAN core graphs the
    * distributed loop was 7–8 s of wall-clock (≈1 s × rounds of tiny
    * jobs) for a graph union-find closes in milliseconds.
    */
  val LocalEdgeThreshold = 500000L

  def resolve(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    // ONE bounded fetch decides the path AND (when short) delivers the
    // data: it either returns the complete edge list — closed locally,
    // no cache ever built — or proves it exceeds the bound.
    // Both id columns are cast to long HERE so the two paths accept
    // the same input types (the local getLong would ClassCastException
    // on int/string ids the distributed join path happily coerced).
    val fwd0 = pairs.select(col(aCol).cast("long").as("n"),
      col(bCol).cast("long").as("m"))
    val grabbed = Bounded.rowsAtMost(fwd0, localThreshold)
    if (grabbed.isDefined) {
      return resolveLocal(pairs.sparkSession,
        grabbed.get.map(r => (r.getLong(0), r.getLong(1))))
    }
    // persist the forward edges BEFORE the self-union: union branches get
    // no common-subexpression elimination, so an unpersisted `pairs` plan
    // (here: the entire upstream near-dup pipeline) would execute twice
    // to fill the edges checkpoint
    val fwd = fwd0.persistIntermediate
    val edges = fwd
      .unionByName(fwd.select(col("m").as("n"), col("n").as("m")))
      .distinct()
      .persistIntermediate

    // CHECKPOINT each iteration, don't just cache: an iterative
    // DataFrame loop otherwise nests every prior round's plan inside
    // the next one — the logical plan grows exponentially with rounds
    // (a 12-hop chain OOMed on plan STRINGIFICATION alone before any
    // data moved). Persist.truncate materializes the round's rows and
    // truncates lineage — localCheckpoint here, reliable checkpoint()
    // for executor-loss recovery once a dynamic-allocation deployment
    // points spark.checkpoint.dir at durable storage (Persist.resolve).
    var labels = edges.select(col("n")).distinct()
      .withColumn("label", col("n"))
      .truncateLineage(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // min over each node's neighborhood labels, then min with its own
      val neighborMin = edges
        .join(labels.select(col("n").as("m"), col("label").as("mLabel")), "m")
        .groupBy("n").agg(min(col("mLabel")).as("nbrMin"))
      // carry the per-node `changed` bit IN the round's checkpoint:
      // the convergence test is then a scan of the node-sized
      // checkpointed RDD instead of a whole extra next⋈labels join job
      // per round (the old spelling's third job)
      // LAZY checkpoint + one ungrouped aggregate, not eager + isEmpty:
      // the count-if runs a partial aggregate on EVERY partition of
      // `next`, so it both fills the checkpoint and answers convergence
      // in a single job (the resolveStar doctrine — an isEmpty would
      // short-circuit and leave a partial checkpoint; count-if cannot).
      // count-if (not max(changed)): it is 0, never NULL, on an empty
      // label set.
      val next = labels.join(neighborMin, Seq("n"), "left")
        .select(col("n"),
          least(col("label"), coalesce(col("nbrMin"), col("label"))).as("label"),
          (coalesce(col("nbrMin"), col("label")) < col("label")).as("changed"))
        // truncation-purpose, not reuse (Persist's scope note): a
        // cached frame would nest every round's plan
        .truncateLineage(false)
      converged = next
        .agg(count(when(col("changed"), lit(1))).as("c"))
        .head.getLong(0) == 0L
      // the replaced round's checkpoint blocks are dead once `next` is
      // materialized and the convergence check has run — drop them, or
      // checkpoint storage grows linearly with rounds (diameter)
      org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(labels)
      labels = next
      it += 1
    }
    // free both reuse frames explicitly through the mode-aware helper
    // (Bridge's checkpoint-block path alone would silently no-op under
    // cache mode) — the returned plan references only the final labels
    // checkpoint, never edges/fwd
    Persist.release(edges)
    Persist.release(fwd)
    // a silently partial labeling is WORSE than failing: a component
    // wider than maxIters hops would come back split, and a downstream
    // keep-one-per-cluster would under-delete — the bug this operator
    // exists to prevent. Callers with adversarial diameters raise
    // maxIters (or switch to the cited large-star/small-star).
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIters rounds — " +
        "component diameter exceeds maxIters")
    labels.select(col("n").as("doc_id"), col("label").as("cluster"))
  }

  /** Union-find closure of a DRIVER-BOUNDED edge list — union-by-min
    * root (attaching the larger root under the smaller keeps the root
    * equal to the component's minimum id) with path compression, so the
    * label contract is IDENTICAL to the distributed loop's: every node
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

  /** The O(log n)-round spelling: alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Label-propagation needs DIAMETER rounds; the star
    * operations re-wire the graph toward its component minima so round
    * count is logarithmic even on adversarial chains — the spelling
    * you'd run when components can be long paths, not near-cliques.
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
    * (component-min → member). Same output contract as `resolve` —
    * ConnectedComponentsSpec pins the two equal on random graphs.
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
    // times (the `resolve` fwd-cache doctrine)
    val p0 = pairs.select(col(aCol).as("u"), col(bCol).as("v")).persistIntermediate
    var edges = canonical(p0).truncateLineage(true)
    // node universe from the RAW pairs, not the canonical edges:
    // canonical() drops self-loops, and a node appearing only as (x,x)
    // must still come back labeled x — `resolve` keeps it, and the two
    // spellings share one output contract
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
      // see resolve(): free the replaced round's checkpoint blocks
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

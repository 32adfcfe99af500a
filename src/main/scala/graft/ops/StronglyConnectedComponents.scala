package graft.ops

import graft.ops.Persist.PersistOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Strongly connected components of a DIRECTED edge list — every node
  * labeled with the minimum node id of its SCC. The directed sibling of
  * [[ConnectedComponents]]: mutual reachability, not mere connectivity,
  * which matters for cycle detection in dependency/flow graphs (trade
  * loops, retraction cycles, link farms).
  *
  * Naive min-label propagation in BOTH directions is famously WRONG for
  * SCC: forward-min and backward-min labels can coincide for nodes in
  * different components (0→3, 3→1, 0→4, 4→1 gives nodes 3 and 4 the
  * same label pair without any cycle). The correct distributed spelling
  * is the FB/coloring family (Orzan's coloring; Slota et al.'s
  * Multistep): repeatedly
  *
  *   1. COLOR: propagate min node id FORWARD to fixpoint over the
  *      still-unassigned subgraph — c(v) = min id that reaches v. Each
  *      color class is rooted at its own minimum, which is a member of
  *      its SCC by construction.
  *   2. CONTAIN: walk BACKWARD from each color root r, restricted to
  *      edges whose endpoints share the color — the nodes that reach r
  *      inside color class r are exactly SCC(r) (they reach r, and r
  *      reaches them by step 1).
  *   3. PEEL: emit those SCCs (scc_id = root = min member id), remove
  *      them, repeat on the remainder.
  *
  * Every step is joins + aggregates over (node)- or (edge)-sized
  * DataFrames — nothing is collected to the driver except one O(1)
  * convergence count per round, and every round truncates lineage via
  * [[Persist.truncate]] (the ConnectedComponents doctrine —
  * localCheckpoint on static executors, reliable checkpoint() when
  * dynamic allocation is on and `spark.checkpoint.dir` points at
  * durable storage). Inner rounds
  * are bounded by subgraph diameter; outer rounds by the number of
  * peeling levels — each round extracts EVERY current color root's SCC,
  * so chains of SCCs peel from all minima at once. Worst case (one
  * directed path of singleton SCCs ordered against the ids) is O(n)
  * outer rounds; the Multistep mitigation (trim trivial SCCs first —
  * nodes with in- or out-degree 0 inside the remainder are singleton
  * SCCs) is applied before every color phase, which collapses exactly
  * that adversarial case to degree bookkeeping.
  */
object StronglyConnectedComponents {

  /** Driver-local fast-path bound, the [[ConnectedComponents]]
    * doctrine applied to SCC: a deduped edge list at or below this
    * count is collected and resolved with iterative Tarjan on the
    * driver — one linear pass instead of the FB-coloring loop's
    * per-round fixed job overhead (measured ~4–5 s of tiny jobs on the
    * ≤625-edge nation trade graph). The bound is MEASURED via
    * [[Bounded.rowsAtMost]], never assumed; larger graphs run the
    * distributed peeling loop unchanged. Only edge-endpoint labels are
    * computed locally — isolated nodes keep `scc_id = node` through a
    * left join, so the node set itself is never collected.
    */
  val LocalEdgeThreshold = 500000L

  /** @param nodes one column `node` (long); singletons allowed
    * @param edges columns `src`, `dst` (long), directed
    * @return (`node`, `scc_id`) with scc_id = min member id of the SCC
    */
  def resolve(nodes: DataFrame, edges: DataFrame,
      maxOuter: Int = 40, maxInner: Int = 50,
      localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    val spark = nodes.sparkSession
    // ONE bounded fetch of the deduped edges; a complete read means we
    // already hold the edge list and can close it locally (no cache —
    // the distributed loop re-derives its per-round edge set from
    // `edges` anyway). Long casts: the [[ConnectedComponents]]
    // fast-path contract — both paths accept whatever id types the
    // distributed joins coerce.
    val grabbed = Bounded.rowsAtMost(
      edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .where(col("src") =!= col("dst")).distinct(),
      localThreshold)
    if (grabbed.isDefined)
      return resolveLocal(nodes, grabbed.get.map(r => (r.getLong(0), r.getLong(1))))
    var remaining = nodes.select(col("node")).distinct().truncateLineage(true)
    var out = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("scc_id",
          org.apache.spark.sql.types.LongType))))
    var outer = 0
    var nRemaining = remaining.count()
    while (nRemaining > 0 && outer < maxOuter) {
      val e = edges.select(col("src"), col("dst"))
        .join(remaining.select(col("node").as("src")), "src")
        .join(remaining.select(col("node").as("dst")), "dst")
        .where(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
        .truncateLineage(true)

      // TRIM: nodes with no in-edges or no out-edges in the remainder
      // can be on no cycle — each is its own SCC. Peeling them here
      // (repeat until the color phase, one degree-check per outer
      // round) is the Multistep guard that keeps DAG-shaped regions
      // from costing one color phase per node.
      val hasIn = e.select(col("dst").as("node")).distinct()
      val hasOut = e.select(col("src").as("node")).distinct()
      val nonTrivial = hasIn.join(hasOut, "node").truncateLineage(true)
      val trivial = remaining.join(nonTrivial, Seq("node"), "left_anti")
        .select(col("node"), col("node").as("scc_id"))
        .truncateLineage(true)
      out = out.unionByName(trivial).truncateLineage(true)
      remaining = nonTrivial
      nRemaining = remaining.count()
      if (nRemaining > 0) {
        val e2 = e
          .join(remaining.select(col("node").as("src")), "src")
          .join(remaining.select(col("node").as("dst")), "dst")
          .select("src", "dst")
          .truncateLineage(true)

        // COLOR: forward min-id propagation to fixpoint
        var colors = remaining.withColumn("color", col("node"))
          .truncateLineage(true)
        var converged = false
        var it = 0
        while (!converged && it < maxInner) {
          val inMin = e2
            .join(colors.select(col("node").as("src"),
              col("color").as("srcColor")), "src")
            .groupBy(col("dst").as("node"))
            .agg(min(col("srcColor")).as("nbrMin"))
          val next = colors.join(inMin, Seq("node"), "left")
            .select(col("node"),
              least(col("color"), coalesce(col("nbrMin"), col("color")))
                .as("color"),
              (coalesce(col("nbrMin"), col("color")) < col("color"))
                .as("changed"))
            // truncation-purpose, not reuse (Persist.truncate)
            .truncateLineage(false)
          converged = next
            .agg(count(when(col("changed"), lit(1))).as("c"))
            .head.getLong(0) == 0L
          Bridge.unpersistLocalCheckpoint(colors)
          colors = next.select("node", "color")
          it += 1
        }
        if (!converged) throw new IllegalStateException(
          s"SCC color phase did not converge in $maxInner rounds")

        // CONTAIN: backward reachability to the color root, inside the
        // color class only
        var reached = colors.where(col("color") === col("node"))
          .select("node", "color").truncateLineage(true)
        converged = false
        it = 0
        while (!converged && it < maxInner) {
          val add = e2
            .join(reached.select(col("node").as("dst"),
              col("color").as("rColor")), "dst")
            .select(col("src").as("node"), col("rColor"))
            .join(colors, Seq("node"))
            .where(col("color") === col("rColor"))
            .select("node", "color")
            .distinct()
            .join(reached.select("node"), Seq("node"), "left_anti")
            // in-loop: Persist.truncate, not Persist.intermediate — a
            // cached per-round frame would pin one CacheManager entry
            // per iteration for the loop's life (and never truncate)
            .truncateLineage(false)
          val nAdd = add.count()
          if (nAdd == 0L) converged = true
          else {
            // EAGER checkpoint before dropping the old frontier: a lazy
            // one would still reference the unpersisted blocks when
            // first materialized
            val next = reached.unionByName(add).truncateLineage(true)
            Bridge.unpersistLocalCheckpoint(reached)
            reached = next
          }
          it += 1
        }
        if (!converged) throw new IllegalStateException(
          s"SCC contain phase did not converge in $maxInner rounds")

        out = out.unionByName(
          reached.select(col("node"), col("color").as("scc_id")))
          .truncateLineage(true)
        remaining = remaining
          .join(reached.select("node"), Seq("node"), "left_anti")
          .truncateLineage(true)
        nRemaining = remaining.count()
      }
      outer += 1
    }
    if (nRemaining > 0) throw new IllegalStateException(
      s"SCC did not converge in $maxOuter peeling rounds")
    out
  }

  /** [[resolve]]'s contract over a directed edge list already on the
    * driver: [[tarjanLabels]] over its distinct pairs, self-loops
    * dropped, joined back onto `nodes`, so a node on no edge keeps
    * `scc_id = node`. Starts no job; the node set is never collected.
    */
  def resolveLocal(nodes: DataFrame, edges: Array[(Long, Long)]): DataFrame = {
    val lab = tarjanLabels(edges.filter { case (s, d) => s != d }.distinct)
    import scala.jdk.CollectionConverters._
    val labDf = nodes.sparkSession.createDataFrame(
      lab.toArray.sortBy(_._1)
        .map { case (n, s) => org.apache.spark.sql.Row(n, s) }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("lab_scc",
          org.apache.spark.sql.types.LongType, nullable = false))))
    nodes.select(col("node")).distinct()
      .join(labDf, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("lab_scc"), col("node")).as("scc_id"))
  }

  /** Iterative Tarjan over a DRIVER-BOUNDED edge list: (node → scc_id)
    * for every edge endpoint, scc_id = MIN member id (computed while
    * popping the component — Tarjan's root is the DFS root, not the
    * minimum, so the label is derived, matching the distributed
    * contract exactly). Explicit frame stack, no recursion — the edge
    * bound caps depth but a half-million-node path would overflow the
    * JVM stack recursively.
    */
  private[graft] def tarjanLabels(
      edges: Array[(Long, Long)]): scala.collection.mutable.Map[Long, Long] = {
    import scala.collection.mutable
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    val nodes = mutable.LinkedHashSet.empty[Long]
    for ((s, d) <- edges) {
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d
      nodes += s
      nodes += d
    }
    val index = mutable.Map.empty[Long, Int]
    val lowlink = mutable.Map.empty[Long, Int]
    val onStack = mutable.Set.empty[Long]
    val stack = mutable.ArrayBuffer.empty[Long]
    val labels = mutable.Map.empty[Long, Long]
    var counter = 0
    val empty = mutable.ArrayBuffer.empty[Long]
    for (root <- nodes if !index.contains(root)) {
      // frame = (node, next child offset)
      val frames = mutable.ArrayBuffer[(Long, Int)]((root, 0))
      while (frames.nonEmpty) {
        val (v, ci) = frames.remove(frames.length - 1)
        if (ci == 0) {
          index(v) = counter; lowlink(v) = counter; counter += 1
          stack += v; onStack += v
        }
        val kids = adj.getOrElse(v, empty)
        var i = ci
        var descended = false
        while (i < kids.length && !descended) {
          val w = kids(i)
          if (!index.contains(w)) {
            frames += ((v, i + 1))
            frames += ((w, 0))
            descended = true
          } else {
            if (onStack(w)) lowlink(v) = math.min(lowlink(v), index(w))
            i += 1
          }
        }
        if (!descended) {
          if (lowlink(v) == index(v)) {
            // pop the SCC, label with its min id
            var minId = Long.MaxValue
            val members = mutable.ArrayBuffer.empty[Long]
            var w = 0L
            while ({ w = stack.remove(stack.length - 1); onStack -= w
              members += w; if (w < minId) minId = w; w != v }) ()
            for (m <- members) labels(m) = minId
          }
          if (frames.nonEmpty) {
            val (parent, _) = frames(frames.length - 1)
            lowlink(parent) = math.min(lowlink(parent), lowlink(v))
          }
        }
      }
    }
    labels
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED edge list — every node
  * labeled with the minimum node id of its SCC. The directed sibling of
  * [[ConnectedComponents]]: mutual reachability, not mere connectivity,
  * which matters for cycle detection in dependency/flow graphs (trade
  * loops, retraction cycles, link farms).
  *
  * Naive min-label propagation in BOTH directions is famously WRONG for
  * SCC: forward-min and backward-min labels can coincide for nodes in
  * different components (0→3, 3→1, 0→4, 4→1 gives nodes 3 and 4 the
  * same label pair without any cycle). Its callers hold the edge list
  * on the driver (the trade graph has at most 550 edges), so the labels
  * come from one iterative Tarjan pass ([[tarjanLabels]]), each
  * component named by its minimum member after it is popped.
  */
object StronglyConnectedComponents {

  /** SCC labels over a directed edge list already on the driver:
    * [[tarjanLabels]] over its distinct pairs, self-loops dropped,
    * joined back onto `nodes` (one column `node`, long), so a node on
    * no edge keeps `scc_id = node`. Returns (`node`, `scc_id`). Starts
    * no job; the node set is never collected.
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
    * minimum, so the label is derived). Explicit frame stack, no
    * recursion — a long directed path would overflow the JVM stack
    * recursively.
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

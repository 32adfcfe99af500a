package graft

import graft.TestSpark.withJobs
import org.scalatest.funsuite.AnyFunSuite

/** Pins how many Spark jobs each query over a frame that is small by
  * construction starts while its DataFrame is BUILT (before any action)
  * at sf0.001. These queries use plain windows (TwoPassWindow's size
  * rule) or a driver-side path, so a build runs only what the query
  * fetches or persists on purpose:
  *   - 0 where nothing is;
  *   - one job per shuffle below a lazily persisted frame (survival,
  *     autocorr, var, posthoc_pairs, mann_kendall): Spark plans the
  *     checkpointed RDD at once, and adaptive execution materializes
  *     each exchange under it as its own job;
  *   - the shuffles plus one result job for a bounded fetch to the
  *     driver (kendall_tau, theil_sen, markov_stationary);
  *   - 7 for the trade-graph fetch (the 4-way lineitem join's shuffles
  *     and the result job), which is all a graph query whose rounds
  *     run on the fetched rows starts; graph_betweenness,
  *     graph_bowtie, graph_ppr, graph_closeness, graph_harmonic and
  *     graph_eccentricity add one job for the fetch of the nation ids
  *     (the pivot set; the nations Tarjan's labels cover; the node
  *     count and the all-pairs roots).
  * A rise means a range shuffle, checkpoint or collect crept back in
  * ahead of planning.
  *
  * Each query is built once first, so session memos (the learned BPE
  * model) are warm and the count is the query's own.
  */
class BuildJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val expected = Seq(
    "analytics_cumulative_distinct" -> 0,
    "analytics_survival" -> 2,
    "analytics_stl_decompose" -> 0,
    "analytics_autocorr" -> 2,
    "analytics_var" -> 2,
    "analytics_changepoint" -> 0,
    "olap_quantile_sketch" -> 0,
    "text_zipf_fit" -> 0,
    "text_vocab_encode" -> 0,
    "text_bpe_encode" -> 0,
    "text_bpe_pack" -> 0,
    "text_bpe_fertility" -> 0,
    "analytics_markov_stationary" -> 3,
    "analytics_kendall_tau" -> 2,
    "analytics_theil_sen" -> 2,
    "analytics_posthoc_pairs" -> 1,
    "analytics_mann_kendall" -> 1,
    "graph_bfs" -> 7,
    "graph_sssp_weighted" -> 7,
    "graph_ktruss" -> 7,
    "graph_random_walk" -> 7,
    "graph_mst" -> 7,
    "graph_rich_club" -> 7,
    "graph_scc" -> 7,
    "graph_bowtie" -> 8,
    "graph_pagerank" -> 7,
    "graph_betweenness" -> 8,
    "graph_label_propagation" -> 7,
    "graph_kcore" -> 7,
    "graph_coreness" -> 7,
    "graph_neighbor_overlap" -> 7,
    "graph_resource_alloc" -> 7,
    "graph_adamic_adar" -> 7,
    "graph_ppr" -> 8,
    "graph_closeness" -> 8,
    "graph_harmonic" -> 8,
    "graph_eccentricity" -> 8)

  for ((name, jobs) <- expected)
    test(s"$name starts its pinned job count while building") {
      val run = SparkEntry.queries(name)
      run(spark, TestSpark.Sf0001)
      val (_, got) = withJobs(run(spark, TestSpark.Sf0001))
      assert(got == jobs, s"$name started $got jobs while building")
    }
}

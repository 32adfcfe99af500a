package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.queries.GraphQueries

/** Round-15 operator pins.
  *
  * 1. The r14 capHubs persistence doctrine now covers EVERY per-query
  *    persist site: operator intermediates use lazy
  *    `localCheckpoint(false)` (blocks RDD-owned, freed by the
  *    ContextCleaner when the query's frames drop), never `cache()`
  *    (CacheManager-owned until an explicit `clearCache` — the r13
  *    leak class: a long-lived session running `sim_*`/`dedup_*`
  *    repeatedly accumulated one cached frame per invocation). One
  *    representative gated query per migrated family must leave the
  *    session CacheManager empty, the trade-graph family included (its
  *    edges are a driver-side LocalRelation). Sanctioned exception,
  *    since r20: the HOT RE-SCAN tier
  *    ([[graft.ops.Persist.intermediateHot]]): per-site,
  *    measurement-backed columnar `cache()` whose hygiene contract is
  *    "bounded per query, freed by clearCache", pinned below.
  * 2. SkewJoin.hotKeys must free its histogram checkpoint blocks on
  *    exit (its only persistence is function-local — the one operator
  *    whose frame never escapes, so leaving blocks to the
  *    ContextCleaner would be a pure leak of one histogram per call).
  */
class Round15OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // one representative gated query per family whose persist sites moved
  // from cache() to lazy localCheckpoint this round
  private val familyReps = Seq(
    "sim (IVF/bucketed DBSCAN)" -> "sim_dbscan_bucketed",
    "sim (exact pairwise)" -> "dedup_embedding_cosine",
    "text" -> "text_tfidf",
    "behavior analytics" -> "analytics_basket_lift",
    "stat analytics" -> "analytics_churn",
    "sketch analytics" -> "analytics_sliding_hll",
  )

  for ((family, name) <- familyReps)
    test(s"$name leaves the session CacheManager empty — $family") {
      spark.catalog.clearCache()
      val rows = SparkEntry.queries(name)(spark, TestSpark.Sf0001).collect()
      assert(rows.nonEmpty, s"$name returned no rows at sf0.001")
      assert(Bridge.cacheManagerIsEmpty(spark),
        s"$name registered frames in the CacheManager — operator " +
          "intermediates must persist via lazy localCheckpoint " +
          "(ContextCleaner-owned), not cache() (the r13 leak class)")
    }

  // r20 hot-rescan tier: sites where the columnar cache() spelling
  // MEASURED faster (Persist.intermediateHot scaladoc) own CacheManager
  // entries by design. The hygiene contract for those is not "never
  // registered" but "bounded per query and freed by clearCache" — the
  // discipline Bench/Verify already run. corpus_curate (kept frame) is
  // the curation rep; dedup_ngram_jaccard covers the Dedup bitmap tier;
  // dedup_minhash_lsh covers MinHashDedup's one-shot band frame (flipped
  // in r20 batch 2) and dedup_clusters the connected-components path
  // over those same hot band candidates.
  // r21 (advice): one representative per hot-flipped family that the
  // r20 list missed — sim_sparse_cosine (TextQueries kept frame),
  // dedup_fuzzy_edit (quality-flag join), dedup_simhash /
  // multimodal_phash_dedup (SimHashDedup signature frame). Library
  // callers of these operators own the same clearCache obligation the
  // Persist scaladoc states.
  for (name <- Seq("corpus_curate", "dedup_ngram_jaccard",
      "dedup_minhash_lsh", "dedup_clusters", "sim_sparse_cosine",
      "dedup_fuzzy_edit", "dedup_simhash", "multimodal_phash_dedup"))
    test(s"$name hot frames are CacheManager entries freed by clearCache") {
      spark.catalog.clearCache()
      val rows = SparkEntry.queries(name)(spark, TestSpark.Sf0001).collect()
      assert(rows.nonEmpty, s"$name returned no rows at sf0.001")
      assert(!Bridge.cacheManagerIsEmpty(spark),
        s"$name must persist its hot re-scan frames through the " +
          "CacheManager (Persist.intermediateHot) — an empty manager " +
          "means the hot tier silently stopped caching")
      spark.catalog.clearCache()
      assert(Bridge.cacheManagerIsEmpty(spark),
        s"clearCache must free every frame $name registered")
    }

  test("a trade-graph query leaves the CacheManager empty") {
    spark.catalog.clearCache()
    val rows = SparkEntry.queries("graph_clustering_coeff")(
      spark, TestSpark.Sf0001).collect()
    assert(rows.nonEmpty)
    assert(Bridge.cacheManagerIsEmpty(spark),
      "graph_clustering_coeff registered CacheManager frames")
    // the edges are the fetched rows themselves, not a plan over the
    // tables: re-scanning them runs nothing, so nothing is pinned
    val leaves = GraphQueries.tradeEdgesWeighted(spark, TestSpark.Sf0001)
      .queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.map(_.getClass.getSimpleName) == Seq("LocalRelation"),
      s"trade edges are not one LocalRelation: $leaves")
  }

  private def seededBidir(seed: Int, n: Int, m: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val und = (0 until m)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("u", "v")
  }

  test("betweenness rescale: exactly unbiased over the full pivot-subset space") {
    import spark.implicits._
    // n = 6, K = 3: every pair {s,t} lies in C(4,1) = 4 of the C(6,3)
    // = 20 subsets — inclusion probability 4/20 = C(3,2)/C(6,2), so the
    // MEAN over ALL subsets of the C(n,2)/C(K,2)-rescaled estimate
    // equals the full run EXACTLY (Horvitz–Thompson, no tolerance
    // needed). The only slack is the one floor-DIV per draw per node:
    // sum-over-20-draws sits in (20·full − 20, 20·full].
    val n = 6
    val bidir = seededBidir(13, n, 12)
    val nodes = (0L until n.toLong).toDF("node")
    val full = GraphQueries.betweenness(nodes, bidir, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val subsets = (0L until n.toLong).combinations(3).toSeq
    assert(subsets.size == 20)
    val sums = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for (sub <- subsets) {
      GraphQueries.betweenness(nodes, bidir, 10,
          sources = sub.toDF("node"), rescale = true)
        .collect().foreach { r =>
          sums(r.getLong(0)) = sums(r.getLong(0)) + r.getLong(1)
        }
    }
    for (v <- 0L until n.toLong) {
      val lo = 20L * full(v) - 20L
      assert(sums(v) > lo && sums(v) <= 20L * full(v),
        s"node $v: Σ rescaled over all 20 subsets = ${sums(v)}, " +
          s"full = ${full(v)} — estimator is biased")
    }
  }

  test("betweenness rescale: preserves the sampled ranking and both paths agree") {
    import spark.implicits._
    val n = 20
    val bidir = seededBidir(7, n, 60)
    val nodes = (0L until n.toLong).toDF("node")
    val pivots = Seq(0L, 2L, 3L, 5L, 8L, 9L, 11L, 14L, 15L, 17L, 18L, 19L)
      .toDF("node")
    val raw = GraphQueries.betweenness(nodes, bidir, 10, sources = pivots)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scaled = GraphQueries.betweenness(nodes, bidir, 10,
        sources = pivots, rescale = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rescale is a monotone constant-factor floor-multiply: it may
    // merge near-ties but can NEVER reorder the sampled estimator
    for (u <- 0L until n.toLong; v <- 0L until n.toLong) {
      if (raw(u) < raw(v))
        assert(scaled(u) <= scaled(v), s"rescale reordered $u vs $v")
      if (raw(u) == raw(v))
        assert(scaled(u) == scaled(v), s"rescale split the tie $u vs $v")
    }
    // magnitudes actually moved (K < n ⇒ factor > 1 on nonzero nodes)
    assert((0L until n.toLong).exists(v => scaled(v) > raw(v)))
    // the distributed loop applies the identical factor
    val distScaled = GraphQueries.betweenness(nodes, bidir, 10,
        localBound = 0, sources = pivots, rescale = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distScaled == scaled,
      "local and distributed rescaled runs diverged")
    // sources = nodes (K = n): rescale is the identity — the factor
    // C(n,2)/C(K,2) is 1 and the full run comes back untouched
    val idFull = GraphQueries.betweenness(nodes, bidir, 10,
        sources = nodes, rescale = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = GraphQueries.betweenness(nodes, bidir, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idFull == full)
  }

  test("SkewJoin.hotKeys frees its histogram checkpoint and registers nothing") {
    import spark.implicits._
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // 500 rows of key 1 vs 500 singleton keys: mean count ≈ 2, so only
    // key 1 clears skewFactor = 4
    val big = (1 to 1000)
      .map(i => (if (i % 2 == 0) 1L else i.toLong, i)).toDF("k", "x")
    val hot = graft.ops.SkewJoin.hotKeys(big, "k", skewFactor = 4.0)
    assert(hot == Seq(1L))
    assert(Bridge.cacheManagerIsEmpty(spark),
      "hotKeys must not register in the CacheManager")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"hotKeys left persisted RDD blocks behind: ids $leaked — the " +
        "histogram checkpoint must be freed in the finally block")
  }
}

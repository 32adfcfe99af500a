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

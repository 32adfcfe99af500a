package graft.ops

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** REAL-SESSION legs of [[Persist]] — the paths a production
  * dynamic-allocation deployment actually takes, which the shared
  * TestSpark context can never execute because BOTH triggering confs
  * are launch-time/irreversible there:
  *
  *   - `spark.dynamicAllocation.enabled` is a core conf, immutable
  *     through RuntimeConfig once the context exists — PersistSpec
  *     pins the rule only as a pure function;
  *   - `SparkContext.setCheckpointDir` is set-once for a context's
  *     life, so the shared session must never see one (the r16
  *     PersistSpec set it in its last test and leaked the temp dir —
  *     the r17 advice item this spec retires).
  *
  * This suite therefore boots its OWN SparkSession (dynamic allocation
  * + shuffle tracking on, local master) and runs in its OWN forked JVM
  * — see the `Test / testGrouping` block in build.sbt — so the shared
  * context never sees either conf. Local-mode limitation: local
  * masters never decommission executors, so
  * what executes here is the full RESOLUTION + MECHANISM path (cache
  * entry vs checkpoint files, release semantics, result equality),
  * not an actual executor-loss recovery.
  *
  * WITHIN-SUITE ORDER IS LOAD-BEARING and suite-local by design: the
  * no-dir tests register before `setCheckpointDir` (irreversible on
  * this suite's OWN context — no other suite shares it), and ScalaTest
  * runs a suite's tests in registration order.
  */
class PersistDynAllocSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val ckptDir =
    java.nio.file.Files.createTempDirectory("graft-dynalloc-ckpt")

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-persist-dynalloc")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.dynamicAllocation.enabled", "true")
      .config("spark.dynamicAllocation.shuffleTracking.enabled", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-dynalloc-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    // delete the suite's temp checkpoint dir — the leak the r16
    // spelling left behind
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(ckptDir.toFile)
    super.afterAll()
  }

  private def frame() = {
    import spark.implicits._
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .where(col("id") % 3 =!= 0)
  }

  /** The names of the reliable `rdd-*` checkpoints under the dir. */
  private def rddDirs(): Set[String] = {
    val walk = java.nio.file.Files.walk(ckptDir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("rdd-")).toSet
    } finally walk.close()
  }

  private def hasFiles(f: java.io.File): Boolean = {
    val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids.exists(k => k.isFile || hasFiles(k))
  }

  test("the session really runs under dynamic allocation") {
    assert(spark.conf.get("spark.dynamicAllocation.enabled").toBoolean,
      "suite precondition: this context must be dyn-enabled (if this " +
        "fails, the suite shared a context — check Test/testGrouping)")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("auto + dyn WITHOUT a dir: intermediate() really caches, " +
      "release frees the entry") {
    spark.catalog.clearCache()
    val p = Persist.intermediate(frame()).toDF()
    assert(p.count() == 67)
    assert(Bridge.isPlanCached(p),
      "dyn without durable storage must take the lineage-preserving " +
        "cache() leg — the one PersistSpec can only assert as a pure rule")
    Persist.release(p)
    assert(Bridge.cacheManagerIsEmpty(spark),
      "release() must free the cache entry this leg created")
  }

  test("truncate auto + dyn WITHOUT a dir stays localCheckpoint " +
      "(nowhere durable to write)") {
    // specific-id assertions, never getPersistentRDDs.SIZE deltas —
    // the ContextCleaner shrinks the global set asynchronously (the
    // r17 416/417 flake; full note in PersistSpec)
    val t = Persist.truncate(frame(), eager = true)
    assert(t.count() == 67)
    val id = Bridge.localCheckpointRddId(t).getOrElse(
      fail("dirless dyn truncation must stay a localCheckpoint " +
        "(LogicalRDD-backed)"))
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "local truncation pins its checkpoint RDD")
    Persist.release(t)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "release() must free the truncation's checkpoint RDD")
  }

  // Gated queries whose pipelines route through Persist (LSH dedup, IVF
  // similarity, text self-join; dedup_clusters_star's in-loop
  // truncation) must return the same rows on the dirless cache leg as
  // on the reliable leg — no operator may depend on a persistence side
  // effect (materialization barriers, block identity).
  private val representatives = Seq("dedup_minhash_lsh", "sim_ann_ivf",
    "text_tfidf", "dedup_clusters_star")
  private val cacheLegRows =
    scala.collection.mutable.Map.empty[String, Seq[String]]

  private def run(name: String) = graft.SparkEntry.queries(name)(
    spark, graft.TestSpark.Sf0001).collect().map(_.toString).sorted.toSeq

  test("the persistence representatives run on the dirless cache leg") {
    // collected BEFORE the set-once checkpoint dir below
    for (rep <- representatives) {
      cacheLegRows(rep) = run(rep)
      spark.catalog.clearCache()
    }
    assert(cacheLegRows.values.forall(_.nonEmpty))
  }

  test("auto + dyn WITH a dir: a real gated query runs end-to-end on " +
      "reliable checkpoints, mode-invariant") {
    spark.sparkContext.setCheckpointDir(ckptDir.toString) // irreversible
    val got = run("dedup_minhash_lsh") // now reliable checkpoint()
    assert(got == cacheLegRows("dedup_minhash_lsh"),
      "reliable-checkpoint leg changed a gated query's rows")
    assert(hasFiles(ckptDir.toFile),
      "the reliable leg wrote no checkpoint files — it did not execute")
    assert(Bridge.cacheManagerIsEmpty(spark),
      "the reliable leg must not leave CacheManager entries behind")
  }

  for (rep <- representatives)
    test(s"$rep rows are persistence-mode-invariant") {
      assert(run(rep) == cacheLegRows(rep),
        s"$rep diverged between the cache and reliable legs")
      assert(Bridge.cacheManagerIsEmpty(spark))
    }

  test("truncate auto + dyn WITH a dir: an iterative operator " +
      "checkpoints reliably end-to-end") {
    import spark.implicits._
    // two chained components through resolveStar, the distributed
    // closure: its edges and nodes checkpoints and every round's
    // lazy truncation are reliable checkpoints on this session (resolve
    // would close 5 edges with union-find on the driver and write none)
    val before = rddDirs()
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("a", "b")
    val labels = graft.ops.ConnectedComponents.resolveStar(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert((rddDirs() -- before).nonEmpty,
      "resolveStar wrote no reliable rdd-* checkpoint under the dir")
  }

  test("eager truncate on the dir-bearing dyn session executes the " +
      "persist-sandwiched reliable checkpoint end-to-end") {
    // exercises the reliable eager leg's persist→checkpoint→unpersist
    // sandwich for real (r17 review replaced a test that only
    // re-asserted the pure resolver rule PersistSpec already pins)
    val f = frame()
    val t = Persist.truncate(f, eager = true)
    val id = Bridge.localCheckpointRddId(t).getOrElse(
      fail("a checkpointed frame must be LogicalRDD-backed"))
    val walk = java.nio.file.Files.walk(ckptDir)
    val written =
      try walk.anyMatch(_.getFileName.toString == s"rdd-$id")
      finally walk.close()
    assert(written, "dyn + dir truncation must write a reliable " +
      s"checkpoint (no rdd-$id under the checkpoint dir)")
    assert(t.collect().map(_.getLong(0)).sorted.toSeq ==
      (1 to 100).filter(_ % 3 != 0).map(_.toLong))
    // the sandwich persists the INPUT frame around the checkpoint
    // write; assert ITS storage was released (not a global
    // set-cardinality snapshot — the r17 flake class)
    assert(!Bridge.isPlanCached(f.toDF()),
      "the persist-before-checkpoint sandwich must unpersist its " +
        "own cache entry after the checkpoint write")
  }
}

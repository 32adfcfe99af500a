package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Intermediate-result persistence policy — the ONE place the engine
  * decides how a reused per-query frame is pinned. The mechanism is
  * worked out from the session alone, by [[resolve]] over two facts:
  * `spark.dynamicAllocation.enabled` and whether `spark.checkpoint.dir`
  * is set. There is no engine conf key to override it.
  *
  * The doctrine (settled rounds 14/15): per-query reused frames persist
  * via `localCheckpoint(false)`. The blocks belong to the checkpointed
  * RDD, so the ContextCleaner frees them when the plan's frames are
  * garbage-collected — long-lived sessions accumulate nothing and owe
  * no `clearCache()`. What that buys in hygiene it costs in TWO
  * documented ways:
  *
  *   1. '''Fault tolerance''': a locally-checkpointed RDD has truncated
  *      lineage stored on the executors that computed it. An executor
  *      loss — or a dynamic-allocation decommission, which Spark's own
  *      docs call out as unsafe with localCheckpoint — fails the query
  *      instead of recomputing the lost partitions. On a static-executor
  *      cluster (and in `local[n]`, where executor loss is process
  *      death) this risk is zero-to-moot; under
  *      `spark.dynamicAllocation.enabled` it is real, so there the
  *      helpers switch to reliable `checkpoint()` when a checkpoint dir
  *      is set, else to lineage-preserving `cache()` (decommissioned
  *      blocks recompute; the caller owns `clearCache`, which re-accepts
  *      the r13 leak class in exchange for not failing on decommission).
  *   2. '''Re-scan speed''': checkpoint blocks hold row-format
  *      partitions, while `cache()` stores codegen-friendly columnar
  *      batches — measured on `graph_copurchase` (round 16, isolated
  *      5-run medians at matched calibration): 2.7–3.0 s cached vs
  *      3.4–3.7 s locally checkpointed at sf0.1, a ~20 % tax on that
  *      re-scan-heavy self-join. [[intermediateHot]] is the per-site
  *      answer.
  *
  * BUILD-TIME JOBS: no helper runs the frame's final stage while the
  * DataFrame is built (except an eager [[truncate]]), but the checkpoint
  * legs are not free to build either. `localCheckpoint(false)` and
  * `checkpoint(false)` create the frame's RDD at once, and under
  * adaptive execution creating it runs every shuffle stage below the
  * frame as its own job — one job per shuffle, before any action
  * (PersistSpec pins it; BuildJobsSpec shows it per query:
  * `analytics_survival` 2, `analytics_posthoc_pairs` and
  * `analytics_mann_kendall` 1 each). Only the `cache()` leg defers all
  * work to the plan's first execution.
  *
  * SCOPE: reuse-purpose persistence ([[intermediate]],
  * [[intermediateHot]]) and the iterative operators' in-loop lineage
  * TRUNCATION ([[truncate]]). `cache()` is never a truncation — a
  * cached plan still nests every prior round's lineage and the plan
  * blow-up returns — so truncation under dynamic allocation without a
  * dir stays local and keeps the decommission risk: no loss-safe
  * truncation exists without durable storage.
  */
object Persist {

  /** How a frame is pinned. */
  private[ops] sealed trait Mechanism
  private[ops] case object Local extends Mechanism
  private[ops] case object Cache extends Mechanism
  private[ops] case object Reliable extends Mechanism

  /** The mechanism of each helper on one session. */
  private[ops] final case class Mechanisms(intermediate: Mechanism,
      hot: Mechanism, truncate: Mechanism)

  /** The one rule, as data (PersistSpec pins all four rows):
    *   - static executors → the doctrine's localCheckpoint, except the
    *     per-site hot frames, which take columnar `cache()`;
    *   - dynamic allocation with a checkpoint dir → reliable
    *     `checkpoint()` everywhere;
    *   - dynamic allocation without one → lineage-preserving `cache()`
    *     for reuse, localCheckpoint for truncation (nowhere durable to
    *     write, and caching does not truncate).
    * `dyn` is a launch-time core conf that RuntimeConfig cannot change
    * on a live session, which is why the rule is a pure function.
    */
  private[ops] def resolve(dyn: Boolean,
      hasCheckpointDir: Boolean): Mechanisms =
    if (!dyn) Mechanisms(intermediate = Local, hot = Cache, truncate = Local)
    else if (hasCheckpointDir) Mechanisms(Reliable, Reliable, Reliable)
    else Mechanisms(intermediate = Cache, hot = Cache, truncate = Local)

  private def resolved(ds: Dataset[_]): Mechanisms = {
    val spark = ds.sparkSession
    resolve(
      dyn = spark.conf.get("spark.dynamicAllocation.enabled", "false")
        .toBoolean,
      hasCheckpointDir = spark.sparkContext.getCheckpointDir.isDefined)
  }

  private def pin[T](ds: Dataset[T], m: Mechanism,
      eager: Boolean): Dataset[T] = m match {
    case Local => ds.localCheckpoint(eager)
    case Cache => ds.cache()
    case Reliable if eager =>
      // persist-before-checkpoint: the materializing job fills the
      // cache, the checkpoint-write job reads it back instead of
      // recomputing the round's whole plan ([[truncate]] cost 2)
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      val out = ds.checkpoint(eager = true)
      ds.unpersist(blocking = false)
      out
    case Reliable => ds.checkpoint(eager = false)
  }

  /** Persist a frame that the returned plan will scan more than once.
    * The reliable leg pays Spark's standard checkpoint costs as the
    * price of loss-safety: the checkpoint-write job recomputes the
    * upstream once beyond the first action, and the written files are
    * owned by `spark.checkpoint.dir` retention (set
    * `spark.cleaner.referenceTracking.cleanCheckpoints`, or purge the
    * dir) — [[release]] cannot and does not delete them.
    */
  def intermediate[T](ds: Dataset[T]): Dataset[T] =
    pin(ds, resolved(ds).intermediate, eager = false)

  /** Persist a HOT RE-SCAN frame — one whose stored blocks the same
    * plan scans two or more times (both sides of a self-join, a
    * verify pass over candidate pairs re-reading the indexed frame).
    * On STATIC executors it takes `cache()` instead of the doctrine's
    * `localCheckpoint(false)`: cache stores codegen-friendly COLUMNAR
    * batches while local-checkpoint blocks hold row-format partitions
    * (the 20% copurchase tax measured in r16, scaladoc above), and on
    * the re-scan-heavy operators the gap is larger still — r20
    * isolated 5-run medians at sf0.1/16 cpus: dedup_ngram_jaccard
    * 3.79 → 1.82 s, dedup_containment 3.09 → 1.99 s, graph_copurchase
    * 3.27 → 1.95 s. The price is exactly the hygiene the doctrine
    * bought: a cache entry belongs to the CacheManager and is freed
    * by [[release]]/`clearCache`, not by the ContextCleaner when the
    * frame is GC'd, so a long-lived session that never clears the
    * cache accumulates one entry per operator invocation (the r13
    * leak class; Bench and Verify clear per query, and the existing
    * direct `.cache()` sites in GraphQueries carry the same
    * ownership). Because the same r20 A/B measured the minhash-band
    * frames 15–30% SLOWER under cache (dedup_containment_minhash
    * 2.45 → 3.22 s, dedup_cross_source 2.65 → 3.31 s), hot is a
    * PER-SITE, measurement-backed choice — never a blanket one; sites
    * stay on [[intermediate]] unless the cache spelling measured
    * faster there. Under dynamic allocation it resolves exactly like
    * [[intermediate]].
    */
  def intermediateHot[T](ds: Dataset[T]): Dataset[T] =
    pin(ds, resolved(ds).hot, eager = false)

  /** Free the storage behind a frame returned by [[intermediate]] or
    * [[intermediateHot]], whatever mechanism the session resolved.
    * `Dataset.unpersist` alone is NOT enough: it goes through the
    * CacheManager and never releases checkpoint blocks (they belong to
    * the underlying `LogicalRDD`'s RDD), while the Bridge
    * checkpoint-block path never sees a CacheManager entry — so a
    * caller that pairs its persist with an explicit free must release
    * through this helper or leak under the other mechanism. Covers
    * local (block-manager RDD blocks), cache (CacheManager entry), and
    * is a safe no-op for reliable (its files are owned by
    * `spark.checkpoint.dir` retention, not the block manager). Caller
    * contract is inherited from both mechanisms: the frame must never
    * be evaluated again.
    */
  def release[T](ds: Dataset[T]): Unit = {
    org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint(ds)
    ds.unpersist(blocking = false)
    ()
  }

  /** Truncate a frame's lineage — the iterative operators' in-loop
    * mechanism (each round's plan must not nest every prior round's).
    * `eager = true` materializes now (the loop-body contract: the
    * round's rows exist before the next round plans over them);
    * `eager = false` defers the final stage to the frame's first
    * action, though the shuffles below it still run now (see BUILD-TIME
    * JOBS above).
    *
    * Reliable exactly when dynamic allocation is enabled AND
    * `spark.checkpoint.dir` is set — which makes PORTING.md's "point
    * spark.checkpoint.dir at durable storage for loss-safe iteration"
    * a conf-only contract (r17: before this helper, the in-loop sites
    * called `localCheckpoint` unconditionally and the conf was never
    * read). THE RELIABLE LEG'S TWO OPERATIONAL COSTS (r17 review):
    *
    *   1. '''Retention''': loops write one checkpoint per round and
    *      [[release]]/Bridge cleanup are deliberate no-ops for
    *      reliable files — a reliable-truncation deployment MUST set
    *      `spark.cleaner.referenceTracking.cleanCheckpoints=true` (the
    *      ContextCleaner then deletes each round's files once its
    *      frame is GC'd) or own `spark.checkpoint.dir` retention.
    *      Without either, a long iterative session fills the dir
    *      linearly in total rounds.
    *   2. '''Double compute''': `Dataset.checkpoint` does not persist
    *      before the checkpoint-write job, so a bare eager checkpoint
    *      computes each round's plan twice. The eager leg mitigates
    *      with the standard persist-before-checkpoint sandwich
    *      (persist → checkpoint → unpersist); the LAZY leg cannot (the
    *      write happens at some later action, after which this method
    *      has long returned) and pays the one extra compute, the same
    *      price [[intermediate]]'s reliable leg accepts.
    */
  def truncate[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    pin(ds, resolved(ds).truncate, eager)

  /** `frame.persistIntermediate` chaining syntax for [[intermediate]]. */
  implicit final class PersistOps[T](private val ds: Dataset[T])
      extends AnyVal {
    def persistIntermediate: Dataset[T] = intermediate(ds)

    /** `frame.persistHotIntermediate` syntax for [[intermediateHot]]. */
    def persistHotIntermediate: Dataset[T] = intermediateHot(ds)

    /** `frame.truncateLineage(eager)` syntax for [[truncate]]; the
      * no-arg default mirrors `Dataset.localCheckpoint()`'s eagerness.
      */
    def truncateLineage(eager: Boolean = true): Dataset[T] =
      truncate(ds, eager)
  }
}

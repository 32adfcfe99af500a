package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 moved these conversions behind
  * `private[sql]` (`classic.ExpressionUtils`, columnNodeSupport.scala);
  * extension libraries reach them by declaring a shim inside the sql
  * package — the established pattern for third-party Catalyst
  * expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame over rows already in Catalyst's internal format, with no
    * encoder between them and the plan (`internalCreateDataFrame` is
    * `private[sql]`). Every row must match `schema`.
    */
  def internalFrame(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Free the block-manager storage behind a `localCheckpoint(eager)`
    * frame. `Dataset.unpersist` goes through the CacheManager and does
    * NOT release checkpoint blocks (the checkpointed rows live on the
    * underlying `LogicalRDD`'s RDD, persisted by `localCheckpoint`), so
    * an iterative algorithm that re-checkpoints every round would
    * otherwise accumulate one full copy of its working set PER ROUND
    * for the life of the loop. Caller contract: the frame must never be
    * evaluated again — a localCheckpoint has no lineage to recompute
    * from once its blocks are dropped. Guarded on storage level: an
    * unpersisted LogicalRDD frame passes through untouched (Spark keeps
    * `isLocallyCheckpointed` private[rdd], so "persisted" is the
    * strongest check reachable from library code — the never-evaluate-
    * again contract above still rests on the caller).
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit =
    df match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        d.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD
              if lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
      case _ => ()
    }

  /** The id of the RDD backing a `localCheckpoint`ed frame's
    * `LogicalRDD`, when there is one. Spec hook: persistence tests
    * must assert on THIS id's presence/absence in
    * `sc.getPersistentRDDs` — never on the global set's SIZE, which
    * the ContextCleaner shrinks asynchronously whenever an earlier
    * suite's unreferenced checkpoint gets GC'd (the r17 416/417
    * full-suite flake). The specific id is race-free both ways: the
    * frame under test strongly references its RDD (the cleaner cannot
    * touch it), and `RDD.unpersist` removes the map entry
    * synchronously even with `blocking = false` (only block deletion
    * is deferred).
    */
  def localCheckpointRddId(df: org.apache.spark.sql.Dataset[_]): Option[Int] =
    df match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        d.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd.id)
          case _ => None
        }
      case _ => None
    }

  /** True when the frame's plan has a live CacheManager entry — the
    * spec hook behind Persist's cache-leg contracts.
    */
  def isPlanCached(df: org.apache.spark.sql.DataFrame): Boolean = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      d.sparkSession.sharedState.cacheManager.lookupCachedData(d).isDefined
    case _ => false
  }

  /** True when the session's CacheManager holds no cached plans —
    * the spec hook behind the "a query leaves no net cached frames"
    * contract (CacheManager is private[sql]; this shim is the same
    * reach-in pattern as the Column bridge above).
    */
  def cacheManagerIsEmpty(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.sharedState.cacheManager.isEmpty
}

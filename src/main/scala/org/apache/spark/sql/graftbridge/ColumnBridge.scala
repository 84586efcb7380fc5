package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters so
  * graft's custom Catalyst expressions (DotProduct, SimHash64) can be
  * exposed as ordinary Columns without session-registry round-trips.
  * Lives in an org.apache.spark.sql subpackage purely for access;
  * contains no Spark-internal logic. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable, collision-free id for a session (`private[sql]
    * sessionUUID`) — identityHashCode keys can recycle after GC and
    * hand a new session cached frames bound to a stopped context. */
  def sessionUUID(s: org.apache.spark.sql.SparkSession): String = s match {
    case c: org.apache.spark.sql.classic.SparkSession => c.sessionUUID
    case other => other.toString
  }

  /** The persisted RDDs backing a `localCheckpoint`'d Dataset — the
    * PRECISE handle for releasing its blocks. The global
    * before/after diff of `getPersistentRDDs` (the claim step of
    * graft.operators.SessionStore) is wrong under concurrent trainings
    * (r21: pqCodebooks runs subspace Lloyd trainings in parallel —
    * one thread's diff would capture, and later unpersist, another
    * thread's LIVE sample, whose lineage the checkpoint truncated);
    * reading the RDD off the checkpoint's own LogicalRDD plan node
    * captures exactly the blocks this frame owns. */
  def checkpointRdds(ds: org.apache.spark.sql.Dataset[_])
      : Seq[org.apache.spark.rdd.RDD[_]] = ds match {
    case c: org.apache.spark.sql.classic.Dataset[_] =>
      c.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
    case _ => Nil
  }

  /** `df` rebased onto the cached blocks it reads, so every later
    * self-union or self-join of it reads them too. Spark 4.1 defect:
    * a `LogicalRDD` with a known output partitioning (the frame
    * `foreachBatch` hands over after a shuffle, e.g. the dedup's
    * `hashpartitioning(message_id, n)`) gets fresh exprIds in that
    * partitioning when `unionByName` re-instances it for its second
    * and later children (`DeduplicateRelations` →
    * `LogicalRDD.newInstance`). Canonicalization leaves those ids
    * un-normalized, so `sameResult` is false and `CacheManager` misses
    * for every branch after the first: each of them re-runs the plan
    * under the cache, a stateful dedup included. Planning from
    * `withCachedData` puts the `InMemoryRelation` itself in the plan;
    * re-instancing it keeps its shared `CachedRDDBuilder`, so every
    * branch reads the same blocks.
    *
    * Only that case is rebased: a frame whose cached data stands in
    * for no partitioned `LogicalRDD` (uncached inputs, plain
    * persisted frames, which keep the cache on a self-union) comes
    * back unchanged, with its plan untouched.
    *
    * LIFETIME CONTRACT: consume the pinned frame (and everything built
    * on it) before unpersisting the input. The plan holds the cache
    * builder directly, not a `CacheManager` entry: executed after
    * `unpersist`, it still returns the same rows, but rebuilds and
    * persists the blocks again as an RDD no cache entry tracks, which
    * only the `ContextCleaner` releases once the frame is gone. */
  def pinCached(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df match {
      case c: org.apache.spark.sql.classic.Dataset[_] if !c.isStreaming =>
        val cached = c.queryExecution.withCachedData
        val partitionedRdd = cached.exists {
          case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            m.cacheBuilder.logicalPlan.exists {
              case lr: org.apache.spark.sql.execution.LogicalRDD =>
                !lr.outputPartitioning.isInstanceOf[
                  org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning]
              case _ => false
            }
          case _ => false
        }
        if (partitionedRdd) org.apache.spark.sql.classic.Dataset.ofRows(c.sparkSession, cached)
        else df
      case _ => df
    }
}

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

  /** `localCheckpoint(eager)` that KEEPS the frame's hash
    * partitioning visible to the planner. Under AQE the checkpointed
    * plan is an `AdaptiveSparkPlanExec`, whose `outputPartitioning`
    * reports `UnknownPartitioning` — so a checkpoint taken to anchor
    * an iterative loop silently drops the layout the loop was meant
    * to reuse, and every iteration re-exchanges (observed r22: the
    * classifier epoch loop's margin pass re-shuffled the checkpointed
    * feature frame every epoch). This wrapper re-labels the
    * checkpoint's `LogicalRDD` with `HashPartitioning(keyCols, n)`
    * where n is the checkpoint RDD's real partition count.
    *
    * CORRECTNESS CONTRACT (caller's obligation): the frame's physical
    * layout must genuinely be a hash(keyCols) distribution undisturbed
    * downstream — i.e. the last exchange below the checkpoint is an
    * explicit-numPartitions `repartition(n, keyCols…)` (whose
    * REPARTITION_BY_NUM origin AQE never coalesces) followed only by
    * partition-local operators (project/filter/aggregate). Claiming a
    * layout the rows do not have yields silently wrong joins. */
  def localCheckpointKeyed(df: org.apache.spark.sql.DataFrame,
                           keyCols: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val cp = df.localCheckpoint(true)
    cp match {
      case c: org.apache.spark.sql.classic.Dataset[_] =>
        c.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            val keys = keyCols.map { k =>
              lr.output.find(_.name == k).getOrElse(throw new
                IllegalArgumentException(
                  s"localCheckpointKeyed: no column '$k' in " +
                    lr.output.map(_.name).mkString(", ")))
            }
            val part = org.apache.spark.sql.catalyst.plans.physical
              .HashPartitioning(keys, lr.rdd.getNumPartitions)
            val keyed = new org.apache.spark.sql.execution.LogicalRDD(
              lr.output, lr.rdd, part, lr.outputOrdering, lr.isStreaming,
              lr.stream)(c.sparkSession, None, None)
            org.apache.spark.sql.classic.Dataset.ofRows(c.sparkSession, keyed)
          case _ => cp
        }
      case _ => cp
    }
  }
}

package graft.operators

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** The one width rule: every partition and shard count graft picks
  * comes from here, sized by the bytes of work a plan carries, never
  * by the core count (kassette sizes router batches by payload the
  * same way, router/router.go:43 `MAX_BATCH_PAYLOAD_SIZE`).
  *
  * {{{
  * width = bytes / perTaskBytes + 1,  clamped to [1, ceiling]
  * }}}
  *
  *  - `bytes` is the optimizer's size estimate of the input plan
  *    ([[planBytes]]);
  *  - `perTaskBytes` is [[TaskBytes]] divided by the caller's work per
  *    input byte (k for k-gram building, epochs + 1 for a fit that
  *    re-reads its frame every pass), or AQE's advisory partition size
  *    for a shard that only holds rows ([[shards]]);
  *  - `ceiling` is the session's `spark.sql.shuffle.partitions`, the
  *    one width setting graft reads (see [[graft.GraftSession]]).
  *
  * The rule divides and never multiplies, and clamps before the +1:
  * `planBytes` saturates at Long.MaxValue when plan statistics are
  * invalid, so an unknown-size input gets the ceiling instead of
  * overflowing down to one task. A kilobyte corpus runs at width 1,
  * where per-task scheduling would cost more than the compute. */
object Widths {

  /** Bytes of work one task is sized for. */
  val TaskBytes: Long = 4L << 20

  /** The one width ceiling: the session's `spark.sql.shuffle.partitions`. */
  def ceiling(spark: SparkSession): Int =
    spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt

  /** Optimizer size estimate of a plan's bytes (for a parquet scan,
    * its footprint on disk); Long.MaxValue when the statistics do not
    * fit a long. */
  def planBytes(ds: Dataset[_]): Long = {
    val b = ds.queryExecution.optimizedPlan.stats.sizeInBytes
    if (b.isValidLong) b.toLong else Long.MaxValue
  }

  /** The rule on numbers: one task per `perTaskBytes` bytes (a
    * non-positive target reads as one byte), clamped to `[1, ceiling]`. */
  private[graft] def width(bytes: Long, perTaskBytes: Long, ceiling: Int): Int =
    (bytes / math.max(1L, perTaskBytes)).min(ceiling - 1L).max(0L).toInt + 1

  /** Width of work over `ds` in which each input byte costs `inflate`
    * bytes of work, or only one in `deflate` input bytes is worked on
    * (a 1-in-n training sample). */
  def of(ds: Dataset[_], inflate: Int = 1, deflate: Int = 1): Int =
    width(planBytes(ds) / math.max(1, deflate),
      TaskBytes / math.max(1, inflate), ceiling(ds.sparkSession))

  /** Shard count for range-sharding the rows of `ds`: one shard per
    * AQE advisory partition size (`spark.sql.adaptive
    * .advisoryPartitionSizeInBytes`), the size AQE coalesces the
    * shards' shuffle to. */
  def shards(ds: Dataset[_]): Int = {
    val conf = ds.sparkSession.sessionState.conf
    width(planBytes(ds), conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      ceiling(ds.sparkSession))
  }

  /** `ds` on one partition when it is one task's work ([[of]] is 1),
    * otherwise `ds` itself. It goes through `coalesce(1)`, which adds
    * no exchange: the stage computing `ds` runs as one task, and its
    * single output partition meets every clustered distribution, so a
    * window or aggregate keyed on any columns above it runs in the same
    * stage with no exchange either. */
  def gather[T](ds: Dataset[T]): Dataset[T] =
    if (of(ds) == 1) ds.coalesce(1) else ds

  /** `ds` spread over `width` partitions (hashed on `keys`, round-robin
    * without keys) when that is more than it already has; otherwise
    * `ds` itself, so an input already split wide enough keeps its
    * scan partitions and a width-1 input adds no exchange. Round-robin
    * goes through `repartition(n)`: the media generators timed slower
    * behind `repartition(n, keys: _*)` with no keys. */
  def raise[T](ds: Dataset[T], width: Int, keys: Column*): Dataset[T] =
    if (width <= ds.rdd.getNumPartitions) ds
    else if (keys.isEmpty) ds.repartition(width)
    else ds.repartition(width, keys: _*)
}

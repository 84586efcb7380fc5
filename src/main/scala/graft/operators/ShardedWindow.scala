package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed per-group running sum over a deterministic order —
  * the scale-safe form of
  * `SUM(v) OVER (PARTITION BY group ORDER BY key ROWS UNBOUNDED
  * PRECEDING)`.
  *
  * A plain per-group window hands one task the WHOLE group: with a
  * handful of corpus sources at 100 TB that is a ~20 TB single-task
  * sort. Because the order key in the packing/budgeting operators is
  * a uniform content hash, the key space can be RANGE-sharded with a
  * cheap monotone function of the key itself (no sampling pass):
  * every shard holds a contiguous key range, so
  *
  *   global running sum = shard-local running sum
  *                      + Σ totals of all earlier shards in the group.
  *
  * Three-step plan (same two-phase shape as q25's distributed decile,
  * Relational.scala):
  *   1. one partial-agg shuffle computes per-(group, shard) totals —
  *      groups × shards rows, collected to the driver;
  *   2. the driver scan-lefts prefix offsets (a few KB) and ships
  *      them back as a broadcast frame;
  *   3. the window runs partitioned by (group, shard) — each task
  *      sorts only its shard, ~1/S of the group.
  *
  * Output is EXACTLY the single-partition window's (the shard
  * function is monotone in the order key, ties share a shard), so
  * DuckDB hash-oracles written against the logical window still
  * match. `runningSum` scans `df` twice (phase 1 and phase 3); a
  * caller that also derives the shard function from the data scans it
  * more ([[Router.microBatch]]'s quantile bounds make three passes), so
  * at 100 TB persist `df` before calling; at test scale the repeated
  * scan is cheaper than a cache. An input that fits ONE shard takes
  * [[runningSumOneShard]] instead: one scan, nothing eager.
  */
object ShardedWindow {

  /** Driver-side cap on phase-1 `groups × shards` rows. The offsets
    * frame lives on the driver (a few dozen bytes per row), which is
    * only safe for BOUNDED group domains (sources, destinations,
    * event types). Calling with a high-cardinality group column would
    * silently OOM the driver — fail fast with a diagnosable message
    * instead. ~1M rows ≈ tens of MB: far above any sane bounded
    * domain, far below an OOM. */
  val MaxDriverOffsets: Int = 1 << 20

  /** @param df       input frame
    * @param group    grouping column name (window PARTITION BY key)
    * @param shard    monotone non-decreasing function of the leading
    *                 order key (e.g. `key div 2^55` for a 60-bit
    *                 uniform hash, `conv(substr(hex, 1, 2), 16, 10)`
    *                 for an md5 string) — defines the range shards
    * @param order    full ORDER BY columns (shard-local sort)
    * @param value    column to running-sum (must be integral)
    * @param out      name of the produced running-sum column
    * @param cap      driver-offset-row ceiling (see [[MaxDriverOffsets]])
    */
  def runningSum(df: DataFrame, group: String, shard: Column,
                 order: Seq[Column], value: Column, out: String,
                 cap: Int = MaxDriverOffsets): DataFrame = {
    val spark = df.sparkSession
    val tagged = df.withColumn("__shard", shard.cast("long"))
    // phase 1: per-(group, shard) totals — one map-side-combined
    // shuffle of (group, shard, long) triples. The limit+length check
    // bounds the driver transfer BEFORE it happens (guarded collect,
    // not a post-hoc count).
    val totalsDf = tagged.groupBy(col(group), col("__shard"))
      .agg(sum(value).cast("long").as("__tot"))
    val totals = totalsDf.limit(cap + 1).collect()
    require(totals.length <= cap,
      s"ShardedWindow.runningSum: more than $cap distinct " +
        s"($group, shard) pairs — the group column must be a bounded " +
        "domain (sources / destinations), not a high-cardinality key")
    // phase 2: driver prefix offsets per group, in shard order (group
    // key read generically — any orderable type works, not just strings)
    val offRows = totals.groupBy(_.get(0)).iterator.flatMap { case (g, rows) =>
      val inOrder = rows.sortBy(_.getLong(1))
      inOrder.zip(inOrder.map(_.getLong(2)).scanLeft(0L)(_ + _))
        .map { case (r, off) => Row(g, r.getLong(1), off) }
    }.toSeq
    val offSchema = StructType(Seq(
      totalsDf.schema.head.copy(name = group),
      StructField("__shard", LongType), StructField("__off", LongType)))
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), offSchema)
    // phase 3: shard-local window + broadcast offset add
    tagged.join(broadcast(offsets), Seq(group, "__shard"))
      .withColumn(out, sum(value).over(shardWindow(group, order)) + col("__off"))
      .drop("__shard", "__off")
  }

  /** Constant-shard fast path of [[runningSum]], for an input the
    * caller sized at ONE shard: with no earlier shard every offset is
    * 0, so phases 1-2 vanish — no totals collect, no offsets
    * broadcast, nothing runs eagerly; the running sum is one window in
    * the consuming job. The window still partitions by
    * (group, __shard), and the output has [[runningSum]]'s schema
    * (group column first, as its USING join leaves it).
    *
    * @param shard constant-valued per row; it may carry a per-row
    *              guard (e.g. `raise_error` on an invalid order key),
    *              which also keeps it non-foldable, so the optimizer
    *              cannot drop it from the window's partitioning
    */
  def runningSumOneShard(df: DataFrame, group: String, shard: Column,
                         order: Seq[Column], value: Column,
                         out: String): DataFrame =
    df.withColumn("__shard", shard.cast("long"))
      .select(col(group) +: df.columns.toSeq.filter(_ != group).map(c => col(s"`$c`")) :+
        sum(value).over(shardWindow(group, order)).as(out): _*)

  private def shardWindow(group: String, order: Seq[Column]) =
    Window.partitionBy(col(group), col("__shard"))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Distributed per-group top-k — the scale-safe form of
    * `ROW_NUMBER() OVER (PARTITION BY group ORDER BY …) <= k`.
    *
    * A plain per-group rank window sorts the WHOLE group on one task
    * (a full per-source vocabulary at corpus scale). Two phases:
    *   1. rank within (group, shard) — any shard assignment works,
    *      because a global top-k row is necessarily top-k within its
    *      own shard — and keep the shard-local top k;
    *   2. rank the ≤ shards·k survivors per group (a bounded,
    *      broadcast-scale set) to recover the EXACT global ranks.
    * The ordering must be total (deterministic tiebreak) for rank
    * stability; given that, output is row-identical to the logical
    * single-partition window, so hash oracles written against the
    * plain window still match.
    *
    * @param shardOn column whose hash spreads the group's rows (the
    *                ranked entity, e.g. the token)
    */
  def topK(df: DataFrame, group: String, order: Seq[Column], k: Int,
           shardOn: Column, shards: Int, rankOut: String = "rank"): DataFrame = {
    val w1 = Window.partitionBy(col(group), pmod(hash(shardOn), lit(shards)))
      .orderBy(order: _*)
    val w2 = Window.partitionBy(col(group)).orderBy(order: _*)
    df.withColumn("__lr", row_number().over(w1)).filter(col("__lr") <= k)
      .drop("__lr")
      .withColumn(rankOut, row_number().over(w2).cast("long"))
      .filter(col(rankOut) <= k)
  }

  private def ceilLog2(s: Int): Int =
    math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, s - 1)))

  /** Shard function for a uniform 60-bit hash key ([[Dedup.shingleHash]]
    * range): the top ceil(log2(s)) bits — exact integer shift, monotone,
    * so shards are contiguous key ranges. Yields 2^ceil(log2(s)) ≥ s
    * shards. */
  def hashShard60(key: Column, s: Int): Column =
    shiftright(key, 60 - math.min(ceilLog2(s), 59))

  /** Shard function for a lowercase-hex md5 STRING key ordered
    * lexicographically: equal-length hex strings sort identically to
    * their numeric value, so the first-two-digit (8-bit) prefix is
    * monotone in the full key. Yields up to 256 shards. */
  def hexShard(key: Column, s: Int): Column =
    shiftright(conv(substring(key, 1, 2), 16, 10).cast("long"),
      8 - math.min(ceilLog2(s), 8))
}

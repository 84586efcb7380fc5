package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DecimalType, NumericType, StringType}

/** Destination routing — the reference fans events out per enabled
  * connection, batches them (transformBatchSize=10,
  * processor/processor.go:58; router MAX_BATCH_PAYLOAD_SIZE,
  * router/router.go:43) and tracks per-destination success/failure/
  * disabled stats (router.go destFailure/destSuccess/destDisabled).
  *
  * Spark-first: routing is a partition column, not a driver-side
  * dispatch loop — `df.write.partitionBy(destCol)` gives each
  * destination its own file subtree in one pass.
  */
object Router {

  /** Per-destination delivery stats (stats.go counters as one agg). */
  def fanoutStats(df: DataFrame, destCol: String, amountCol: String,
                  userCol: String): DataFrame =
    df.groupBy(col(destCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(amountCol).cast(DecimalType(12, 2))).cast("double").as("total_amount"),
        countDistinct(col(userCol)).as("n_users"))

  /** Deterministic micro-batch assignment within each destination:
    * batch k holds rows k*size..k*size+size-1 in `orderCol` order
    * (the reference slices the in-memory event list the same way).
    *
    * Scale shape: `row_number = running count`, so the per-destination
    * ordered window is a [[ShardedWindow.runningSum]] over `lit(1)`
    * partitioned by (dest, shard). The shard COUNT is derived from the
    * input's plan bytes ([[shardCount]]: one shard per
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`, clamped to
    * `[1, spark.sql.shuffle.partitions]`), not from the core count:
    *
    *  - ONE shard (every live micro-batch, the gate corpus): there are
    *    no bounds to pick and every earlier-shard offset is 0, so
    *    nothing runs eagerly — no bounds agg, no totals collect, no
    *    offsets broadcast ([[ShardedWindow.runningSumOneShard]]). The
    *    whole batching is one window inside the consuming job.
    *  - S > 1 shards (volume): the numeric order key is RANGE-sharded
    *    on QUANTILE boundaries of its distribution (one
    *    approx_percentile agg picks the bounds, cost one column scan —
    *    the same literal-boundary discipline as q25's distributed
    *    decile), so each task sorts ~1/S of a destination EVEN when
    *    the key density is clustered (epoch-ms ids with a hot hour
    *    collapse an equi-width [min,max] split into a few hot shards;
    *    quantile bounds track the density by construction). No task
    *    ever holds a whole destination: with a handful of destinations
    *    at 100 TB the plain `partitionBy(dest)` window is a single-task
    *    sort; this shape is flat under that skew (see ScaleSmoke's
    *    ONE-destination and clustered-key entries). That path scans
    *    the input three times (bounds agg, per-shard totals, window):
    *    persist `df` first at volume.
    *
    * `orderCol` must be numeric or string, and non-null — a null key
    * has no position in the reference's ordered slice either. Fails
    * with a diagnosable message instead of a null shard NPE deep
    * inside the window: on the one-shard path the guard is a
    * `raise_error` in the shard column itself (it fails the consuming
    * job, costs no pass, and keeps the shard column non-foldable, so
    * the window stays partitioned by (dest, __shard); on a
    * non-nullable key it folds to 0 and Spark drops the constant from
    * the partitioning); on the multi-shard path it is a null count
    * folded into the bounds agg.
    * A string key (the gateway's uuid message ids) is sharded by a
    * MONOTONE numeric image of its first 7 UTF-8 bytes — fixed-width
    * big-endian prefixes order exactly like Spark's binary string
    * comparison, and prefix TIES merely share a shard (monotone
    * non-decreasing is all the range split needs; the within-shard
    * sort still uses the full key). All pre-window stats (null count,
    * quantile bounds, string min/max) fold into ONE eager agg pass; a
    * corpus-wide common prefix that degrades the raw image's bounds
    * triggers at most one more (see inline). */
  def microBatch(df: DataFrame, destCol: String, orderCol: String,
                 size: Int): DataFrame = {
    val spark = df.sparkSession
    val shards = shardCount(graft.sources.Tables.planBytes(df),
      spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // the string key's monotone image: 7 UTF-8 bytes zero-padded to
    // fixed width, read as an unsigned integer (null iff the key is)
    def imageAt(skip: Int): Column =
      expr(s"conv(hex(rpad(substring(encode(`$orderCol`, 'utf-8')," +
        s" ${skip + 1}, 7), 7, x'00')), 16, 10)").cast("bigint")
    val isString = df.schema(orderCol).dataType match {
      case StringType => true
      case _: NumericType => false
      case other => throw new IllegalArgumentException(
        s"Router.microBatch: order column '$orderCol' must be numeric " +
          s"or string, got $other")
    }
    val raw = if (isString) imageAt(0) else col(orderCol).cast("bigint")
    def badKeys(detail: String): String =
      s"Router.microBatch: order column '$orderCol' must be non-null " +
        s"numeric (castable to bigint); $detail"
    // S > 1 only: the quantile range-shard of the key (eager stats)
    def quantileShard(): Column = {
      val probs = (1 until shards).map(_.toDouble / shards)
      // The bounds steer shard BALANCE only — the running-sum output is
      // exact whatever the split — so the quantile digest reads a ~5%
      // sample of the key (the null-count guard in the same agg still
      // scans every row; it's semantic). The sampler is a hash of the
      // key itself — deterministic, so legal inside an aggregate where
      // rand() is not, and uniform across the key space for the
      // near-unique id keys this batcher orders by. A 20× cheaper
      // digest update at the cost of slightly fuzzier cut points, which
      // the balance does not notice at thousands of rows per shard.
      def boundsOf(k: Column): Column =
        percentile_approx(when(pmod(xxhash64(k), lit(20)) === 0, k),
          lit(probs.toArray), lit(1000))
      def distinctSorted(r: Row, i: Int): Seq[Long] =
        // distinct ascending boundaries: heavy ties collapse adjacent
        // quantiles — those rows must share a shard anyway
        // (monotonicity), so dropping duplicate bounds loses nothing
        if (r.isNullAt(i)) Seq.empty else r.getSeq[Long](i).distinct.sorted
      def requireNoBad(bad: Long): Unit = require(bad == 0L,
        badKeys(s"$bad row(s) have null or non-castable values"))
      val (key: Column, bounds: Seq[Long]) =
        if (isString) {
          // Id schemes like `evt-2024-…` share their leading bytes on
          // EVERY key, which eats into the image's resolution — and past
          // 7 shared bytes collapses it (and so every shard) to one
          // value. All keys sort between min and max, so they all carry
          // min∧max's common prefix. ONE pass computes min, max, the
          // null count, and the quantile bounds of the RAW image
          // together; only when the prefix actually degrades those
          // bounds (fewer than half the requested cuts survive dedup)
          // does a second pass re-quantile the prefix-skipped image — so
          // clean corpora pay one scan, prefix-heavy corpora two.
          val st = df.agg(
            count(when(raw.isNull, lit(1))).as("bad"),
            min(col(orderCol)).as("lo"), max(col(orderCol)).as("hi"),
            boundsOf(raw).as("bounds")).head()
          requireNoBad(st.getLong(0))
          val common =
            if (st.isNullAt(1) || st.isNullAt(2)) 0
            else {
              val lo = st.getString(1).getBytes("UTF-8")
              val hi = st.getString(2).getBytes("UTF-8")
              var i = 0
              while (i < lo.length && i < hi.length && lo(i) == hi(i)) i += 1
              i
            }
          val rawBounds = distinctSorted(st, 3)
          if (common == 0 || rawBounds.size * 2 >= probs.size) (raw, rawBounds)
          else {
            val skipped = imageAt(common)
            (skipped, distinctSorted(df.agg(boundsOf(skipped)).head(), 0))
          }
        } else {
          val st = df.agg(
            count(when(raw.isNull, lit(1))).as("bad"),
            boundsOf(raw).as("bounds")).head()
          requireNoBad(st.getLong(0))
          (raw, distinctSorted(st, 1))
        }
      // shard = #boundaries below the key: a monotone non-decreasing
      // step function of the key (ties share a shard), each step holding
      // ~1/S of the rows regardless of key density
      bounds.map(b => when(key > lit(b), 1L).otherwise(0L))
        .reduceOption(_ + _).getOrElse(lit(0L))
    }
    val numbered =
      if (shards == 1)
        ShardedWindow.runningSumOneShard(df, destCol,
          when(raw.isNull, raise_error(lit(badKeys(
            "a row has a null or non-castable value")))).otherwise(lit(0L)),
          Seq(col(orderCol)), lit(1L), "__rn")
      else
        ShardedWindow.runningSum(df, destCol, quantileShard(),
          Seq(col(orderCol)), lit(1L), "__rn")
    numbered.withColumn("batch_id", ((col("__rn") - 1) / size).cast("long"))
      .drop("__rn")
  }

  /** [[microBatch]]'s shard count: one shard per `perShard` bytes of
    * input, clamped to `[1, ceiling]`. Divides rather than multiplies
    * (the [[Dedup.gramFanout]] discipline) and clamps before the +1:
    * `planBytes` saturates at Long.MaxValue when plan stats are
    * invalid, so an unknown-size input clamps to the ceiling instead of
    * overflowing down to one shard. */
  private[graft] def shardCount(bytes: Long, perShard: Long, ceiling: Int): Int =
    (bytes / math.max(1L, perShard)).min(ceiling - 1L).max(0L).toInt + 1

  /** Gateway intake micro-batching (gateway.go:144 webRequestBatcher):
    * the reference closes a batch when `maxBatchSize` requests
    * accumulate OR `batchTimeout` elapses with no arrival. Replayed
    * over event time: an inter-arrival gap > timeout starts a new
    * batch run (gap sessionization) and the size cap splits inside a
    * run — ONE shuffle on the source key, both passes windowed on the
    * same partitioning (Spark reuses the exchange). Emits one row per
    * closed batch (the envelope the gateway would enqueue). */
  def gatewayBatches(df: DataFrame, sourceCol: String, tsMsCol: String,
                     orderCol: String, batchTimeoutMs: Long,
                     maxBatchSize: Int): DataFrame =
    Sessionize.withMaxEvents(df, sourceCol, tsMsCol, gapMs = batchTimeoutMs,
        maxEvents = maxBatchSize, orderCols = Seq(tsMsCol, orderCol))
      .groupBy(col(sourceCol), col("session_seq").as("run_seq"),
        col("session_part").as("batch_part"))
      .agg(
        count(lit(1)).as("n_in_batch"),
        min(col(orderCol)).as("first_id"),
        max(col(orderCol)).as("last_id"),
        min(col(tsMsCol)).as("start_ms"),
        max(col(tsMsCol)).as("end_ms"))

  /** Batch envelope summary — one row per `{"payload":[...]}` the
    * reference would POST (integrations/types.go BatchPayloadT). */
  def batchSummary(df: DataFrame, destCol: String, orderCol: String,
                   size: Int): DataFrame =
    microBatch(df, destCol, orderCol, size)
      .groupBy(col(destCol), col("batch_id"))
      .agg(
        count(lit(1)).as("n_in_batch"),
        min(col(orderCol)).as("first_id"),
        max(col(orderCol)).as("last_id"))

  /** Delivery-ack ingestion — everything AFTER the HTTP response in
    * the reference's router loop (router.go JobsRequestWorker: POST a
    * batch, map the response to a job_status row, schedule the
    * retry). Given the envelope set and the acks that came back, emit
    * the per-batch ledger state the jobsdb would record:
    *  - last code 2xx            → succeeded
    *  - last code 429/5xx        → waiting_retry with exponential
    *                               backoff (base · 2^(attempts−1),
    *                               shift capped at 20), or aborted
    *                               once attempts ≥ maxRetry
    *  - any other code           → aborted (non-retryable 4xx)
    *  - no ack yet               → waiting
    * The POST itself is externalized (an egress layer consumes the
    * envelope body); this closes the ack→ledger loop so the retry /
    * dead-letter views downstream ([[graft.operators.JobLedger]])
    * read a live table.
    *
    * Terminality matches the streaming twin
    * ([[graft.streaming.StreamingPipeline.ackLedgerStream]]) exactly:
    * acks fold in (attempt, ack_ms) order and the state FREEZES at
    * the first terminal transition (2xx, non-retryable 4xx, or a
    * retryable code at/after the `maxRetry`-th fold) — a duplicate or
    * late 503 arriving after a 200 neither reopens a succeeded batch
    * nor inflates the backoff exponent. The fold-position window
    * partitions on the full batch key — cardinality = number of
    * batches, each partition a handful of acks, so the sort is
    * per-batch-tiny (scale-safe; nothing like a per-destination
    * window). Then one partial-agg shuffle + the co-partitioned
    * envelope join. */
  def ackLedger(envelopes: DataFrame, acks: DataFrame,
                batchKeyCols: Seq[String], attemptCol: String,
                codeCol: String, ackTsMsCol: String,
                maxRetry: Int, baseBackoffMs: Long): DataFrame = {
    val keyCols = batchKeyCols.map(col)
    val aCode = col(codeCol)
    val rowRetryable = aCode === 429 || (aCode >= 500 && aCode <= 599)
    val rowSuccess = aCode >= 200 && aCode <= 299
    val wPos = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols: _*).orderBy(col(attemptCol), col(ackTsMsCol))
    val posed = acks
      .withColumn("__pos", row_number().over(wPos).cast("long"))
      .withColumn("__term",
        rowSuccess || !rowRetryable || col("__pos") >= maxRetry)
    val top = posed.groupBy(keyCols: _*)
      .agg(
        count(lit(1)).as("__n_all"),
        // latest folded ack (no-terminal case): max by fold order
        max(struct(col(attemptCol).as("a"), col(ackTsMsCol).as("t"),
          aCode.as("c"))).as("__last_any"),
        // freeze point: EARLIEST terminal fold position (min ignores
        // the null structs of non-terminal rows)
        min(when(col("__term"), struct(col("__pos").as("p"), aCode.as("c"),
          col(ackTsMsCol).as("t")))).as("__stop"))
      .select(keyCols ++ Seq(
        coalesce(col("__stop.p"), col("__n_all")).as("n_attempts"),
        coalesce(col("__stop.c"), col("__last_any.c")).as("last_code"),
        coalesce(col("__stop.t"), col("__last_any.t")).as("last_ack_ms")): _*)
    val retryable = col("last_code") === 429 ||
      (col("last_code") >= 500 && col("last_code") <= 599)
    // both sides leave a groupBy on the batch key hash-partitioned on
    // the join key — a shuffle-hash join adds no exchange and skips
    // the sort-merge sort (neither side is broadcastable at scale:
    // envelopes ≈ acked batches)
    envelopes.join(top.hint("shuffle_hash"), batchKeyCols, "left")
      .withColumn("n_attempts", coalesce(col("n_attempts"), lit(0L)))
      .withColumn("state",
        when(col("last_code").isNull, "waiting")
          .when(col("last_code") >= 200 && col("last_code") <= 299, "succeeded")
          .when(retryable && col("n_attempts") >= maxRetry, "aborted")
          .when(retryable, "waiting_retry")
          .otherwise("aborted"))
      .withColumn("next_retry_ms",
        when(col("state") === "waiting_retry",
          col("last_ack_ms") + lit(baseBackoffMs) *
            expr("shiftleft(1L, cast(least(n_attempts - 1, 20) as int))"))
          .otherwise(lit(null).cast("long")))
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Router, Widths}
import graft.sinks.RestBatcher

/** Router.microBatch's two shapes: a frame sized at ONE shard
  * ([[graft.operators.Widths.shards]]: plan bytes under AQE's
  * advisory partition size) batches inside the consuming job with
  * nothing eager; a larger one (forced here with a 1-byte advisory
  * size, so shards = the width ceiling) takes the quantile-sharded
  * path. Both must assign the same batches and reject null order keys
  * the same way. */
class MicroBatchSpec extends SparkSpec {

  /** A session on the shared context whose microBatch input always
    * exceeds one shard. Its own SQL conf, so suites running alongside
    * keep the default sizing. */
  private lazy val multi: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    s
  }

  private def frame(s: SparkSession, rows: Seq[(String, String)]): DataFrame =
    s.createDataFrame(rows).toDF("dest", "mid")

  private def batchIds(df: DataFrame, order: String): Seq[(String, String, Long)] =
    Router.microBatch(df, "dest", order, size = 8)
      .select("dest", order, "batch_id").collect()
      .map(r => (r.getString(0), String.valueOf(r.get(1)), r.getLong(2))).toSeq.sorted

  test("shardCount: 0 bytes is one shard, unknown size is the ceiling, boundary at perShard") {
    // Router.microBatch's shard count is Widths.shards: the width rule
    // with AQE's advisory partition size as the per-shard bytes
    val per = 64L << 20
    assert(Widths.width(0L, per, 32) == 1)
    assert(Widths.width(per - 1, per, 32) == 1)
    assert(Widths.width(per, per, 32) == 2)
    assert(Widths.width(3 * per, per, 32) == 4)
    // invalid plan stats saturate planBytes at Long.MaxValue: clamp,
    // never overflow down to one shard
    assert(Widths.width(Long.MaxValue, per, 32) == 32)
    assert(Widths.width(Long.MaxValue, 1L, 32) == 32)
    assert(Widths.width(100L, per, 0) == 1)
    // a non-positive advisory size reads as one byte per shard
    assert(Widths.width(2L, 0L, 32) == 3)
    // the spec's frames sit far below Spark's default advisory size
    val small = frame(spark, Seq(("d1", "a")))
    val bytes = Widths.planBytes(small)
    assert(bytes > 0 && bytes < (64L << 20))
    assert(Widths.shards(small) == 1)
  }

  test("one-shard frame: constructing microBatch / envelopes starts no Spark job") {
    val sc = spark.sparkContext
    val group = s"microbatch-construct-${java.util.UUID.randomUUID()}"
    val sentinel = s"microbatch-sentinel-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(started.add)
    }
    sc.addSparkListener(listener)
    try {
      val ids = (0 until 60).map(i => (s"d${i % 3}", Option(i.toLong)))
      val df = spark.createDataFrame(ids).toDF("dest", "seq")
      sc.setJobGroup(group, group)
      val batched = Router.microBatch(df, "dest", "seq", size = 10)
      val bodies = RestBatcher.envelopes(df, "dest", "seq", size = 10)
      val summary = Router.batchSummary(df, "dest", "seq", size = 10)
      // the listener bus is asynchronous and ordered: once the
      // sentinel job's start arrives, every earlier start has too
      sc.setJobGroup(sentinel, sentinel)
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains(sentinel), "sentinel job never reported")
      assert(!started.contains(group),
        s"eager Spark job(s) during construction: $started")
      // …and the frames still deliver: 3 destinations × 20 rows
      assert(batched.count() == 60)
      assert(bodies.count() == 6)
      assert(summary.select("n_in_batch").collect().forall(_.getLong(0) == 10L))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("forced multi-shard path assigns the same batch_ids as the one-shard path") {
    // the OperatorsSpec microBatch corpora: contiguous numeric ids,
    // string ids in binary order, and common-prefix string ids
    val numeric = (0 until 25).map(i => ("d1", i.toLong)) ++
      (0 until 13).map(i => ("d2", (i * 3).toLong))
    val strings = (0 until 30).map(i => ("d1", f"m${(i * 7919) % 97}%02d-${i}%02d"))
    val prefixed = (0 until 30).map(i =>
      ("d1", f"evt-2024-01-01-batch-${(i * 31) % 97}%05d"))
    def numericIds(s: SparkSession) =
      batchIds(s.createDataFrame(numeric).toDF("dest", "seq"), "seq")
    val one = numericIds(spark)
    assert(one == numericIds(multi))
    assert(one.count(_._3 == 0L) == 16 && one.map(_._3).max == 3L)
    for (rows <- Seq(strings, prefixed)) {
      val oneShard = batchIds(frame(spark, rows), "mid")
      assert(oneShard == batchIds(frame(multi, rows), "mid"))
      val sorted = rows.map(_._2).sorted
      assert(oneShard == sorted.zipWithIndex.map { case (m, i) => ("d1", m, (i / 8).toLong) })
    }
  }

  test("null order key fails with 'must be non-null' on the one-shard and multi-shard paths") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    def failure(s: SparkSession, df: SparkSession => DataFrame, order: String): String =
      messages(intercept[Exception] {
        Router.microBatch(df(s), "dest", order, size = 4).collect()
      })
    val numeric = (s: SparkSession) => s.createDataFrame(
      Seq(("d1", Option(1L)), ("d1", None), ("d2", Option(3L)))).toDF("dest", "seq")
    val strings = (s: SparkSession) => s.createDataFrame(
      Seq(("d1", "a"), ("d1", null), ("d2", "c"))).toDF("dest", "mid")
    for ((df, order) <- Seq((numeric, "seq"), (strings, "mid"));
         s <- Seq(spark, multi)) {
      val msg = failure(s, df, order)
      assert(msg.contains(s"order column '$order' must be non-null"), msg)
    }
    // the envelope path surfaces the same guard
    val msg = messages(intercept[Exception] {
      RestBatcher.envelopes(numeric(spark), "dest", "seq", size = 4).collect()
    })
    assert(msg.contains("must be non-null"), msg)
  }
}

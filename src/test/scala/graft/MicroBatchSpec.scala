package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.{Router, Widths}
import graft.sinks.{HttpEgress, RestBatcher}

/** Router.microBatch's two shapes: a frame sized at ONE shard
  * ([[graft.operators.Widths.shards]]: plan bytes under AQE's
  * advisory partition size) batches inside the consuming job with
  * nothing eager; a larger one (forced here with a 1-byte advisory
  * size, so shards = the width ceiling) takes the quantile-sharded
  * path. Both must assign the same batches and reject null order keys
  * the same way. A one-shard frame that is also one task's work
  * ([[graft.operators.Widths.gather]]) is batched, aggregated into
  * envelopes and POSTed in one stage with no exchange. */
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

  /** The OperatorsSpec microBatch corpora: contiguous numeric ids,
    * string ids in binary order, and common-prefix string ids. */
  private val numeric = (0 until 25).map(i => ("d1", i.toLong)) ++
    (0 until 13).map(i => ("d2", (i * 3).toLong))
  private val strings = (0 until 30).map(i => ("d1", f"m${(i * 7919) % 97}%02d-${i}%02d"))
  private val prefixed = (0 until 30).map(i =>
    ("d1", f"evt-2024-01-01-batch-${(i * 31) % 97}%05d"))

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

  private object Plans extends AdaptiveSparkPlanHelper {
    /** Shuffle exchanges of `df`'s physical plan, through AQE's stages. */
    def exchanges(df: DataFrame): Int =
      collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size
  }

  /** The acks of POSTing `df`'s envelopes to no destination (every
    * ack a 404, nothing leaves the JVM). */
  private def delivered(df: DataFrame, order: String): DataFrame =
    HttpEgress.postEnvelopes(RestBatcher.envelopes(df, "dest", order, size = 8),
      "dest", "batch_id", "body", Map.empty[String, String], attempt = 1)

  /** `df` behind a plan estimate above [[Widths.TaskBytes]] (a
    * union with 1M filtered-out rows): still one shard, no longer one
    * task's work, so it takes the exchange plan. */
  private def padded(df: DataFrame): DataFrame = {
    val pad = df.sparkSession.range(0, 1000000, 1, 2).filter(col("id") < 0)
    df.unionByName(pad.select(df.columns.toSeq.map(c =>
      (if (c == "dest") lit("pad") else col("id")).cast(df.schema(c).dataType).as(c)): _*))
  }

  test("one-shard frame: constructing microBatch / envelopes starts no Spark job") {
    val ids = (0 until 60).map(i => (s"d${i % 3}", Option(i.toLong)))
    val df = spark.createDataFrame(ids).toDF("dest", "seq")
    var batched, bodies, summary: DataFrame = null
    val (jobs, _) = underGroup {
      batched = Router.microBatch(df, "dest", "seq", size = 10)
      bodies = RestBatcher.envelopes(df, "dest", "seq", size = 10)
      summary = Router.batchSummary(df, "dest", "seq", size = 10)
    }
    assert(jobs == 0, s"$jobs eager Spark job(s) during construction")
    // …and the frames still deliver: 3 destinations × 20 rows
    assert(batched.count() == 60)
    assert(bodies.count() == 6)
    assert(summary.select("n_in_batch").collect().forall(_.getLong(0) == 10L))
  }

  test("one-task frame: window, envelope aggregate and POSTs run in one stage, no exchange") {
    val df = spark.createDataFrame(numeric).toDF("dest", "seq")
    assert(Widths.of(df) == 1 && Widths.ceiling(spark) > 1 && df.rdd.getNumPartitions > 1)
    val acks = delivered(df, "seq")
    val (jobs, stages) = underGroup(assert(acks.collect().length == 6))
    assert(Plans.exchanges(acks) == 0, acks.queryExecution.executedPlan.treeString)
    assert(jobs == 1 && stages.size == 1, stages.map(s => (s.name, s.numTasks)))
    assert(stages.head.numTasks == 1 && !stages.head.rddInfos.exists(_.name == "ShuffledRowRDD"))
    assert(Plans.exchanges(Router.batchSummary(df, "dest", "seq", size = 8)) == 0)
  }

  test("frames wider than one task keep the exchange plan") {
    // one shard (8 MB of plan bytes is under the advisory size), but
    // above TaskBytes: the window keeps its exchange (on dest alone,
    // which the aggregate reuses: a non-nullable key's shard guard
    // folds to a constant)
    val wide = spark.range(0, 1000000, 1, 2)
      .select((col("id") % 3).cast("string").as("dest"), col("id").as("seq"))
    assert(Widths.shards(wide) == 1 && Widths.of(wide) > 1)
    assert(Plans.exchanges(delivered(wide, "seq")) >= 1)
    // the forced multi-shard session, run to the end
    val many = delivered(multi.createDataFrame(numeric).toDF("dest", "seq"), "seq")
    assert(many.collect().length == 6)
    assert(Plans.exchanges(many) >= 2, many.queryExecution.executedPlan.treeString)
  }

  test("one-task batches and envelope bodies are identical to the exchange plan's") {
    val corpora = Seq(spark.createDataFrame(numeric).toDF("dest", "seq") -> "seq",
      frame(spark, strings) -> "mid", frame(spark, prefixed) -> "mid")
    for ((df, order) <- corpora) {
      val wide = padded(df)
      assert(Widths.of(df) == 1 && Widths.of(wide) > 1)
      def envelopes(f: DataFrame): DataFrame = RestBatcher.envelopes(f, "dest", order, size = 8)
      assert(Plans.exchanges(envelopes(df)) == 0 && Plans.exchanges(envelopes(wide)) >= 2)
      assert(batchIds(df, order) == batchIds(wide, order))
      def bodies(f: DataFrame): Seq[String] =
        envelopes(f).collect().map(r => s"${r.getString(0)} ${r.getLong(1)} ${r.getString(2)}").toSeq.sorted
      val got = bodies(df)
      assert(got.size == df.groupBy("dest").count().collect().map(r => (r.getLong(1) + 7) / 8).sum)
      assert(got == bodies(wide))
      def summary(f: DataFrame): Seq[String] =
        Router.batchSummary(f, "dest", order, size = 8).collect().map(_.toString).toSeq.sorted
      assert(summary(df) == summary(wide))
    }
  }

  test("forced multi-shard path assigns the same batch_ids as the one-shard path") {
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

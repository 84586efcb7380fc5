package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.storage.{RDDInfo, StorageLevel}

import graft.model.{FieldDelete, FieldHide, FieldMap, Rule}
import graft.operators.{TransformRules, Widths}
import graft.sinks.{HttpEgress, RestBatcher}
import graft.sources.{EventBatchReader, Tables}
import graft.streaming.StreamingPipeline

/** The live delivery path reads each persisted micro-batch once: the
  * per-destination TransformRules branches of one trigger, unioned,
  * all read the cached blocks rather than re-running the stateful
  * dedup under them (ColumnBridge.pinCached). A micro-batch that is
  * one task's work is batched, built into envelopes and POSTed in one
  * stage, with no shuffle. */
class LiveFanOutSpec extends SparkSpec {
  import spark.implicits._

  private val destinations: Seq[(String, Seq[Rule])] = Seq(
    "warehouse" -> Seq(FieldHide("properties")),
    "analytics" -> Seq(FieldMap("event", "event_name")),
    "crm" -> Seq(FieldDelete("event", "debug")))

  private def fanOut(batch: DataFrame): DataFrame =
    destinations.map { case (d, rules) =>
      TransformRules(batch, rules).withColumn("dest", lit(d))
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  private def leaves(plan: LogicalPlan): (Int, Int) = (
    plan.collect { case m: InMemoryRelation => m }.size,
    plan.collect { case r: LogicalRDD => r }.size)

  /** Records every job's stages, and the stages submitted to run, by
    * job group; `sync` waits until the listener has seen every job
    * that ended before the call. */
  private class JobStages extends SparkListener {
    val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Vector[Seq[RDDInfo]]]()
    val submitted = new java.util.concurrent.ConcurrentHashMap[String, Vector[StageInfo]]()
    private val marker = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()
    private val markerJobs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (marker.containsKey(g)) markerJobs.put(e.jobId, g)
      else byGroup.merge(g, e.stageInfos.map(_.rddInfos).toVector, _ ++ _)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      submitted.merge(g, Vector(e.stageInfo), _ ++ _)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(markerJobs.remove(e.jobId)).foreach(g => marker.get(g).countDown())
    def sync(): Unit = {
      val g = "sync-" + java.util.UUID.randomUUID()
      val latch = new java.util.concurrent.CountDownLatch(1)
      marker.put(g, latch)
      spark.sparkContext.setJobGroup(g, g)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS))
    }
  }

  /** Whether a stage computes an RDD named `name` itself: one is
    * reachable from the stage's own RDD without passing through a
    * persisted RDD (a stage's `rddInfos` list every narrow ancestor,
    * cached or not; the stage's own RDD comes first). */
  private def computes(stage: Seq[RDDInfo], name: String): Boolean = {
    val byId = stage.map(i => i.id -> i).toMap
    def walk(i: RDDInfo): Boolean =
      i.name == name ||
        (i.storageLevel == StorageLevel.NONE && i.parentIds.flatMap(byId.get).exists(walk))
    stage.headOption.exists(walk)
  }

  test("live fan-out: every destination branch reads the persisted micro-batch once") {
    val spool = tempDir("graft_fanout_spool").toString
    val checkpoint = tempDir("graft_fanout_ck").toString
    def envelope(file: String, ids: Seq[Int]): Unit = {
      val events = ids.map { i =>
        val name = Seq("view", "click", "debug")(i % 3)
        s"""{"messageId":"$i","userId":"u${i % 4}","event":"$name","properties":"{\\"n\\":$i}",""" +
          s""""originalTimestamp":"2024-01-01T00:00:${"%02d".format(i % 60)}.000Z","sentAt":"2024-01-01T00:01:00.000Z"}"""
      }
      val body = s"""{"writeKey":"wk","requestIP":"10.0.0.1","receivedAt":"2024-01-01T00:01:00.000Z","batch":[${events.mkString(",")}]}"""
      val tmp = Paths.get(spool, s".$file.tmp")
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(spool, s"$file.json"))
    }

    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    for ((d, _) <- destinations) server.createContext(s"/$d", { e =>
      received.add(d + " " + new String(e.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      e.sendResponseHeaders(200, -1); e.close()
    })
    server.start()
    val stages = new JobStages
    spark.sparkContext.addSparkListener(stages)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val expected = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val urls = destinations.map { case (d, _) =>
        d -> s"http://localhost:${server.getAddress.getPort}/$d" }.toMap
      def handle(df: DataFrame, id: Long): Unit = {
        val sc = df.sparkSession.sparkContext
        sc.setJobGroup(s"intake $id", "intake")
        val batch = df.withColumn("seq", col("message_id").cast("long"))
          .withColumn("trigger", lit(id)).persist()
        try if (!batch.isEmpty) {
          val routed = fanOut(batch)
          plans.add(leaves(routed.queryExecution.withCachedData))
          assert(Widths.of(routed) == 1)
          sc.setJobGroup(s"deliver $id", "deliver")
          HttpEgress.postEnvelopes(RestBatcher.envelopes(routed, "dest", "seq", 4),
            "dest", "batch_id", "body", urls, attempt = 1).select("code").collect()
            .foreach(r => assert(r.getLong(0) == 200L))
          // the same micro-batch's rows as a plain, uncached frame: the
          // bodies an unpinned build delivers
          sc.setJobGroup(s"reference $id", "reference")
          val plain = spark.createDataFrame(
            spark.sparkContext.parallelize(batch.collect().toSeq, 2), batch.schema)
          RestBatcher.envelopes(fanOut(plain), "dest", "seq", 4)
            .select(concat_ws(" ", col("dest"), col("body"))).as[String].collect()
            .foreach(expected.add)
        } finally batch.unpersist(blocking = true)
      }
      val events = EventBatchReader.readStream(spark, spool)
        .withColumn("ts_ms", unix_millis(col("original_timestamp")))
      val query = StreamingPipeline.dedupStream(events, Seq("message_id"))
        .writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch((df: DataFrame, id: Long) => handle(df, id))
        .start()
      try {
        envelope("a", (0 until 24) ++ (0 until 6)) // re-sends inside one batch
        query.processAllAvailable()
        envelope("b", (18 until 40)) // re-sends across batches
        query.processAllAvailable()
      } finally query.stop()
      stages.sync()

      import scala.jdk.CollectionConverters._
      assert(plans.size == 2, "two busy micro-batches")
      assert(plans.asScala.forall(_ == ((3, 0))),
        s"(InMemoryRelation, LogicalRDD) leaves per union: ${plans.asScala.toList}")
      val delivery = stages.byGroup.asScala.collect {
        case (g, s) if g.startsWith("deliver ") => s
      }.flatten.toSeq
      assert(delivery.nonEmpty)
      assert(!delivery.exists(computes(_, "StateStoreRDD")),
        "a delivery job re-ran the stateful dedup")
      // each delivery job computes one stage of one task: no shuffle
      // between the numbering window, the envelope aggregate and the POSTs
      val ran = stages.submitted.asScala.collect {
        case (g, s) if g.startsWith("deliver ") => g -> s.map(i => (i.numTasks, computes(i.rddInfos, "ShuffledRowRDD")))
      }
      assert(ran.size == 2 && ran.values.forall(_ == Vector((1, false))), ran)
      // the dedup does show in the listener under that name: the intake
      // job (isEmpty filling the cache) computes it
      assert(stages.byGroup.asScala.collect {
        case (g, s) if g.startsWith("intake ") => s
      }.flatten.exists(_.exists(_.name == "StateStoreRDD")))
      assert(received.asScala.toSeq.sorted == expected.asScala.toSeq.sorted)
      assert(received.asScala.map(_.takeWhile(_ != ' ')).toSet == destinations.map(_._1).toSet)
      // 40 distinct ids, one copy each per destination; crm drops "debug"
      val delivered = received.asScala.toSeq.map(b => b.split("\"message_id\"").length - 1).sum
      assert(delivered == 40 + 40 + (40 - (0 until 40).count(_ % 3 == 2)))
    } finally {
      spark.sparkContext.removeSparkListener(stages)
      spark.sparkContext.clearJobGroup()
      server.stop(0)
    }
  }

  test("pinCached: uncached and plain persisted inputs keep their plans") {
    val rules = Seq(FieldMap("event_type", "action"), FieldDelete("event_type", "error"))
    val table = Tables(spark, sf, "events")
    assert(ColumnBridge.pinCached(table) eq table)
    val plain = Seq((1L, "click", "a1"), (2L, "error", "a2"), (3L, "view", "a3"))
      .toDF("id", "event_type", "anonymousId").persist()
    try {
      assert(ColumnBridge.pinCached(plain) eq plain)
      for (f <- Seq(table, plain)) {
        val out = TransformRules(f, rules).queryExecution.analyzed
        assert(leaves(out) == ((0, 0)), out.treeString)
        assert(out.collectLeaves() == f.queryExecution.analyzed.collectLeaves())
      }
      // Spark keeps the cache on a plain frame's self-union by itself
      val routed = destinations.map { case (d, rs) =>
        TransformRules(plain.withColumnRenamed("event_type", "event"), rs).withColumn("dest", lit(d))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      assert(leaves(routed.queryExecution.withCachedData)._1 == 3)
    } finally plain.unpersist(blocking = true)
  }

  test("pinCached: a partitioned LogicalRDD's union reads the cache; rows survive unpersist") {
    // the frame foreachBatch hands over after a shuffle, in miniature:
    // a LogicalRDD that reports hash partitioning on its key. Without
    // AQE a checkpoint keeps the partitioning of its last exchange.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val keyed =
      try spark.range(0, 200, 1, 3).select(col("id"), (col("id") % 7).as("g"))
        .repartition(4, col("id")).localCheckpoint().persist()
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    val union3 = (f: DataFrame) =>
      Seq(0L, 1L, 2L).map(g => f.filter(col("g") === g)).reduce(_ unionByName _)
    try {
      // the defect pinCached works around: the second and third union
      // children miss the cache
      assert(leaves(union3(keyed).queryExecution.withCachedData) == ((1, 2)))
      val pinned = ColumnBridge.pinCached(keyed)
      assert(leaves(union3(pinned).queryExecution.withCachedData) == ((3, 0)))
      val want = union3(pinned).collect().map(_.getLong(0)).sorted.toSeq
      assert(want == (0L until 200L).filter(_ % 7 < 3))
      keyed.unpersist(blocking = true)
      assert(keyed.storageLevel == StorageLevel.NONE)
      // the contract is "consume before unpersisting"; past it the
      // pinned frame still answers the same rows
      assert(union3(pinned).collect().map(_.getLong(0)).sorted.toSeq == want)
    } finally keyed.unpersist(blocking = true)
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.model.{FieldDelete, FieldHide, FieldMap, Rule}
import graft.sinks.{HttpEgress, RestBatcher}
import graft.sources.{ConfigStore, EventBatchReader, HttpIngress}
import graft.streaming.StreamingPipeline

/** The kassette service path, live:
  * HttpIngress (auth from ConfigStore) → spool → EventBatchReader
  * stream → dedupStream on message_id → per micro-batch TransformRules
  * for three destinations → RestBatcher.envelopes → postEnvelopes.
  *
  *   perfbench.Harness live --out=DIR --dest=URL --write-keys=a,b,..
  *     --disabled=KEY --trace=0|1
  *
  * Hand-shake with the traffic generator (a separate process) runs
  * through files in `out`: this side writes `ingress_port` once the
  * stream is up, waits for the generator's `gen_done`, drains and
  * writes `drained`, waits for `probes_done`, then writes
  * `result.json`, `batches.csv` and `triggers.jsonl`. */
object Live {
  import Harness._

  val Destinations: Seq[(String, Seq[Rule])] = Seq(
    "warehouse" -> Seq(FieldHide("properties")),
    "analytics" -> Seq(FieldMap("event", "event_name")),
    "crm" -> Seq(FieldDelete("event", "debug")))
  val EnvelopeSize = 100
  /** Set-ups per run; `setup_s` is their median (see [[Batch]]). */
  val SetupRepeats = 5
  val WarmIds = 9000000000000L

  final case class Progress(batchId: Long, startMs: Double, durations: Map[String, Long],
                           rows: Long, stateRows: Long, stateMemBytes: Long)

  final class Service(val spark: SparkSession, val server: com.sun.net.httpserver.HttpServer,
                      val query: StreamingQuery) {
    def stop(): Unit = { query.stop(); server.stop(0); Harness.stop(spark) }
  }

  def run(o: Map[String, String]): Unit = {
    val out = Paths.get(o("out")).toAbsolutePath.toString
    val destBase = o("dest")
    val writeKeys = o("write-keys").split(",").toSeq
    val disabled = o("disabled")
    val traced = o.get("trace").contains("1")
    System.setProperty("derby.stream.error.file", s"$out/derby.log")
    Files.createDirectories(Paths.get(out))

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]() // id,start
    val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    val acks = new java.util.concurrent.ConcurrentLinkedQueue[Int]() // egress status codes
    val spans = if (traced) Some(new Spans) else None
    @volatile var tracing: Option[Tracing] = None
    val plans = new PlanListener(spans)
    val urls = Destinations.map { case (d, _) => d -> s"$destBase/$d" }.toMap

    // one micro-batch: transform per destination, batch into
    // envelopes, POST them. Every event carries its trigger id to the
    // destinations; an event counts as visible from the start of the
    // micro-batch that carries it.
    def handle(df: DataFrame, batchId: Long): Unit = {
      val group = s"trigger $batchId"
      Current.group = group
      df.sparkSession.sparkContext.setJobGroup(group, group)
      val t0 = Clock.now()
      batches.add(s"$batchId,$t0")
      val batch = df.withColumn("seq", col("message_id").cast("long"))
        .withColumn("trigger", lit(batchId)).persist()
      if (!batch.isEmpty) {
        val t1 = Clock.now()
        val routed = Destinations.map { case (d, rules) =>
          graft.operators.TransformRules(batch, rules).withColumn("dest", lit(d))
        }.reduce(_.unionByName(_, allowMissingColumns = true))
        val t2 = Clock.now()
        val envelopes = RestBatcher.envelopes(routed, "dest", "seq", EnvelopeSize)
        val t3 = Clock.now()
        val got = HttpEgress.postEnvelopes(envelopes, "dest", "batch_id", "body", urls, attempt = 1)
          .select("code").collect()
        val t4 = Clock.now()
        got.foreach(r => acks.add(r.getLong(0).toInt))
        tracing.foreach(_.sync())
        spans.foreach { s =>
          s.add(Span("foreachBatch", "streaming.sink", t0, t4, group, 2))
          s.add(Span("intake", "streaming.intake", t0, t1, group, 3))
          s.add(Span("TransformRules", "queries.construct", t1, t2, group, 3))
          s.add(Span("RestBatcher.envelopes", "operators.batch", t2, t3, group, 3))
          s.add(Span("postEnvelopes", "sinks.egress", t3, t4, group, 3))
        }
      }
      // blocking: a heap sample right after the drain must not see the
      // last micro-batch's cached blocks
      batch.unpersist(blocking = true)
    }

    val progress = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val st = p.stateOperators
        triggers.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          d, p.numInputRows, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum))
      }
    }

    def startService(i: Int): Service = {
      val spark = session()
      // state-store maintenance (snapshots, cleanup of old versions) on a
      // background timer would run at a different point in each run and
      // move the heap samples; pinned off for the length of a run
      spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      spark.conf.set("spark.sql.streaming.minBatchesToRetain", "100")
      spark.listenerManager.register(plans)
      val db = s"jdbc:derby:memory:perfbench_$i;create=true"
      ConfigStore.bootstrap(db)
      writeKeys.zipWithIndex.foreach { case (wk, j) =>
        ConfigStore.insertSource(db, j + 1L, s"source$j", 1, wk, 1, "{}",
          status = if (wk == disabled) "disabled" else "enabled")
      }
      val spool = s"$out/spool$i"
      val server = HttpIngress.start(0, spool, wk => ConfigStore.isWriteKeyEnabled(db, wk))
      val events = EventBatchReader.readStream(spark, spool)
        .withColumn("ts_ms", unix_millis(col("original_timestamp")))
      val query = StreamingPipeline.dedupStream(events, Seq("message_id"))
        .writeStream
        .option("checkpointLocation", s"$out/checkpoint$i")
        .foreachBatch((df: DataFrame, id: Long) => handle(df, id))
        .start()
      query.processAllAvailable()
      new Service(spark, server, query)
    }

    /** One envelope through the whole path (untimed warm-up: the first
      * micro-batch with data pays the path's code generation). Its ids
      * sit above WarmIds and are left out of the accounting. */
    def warmUp(svc: Service): Unit = {
      val now = java.time.Instant.now()
      val items = (0 until 10).map { e =>
        s"""{"messageId":"${WarmIds + e}","userId":"warm","event":"view",""" +
          s""""originalTimestamp":"$now","sentAt":"$now"}"""
      }
      val body = s"""{"writeKey":"${writeKeys.filter(_ != disabled).head}",""" +
        s""""requestIP":"127.0.0.1","receivedAt":"$now","batch":[${items.mkString(",")}]}"""
      java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${svc.server.getAddress.getPort}/v1/batch"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.discarding())
      svc.query.processAllAvailable()
    }

    def await(name: String): Unit = {
      val deadline = System.nanoTime() + 170L * 1000000000L
      while (!Files.exists(Paths.get(out, name)) && System.nanoTime() < deadline)
        Thread.sleep(10)
    }

    // set-up, several times: session, config-store bootstrap, gateway
    // and stream start; the last service stays up for the traffic
    val setups = ArrayBuffer[Double]()
    var svc: Service = null
    for (i <- 0 until SetupRepeats) {
      if (svc != null) svc.stop()
      val t0 = System.nanoTime()
      svc = startService(i)
      setups += (System.nanoTime() - t0) / 1e9
    }
    warmUp(svc)
    val spark = svc.spark
    triggers.clear(); batches.clear(); acks.clear()
    spark.streams.addListener(progress)
    Heap.sample()
    tracing = spans.map(s => new Tracing(spark, Some(s), plans, registered = true))
    tracing.foreach(_.on(true))
    // written whole, then renamed: the generator polls for this file
    Files.writeString(Paths.get(out, "ingress_port.tmp"), svc.server.getAddress.getPort.toString)
    Files.move(Paths.get(out, "ingress_port.tmp"), Paths.get(out, "ingress_port"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    // open-loop traffic, then its drain, then the generator's probes
    await("gen_done")
    val drain0 = Clock.now()
    svc.query.processAllAvailable()
    val drainMs = Clock.now() - drain0
    Heap.sample()
    Files.writeString(Paths.get(out, "drained"), "")
    await("probes_done")
    svc.query.processAllAvailable()
    // after the probes every event of the run is in dedup state
    val endHeapMb = Heap.sample()
    val engineCounters = tracing.map(_.engine.counters).getOrElse(Nil)
    tracing.foreach(_.close())
    spark.streams.removeListener(progress)
    val spoolFiles = Option(new java.io.File(s"$out/spool${SetupRepeats - 1}").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.endsWith(".json"))
    svc.stop()

    import scala.jdk.CollectionConverters._
    Files.writeString(Paths.get(out, "batches.csv"), batches.asScala.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(out, "triggers.jsonl"), triggers.asScala.map { t =>
      Json.obj(Seq("batch" -> t.batchId.toString, "start" -> Json.num(t.startMs),
        "durations" -> Json.obj(t.durations.map { case (k, v) => k -> v.toString }),
        "rows" -> t.rows.toString, "state_rows" -> t.stateRows.toString,
        "state_mem" -> t.stateMemBytes.toString))
    }.mkString("", "\n", "\n"))
    spans.foreach { s =>
      // trigger phases as spans, laid end to end in execution order
      // from the trigger's start (the progress event gives durations only)
      triggers.asScala.foreach { t =>
        val total = t.durations.getOrElse("triggerExecution", 0L).toDouble
        s.add(Span(s"trigger ${t.batchId}", "streaming.trigger", t.startMs, t.startMs + total,
          s"trigger ${t.batchId}", 0))
        var at = t.startMs
        Seq("latestOffset" -> "streaming.latest_offset", "walCommit" -> "streaming.wal_commit",
          "getBatch" -> "streaming.get_batch", "queryPlanning" -> "streaming.query_planning",
          "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.commit")
          .foreach { case (k, layer) =>
            t.durations.get(k).foreach { v =>
              s.add(Span(k, layer, at, at + v, s"trigger ${t.batchId}", 1))
              at += v
            }
          }
      }
      s.writeJsonl(s"$out/spans.jsonl")
    }
    val ackList = acks.asScala.toSeq
    writeResult(out, Seq(
      "cpus" -> cpus.toString,
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "drain_ms" -> Json.num(drainMs),
      "egress_posts" -> ackList.size.toString,
      "egress_non2xx" -> ackList.count(c => c < 200 || c > 299).toString,
      "spool_files" -> spoolFiles.length.toString,
      "spool_bytes" -> spoolFiles.map(_.length).sum.toString,
      "engine" -> numMap(engineCounters),
      "peak_heap_mb" -> Json.num(Heap.peakMb),
      "heap_after_traffic_mb" -> Json.num(endHeapMb)))
  }
}

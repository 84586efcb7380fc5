package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{EventBatchReader, HttpIngress, Spool}
import graft.streaming.StreamingPipeline

/** The stream owns its spool ([[EventBatchReader.readStream]] reads it
  * with `cleanSource` = `delete`): a spool file stays until the
  * micro-batch that read it has committed, a restart on the same
  * checkpoint still delivers every accepted event once, and a drained
  * spool is empty. */
class SpoolPruneSpec extends SparkSpec {

  private def spooled(spool: String): Set[String] = {
    val s = Files.list(java.nio.file.Paths.get(spool))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".json")).toSet
    finally s.close()
  }

  /** Waits for Spark's background cleaner to leave `spool` empty. */
  private def drained(spool: String): Boolean = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (spooled(spool).nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    spooled(spool).isEmpty
  }

  private def envelope(ids: Seq[Int]): String = {
    val events = ids.map { i =>
      s"""{"messageId":"$i","userId":"u${i % 4}","event":"view",""" +
        s""""originalTimestamp":"2024-01-01T00:00:${"%02d".format(i % 60)}.000Z","sentAt":"2024-01-01T00:01:00.000Z"}"""
    }
    s"""{"writeKey":"wk","requestIP":"10.0.0.1",""" +
      s""""receivedAt":"2024-01-01T00:01:00.000Z","batch":[${events.mkString(",")}]}"""
  }

  /** The live shape on its own session: `readStream` → `dedupStream` →
    * `foreachBatch(handle)`; each step runs, then the query takes
    * everything available. */
  private def run(spool: String, checkpoint: Path)(handle: DataFrame => Unit)(
      steps: (() => Unit)*): Unit = {
    val s = spark.newSession()
    val events = EventBatchReader.readStream(s, spool)
      .withColumn("ts_ms", unix_millis(col("original_timestamp")))
    val query = StreamingPipeline.dedupStream(events, Seq("message_id"))
      .writeStream.option("checkpointLocation", checkpoint.toString)
      .foreachBatch((df: DataFrame, _: Long) => handle(df))
      .start()
    try steps.foreach { step => step(); query.processAllAvailable() }
    finally query.stop()
  }

  test("a request's spool file survives until its micro-batch commits, then goes") {
    val spool = tempDir("graft_prune_spool").toString
    val checkpoint = tempDir("graft_prune_ck").resolve("ck")
    // (message ids, spool files present) as each busy micro-batch runs
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Set[String], Set[String])]()
    val files = scala.collection.mutable.Map[Set[String], String]()
    def request(ids: Seq[Int]): () => Unit = () => {
      val before = spooled(spool)
      Spool.spool(spool, "req", envelope(ids))
      val added = spooled(spool) -- before
      assert(added.size == 1, added)
      files(ids.map(_.toString).toSet) = added.head
    }
    run(spool, checkpoint) { df =>
      val ids = df.select("message_id").collect().map(_.getString(0)).toSet
      if (ids.nonEmpty) seen.add(ids -> spooled(spool))
    }(request(0 until 10), request(10 until 20), request(20 until 30))
    val batches = seen.asScala.toList
    assert(batches.map(_._1) == files.keys.toList.sortBy(_.map(_.toInt).min))
    batches.foreach { case (ids, present) =>
      assert(present.contains(files(ids)), s"${files(ids)} gone while its batch ran: $present")
    }
    assert(drained(spool), s"left in the spool: ${spooled(spool)}")
  }

  test("a restart on the same checkpoint delivers each accepted event exactly once; the spool drains") {
    val spool = tempDir("graft_prune_spool").toString
    val checkpoint = tempDir("graft_prune_ck").resolve("ck")
    val server = HttpIngress.start(0, spool, _ == "wk")
    val client = HttpClient.newHttpClient()
    def post(ids: Seq[Int]): () => Unit = () => assert(client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:${server.getAddress.getPort}/v1/batch"))
        .POST(HttpRequest.BodyPublishers.ofString(envelope(ids))).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode() == 200)
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def handle(df: DataFrame): Unit =
      df.select("message_id").collect().foreach(r => delivered.add(r.getString(0)))
    try {
      run(spool, checkpoint)(handle)(post((0 until 20) ++ (0 until 5)), post(15 until 30))
      // accepted while no stream runs: spooled, and read after the restart
      post(25 until 40)()
      assert(spooled(spool).nonEmpty)
      run(spool, checkpoint)(handle)(() => (), post(35 until 50))
    } finally server.stop(0)
    assert(delivered.asScala.toList.sorted == (0 until 50).map(_.toString).sorted)
    assert(drained(spool), s"left in the spool: ${spooled(spool)}")
  }
}

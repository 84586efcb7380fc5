package graft.sinks

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The destination `Send` loop — the reference's HTTP egress
  * (integrations/anaplan/main.go:227 Send, powerbi/keen equivalents;
  * router.go JobsRequestWorker drives it): POST each
  * `{"payload":[...]}` envelope body to its destination endpoint and
  * fold the responses into the delivery-ack ledger.
  *
  * Spark-native shape: the POSTs run per PARTITION on the executors
  * via mapPartitions — egress parallelism IS the frame's partitioning,
  * so a fleet re-partitions by destination to respect per-endpoint
  * concurrency, and no envelope body ever moves to the driver. The
  * envelopes of a live micro-batch that is one task's work arrive on
  * one partition ([[graft.sinks.RestBatcher.envelopes]]), so one task
  * POSTs them all, in the stage that built them. Every task of a JVM
  * shares one HttpClient ([[client]]): a client holds a selector
  * thread until it is collected, so one per partition would pile up
  * threads, and a shared one keeps its connections open for the next
  * micro-batch. Connect and request timeouts are both
  * [[TimeoutMs]]. The
  * returned frame is exactly the ack shape [[graft.operators.Router.ackLedger]]
  * consumes; a network-level failure (connect/timeout) yields the
  * pseudo-code 599 — retryable, like the reference treating transport
  * errors as retriable sends.
  */
object HttpEgress {

  private val TimeoutMs = 10000L

  /** The JVM's one egress client. */
  private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofMillis(TimeoutMs)).build()

  /** One delivery pass: POST every envelope row, return acks
    * (dest, batch_id, attempt, code, ack_ms). */
  def postEnvelopes(envelopes: DataFrame, destCol: String,
                    batchIdCol: String, bodyCol: String,
                    urlByDest: Map[String, String], attempt: Int): DataFrame = {
    val spark = envelopes.sparkSession
    import spark.implicits._
    envelopes
      .select(col(destCol).cast("string"), col(batchIdCol).cast("long"),
        col(bodyCol).cast("string"))
      .as[(String, Long, String)]
      .mapPartitions { it =>
        it.map { case (dest, batchId, body) =>
          val code = urlByDest.get(dest) match {
            case None => 404 // unroutable destination: non-retryable
            case Some(url) =>
              try {
                val req = HttpRequest.newBuilder(URI.create(url))
                  .timeout(Duration.ofMillis(TimeoutMs))
                  .header("Content-Type", "application/json")
                  .POST(HttpRequest.BodyPublishers.ofString(body)).build()
                client.send(req, HttpResponse.BodyHandlers.discarding())
                  .statusCode()
              } catch { case _: Exception => 599 } // transport error: retryable
          }
          (dest, batchId, attempt.toLong, code.toLong, System.currentTimeMillis())
        }
      }
      .toDF(destCol, batchIdCol, "attempt", "code", "ack_ms")
  }

  /** Always-on delivery — the router worker as a stream: each
    * micro-batch of envelopes POSTs executor-side (through
    * [[postEnvelopes]]) and the resulting acks go to
    * `ackSink` (append them to the ledger table that
    * [[graft.streaming.StreamingPipeline.ackLedgerStream]] or the
    * batch [[graft.operators.Router.ackLedger]] folds; re-delivery of
    * `waiting_retry` batches is the ledger consumer's enqueue, as in
    * jobsdb). `attemptCol` carries per-envelope attempt numbers when
    * the upstream enqueues retries; absent, every send is attempt 1.
    * With `attemptCol` the micro-batch is persisted for the length of
    * `ackSink`, which must consume the acks before it returns. */
  def streamDeliver(envelopes: DataFrame, destCol: String,
                    batchIdCol: String, bodyCol: String,
                    urlByDest: Map[String, String],
                    attemptCol: Option[String] = None)(
      ackSink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    envelopes.writeStream.foreachBatch {
      (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], microBatchId: Long) =>
        attemptCol match {
          case Some(ac) =>
            // per-attempt grouping keeps postEnvelopes' scalar contract;
            // the micro-batch is read once, by the attempt scan, and
            // every attempt's branch reads its cached blocks
            val batch = df.persist()
            try {
              val attempts = batch.select(col(ac).cast("int")).distinct()
                .collect().map(_.getInt(0)).sorted
              val pinned = org.apache.spark.sql.graftbridge.ColumnBridge.pinCached(batch)
              val acks = attempts.map(a => postEnvelopes(pinned.filter(col(ac) === a),
                  destCol, batchIdCol, bodyCol, urlByDest, a))
                .reduceOption(_ unionByName _)
                .getOrElse(postEnvelopes(pinned.limit(0), destCol, batchIdCol,
                  bodyCol, urlByDest, 1))
              ackSink(acks, microBatchId)
            } finally batch.unpersist()
          case None =>
            ackSink(postEnvelopes(df.toDF(), destCol, batchIdCol, bodyCol,
              urlByDest, 1), microBatchId)
        }
    }

  /** The FULL JobsRequestWorker loop, batch form: POST every
    * envelope, fold acks into the ledger, re-POST only the
    * `waiting_retry` batches after their backoff, until every batch
    * is terminal or the retry ceiling is reached. Each round is one
    * distributed delivery pass + one ledger fold — the driver holds
    * only the loop counter, never a payload. `sleeper` is injectable
    * so tests run the backoff clock at full speed. Returns the final
    * ledger frame (Router.ackLedger columns). */
  def deliverWithRetries(envelopes: DataFrame, destCol: String,
                         batchIdCol: String, bodyCol: String,
                         urlByDest: Map[String, String],
                         maxRetry: Int, baseBackoffMs: Long,
                         sleeper: Long => Unit = Thread.sleep): DataFrame = {
    import graft.operators.Router
    val keys = Seq(destCol, batchIdCol)
    val summary = envelopes.drop(bodyCol).localCheckpoint(eager = true)
    def ledgerOf(acks: DataFrame) =
      Router.ackLedger(summary, acks, keys, "attempt", "code", "ack_ms",
        maxRetry, baseBackoffMs)
    var pending = envelopes
    var acks: Option[DataFrame] = None
    var attempt = 1
    while (attempt <= maxRetry && !pending.isEmpty) {
      val got = postEnvelopes(pending, destCol, batchIdCol, bodyCol,
        urlByDest, attempt).localCheckpoint(eager = true)
      acks = Some(acks.fold(got)(_ unionByName got))
      val retryable = ledgerOf(acks.get)
        .filter(col("state") === "waiting_retry")
        .select(keys.map(col): _*)
      pending = envelopes.join(broadcast(retryable), keys, "left_semi")
      attempt += 1
      if (attempt <= maxRetry && !pending.isEmpty)
        sleeper(baseBackoffMs << math.min(attempt - 2, 20))
    }
    ledgerOf(acks.getOrElse(
      postEnvelopes(envelopes.limit(0), destCol, batchIdCol, bodyCol,
        urlByDest, 1)))
  }
}

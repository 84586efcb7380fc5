package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gateway-envelope intake (kassette-server gateway/gateway.go +
  * misc.go:113 ParseKassetteEventBatch): accepts `{"batch":[...]}`
  * JSON payloads, explodes the batch, stamps receivedAt / request_ip /
  * MD5 message ids (misc.go:91 GetMD5UUID) exactly like the gateway's
  * web-request batcher.
  *
  * Spark-first: the Go server parses each HTTP body on one goroutine
  * pool; here a whole directory/stream of batch files is one
  * distributed `from_json` + `explode` projection — no driver loop.
  */
object EventBatchReader {

  /** Schema of a single event inside a batch envelope (open payload:
    * unparsed fields stay in `props` as raw JSON via the parser's
    * permissive mode). */
  def eventSchema: StructType = StructType(Seq(
    StructField("messageId", StringType),
    StructField("anonymousId", StringType),
    StructField("userId", StringType),
    StructField("event", StringType),
    // worker-sourced items (RestPoller / extract.go:118) are tagged
    // with the history api they came from; the processor routes on it
    // (processor.go reads kassetteType per batch item). Null for
    // plain web events.
    StructField("kassetteType", StringType),
    StructField("originalTimestamp", StringType),
    StructField("sentAt", StringType),
    StructField("properties", StringType)))

  def envelopeSchema: StructType = StructType(Seq(
    StructField("writeKey", StringType),
    StructField("requestIP", StringType),
    StructField("receivedAt", StringType),
    StructField("batch", ArrayType(eventSchema))))

  /** Parse a column of raw envelope JSON into exploded, stamped
    * events — one output row per singular event, with the processor's
    * timestamp-skew fix applied (processor.go:194-205). */
  def explodeBatches(df: DataFrame, jsonCol: String): DataFrame = {
    val parsed = df.withColumn("_env", from_json(col(jsonCol), envelopeSchema))
    parsed
      .select(col("_env.writeKey").as("write_key"),
        col("_env.requestIP").as("request_ip"),
        to_timestamp(col("_env.receivedAt")).as("received_at"),
        posexplode(col("_env.batch")).as(Seq("batch_idx", "evt")))
      .select(
        col("write_key"), col("request_ip"), col("received_at"), col("batch_idx"),
        // Fallback id for events that arrive without a messageId. The
        // reference assigns a random UUID (gateway.go
        // setRandomMessageIDWhenEmpty); random ids break Spark task-retry
        // determinism, so hash the full envelope identity instead —
        // received_at + request_ip + writeKey disambiguate two envelopes
        // that carry the same event name at the same batch position.
        coalesce(col("evt.messageId"),
          md5(concat_ws(":", col("write_key"), col("batch_idx"),
            col("received_at").cast("string"), col("request_ip"),
            col("evt.event"), col("evt.sentAt")))).as("message_id"),
        col("evt.userId").as("user_id"),
        col("evt.event").as("event"),
        col("evt.kassetteType").as("kassette_type"),
        to_timestamp(col("evt.originalTimestamp")).as("original_timestamp"),
        to_timestamp(col("evt.sentAt")).as("sent_at"),
        col("evt.properties").as("properties"))
      // processor.go:205 — correct client clock skew:
      // timestamp = receivedAt - (sentAt - originalTimestamp)
      .withColumn("timestamp",
        timestamp_micros(unix_micros(col("received_at")) -
          (unix_micros(col("sent_at")) - unix_micros(col("original_timestamp")))))
  }

  /** Batch read of envelope files (one JSON document per line). */
  def read(spark: SparkSession, path: String): DataFrame =
    explodeBatches(spark.read.text(path).withColumnRenamed("value", "raw"), "raw")

  /** Streaming read of the same envelopes (gateway as a stream). The
    * caller's session commits the stream's checkpoint files through
    * [[CheckpointFiles]] from here on, whoever built it.
    *
    * The stream owns the spool it reads: Spark's file-source cleaner
    * (`cleanSource` = `delete`) deletes each spool file once the
    * micro-batch that read it has committed, so a spool file lives
    * from its request's 200 until the micro-batch that carries its
    * events commits, and each trigger lists only what is still
    * pending, however long the service has run. Read a spool through
    * one stream only, and not with [[read]] once a stream has read
    * it. */
  def readStream(spark: SparkSession, path: String): DataFrame = {
    graft.GraftSession.checkpoints(spark)
    explodeBatches(spark.readStream.option("cleanSource", "delete").text(path)
      .withColumnRenamed("value", "raw"), "raw")
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.sinks.{RestBatcher, WarehouseWriter}
import graft.sources.{ConfigStore, EventBatchReader}

class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  test("EventBatchReader explodes envelopes and fixes clock skew") {
    val env =
      """{"writeKey":"wk1","requestIP":"10.0.0.1","receivedAt":"2024-01-01T00:10:00.000Z",
        |"batch":[{"messageId":"m1","userId":"u1","event":"click",
        | "originalTimestamp":"2024-01-01T00:00:00.000Z","sentAt":"2024-01-01T00:05:00.000Z"},
        |{"userId":"u2","event":"view",
        | "originalTimestamp":"2024-01-01T00:01:00.000Z","sentAt":"2024-01-01T00:01:00.000Z"}]}"""
        .stripMargin.replaceAll("\n", "")
    val out = EventBatchReader.explodeBatches(Seq(env).toDF("raw"), "raw")
      .orderBy("batch_idx").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("message_id") == "m1")
    // skew: received 00:10, sent 00:05, orig 00:00 -> timestamp 00:05
    assert(out(0).getAs[java.sql.Timestamp]("timestamp").toInstant.toString
      == "2024-01-01T00:05:00Z")
    // missing messageId -> deterministic md5 fallback
    assert(out(1).getAs[String]("message_id").length == 32)
  }

  test("fallback message ids are unique across envelopes (same key/idx/event)") {
    // two envelopes, same writeKey, same batch position, same event
    // name, no messageId — only receivedAt differs; ids must differ
    def env(at: String) =
      s"""{"writeKey":"wk1","requestIP":"10.0.0.1","receivedAt":"$at",
         |"batch":[{"event":"click","userId":"u1",
         |"originalTimestamp":"$at","sentAt":"$at"}]}""".stripMargin.replace("\n", "")
    val out = EventBatchReader.explodeBatches(
      Seq(env("2024-01-10T00:00:00Z"), env("2024-01-10T00:00:01Z")).toDF("raw"), "raw")
      .select("message_id").collect().map(_.getString(0))
    assert(out.length == 2 && out.distinct.length == 2)
  }

  test("CatalogReader.readStream drives the catalogue's stream formats") {
    val spec = graft.sources.CatalogReader.StreamSpec(
      "rate", options = Map("rowsPerSecond" -> "5"))
    val df = graft.sources.CatalogReader.readStream(spark, spec)
    assert(df.isStreaming && df.columns.contains("value"))
  }

  test("WarehouseWriter generates dialect DDL") {
    val schema = TableSchema("audit_events", Seq(
      SchemaField("id", "INT", primaryKey = true),
      SchemaField("name", "STRING"), SchemaField("at", "TIMESTAMP")))
    val pg = WarehouseWriter.ddl(schema, "postgres")
    assert(pg.contains("id BIGINT PRIMARY KEY") && pg.contains("at TIMESTAMPTZ"))
    val ch = WarehouseWriter.ddl(schema, "clickhouse")
    assert(ch.contains("name String"))
  }

  test("dialect catalogue covers every reference-named warehouse") {
    // warehouseutils.go: RS BQ SNOWFLAKE POSTGRES CLICKHOUSE MSSQL
    // AZURE_SYNAPSE DELTALAKE (datalakes are the parquet write path)
    val expected = Seq("redshift", "bigquery", "snowflake", "postgres",
      "clickhouse", "mssql", "synapse", "deltalake")
    expected.foreach { dlt =>
      val m = WarehouseWriter.dialectTypes(dlt)
      // every catalogue type mapped — no silent TEXT fallback
      Seq("INT", "FLOAT", "BOOLEAN", "STRING", "TIMESTAMP", "DATE", "JSON")
        .foreach(t => assert(m.contains(t), s"$dlt missing $t"))
    }
    val schema = TableSchema("t", Seq(
      SchemaField("id", "INT", primaryKey = true),
      SchemaField("payload", "JSON"), SchemaField("at", "TIMESTAMP")))
    assert(WarehouseWriter.ddl(schema, "redshift").contains("payload SUPER"))
    assert(WarehouseWriter.ddl(schema, "bigquery").contains("id INT64"))
    assert(WarehouseWriter.ddl(schema, "snowflake").contains("payload VARIANT"))
    assert(WarehouseWriter.ddl(schema, "mssql").contains("at DATETIMEOFFSET"))
    assert(WarehouseWriter.ddl(schema, "deltalake").contains("at TIMESTAMP"))
  }

  test("WarehouseWriter.write partitions by column; parquet roundtrip works") {
    val dir = tempDir("graft_sink").toString
    val df = Seq((0L, "a", "click"), (1L, "a", "view"), (2L, "b", "click"))
      .toDF("id", "batch_key", "etype")
    WarehouseWriter.write(df, s"$dir/pq", Seq("etype"))
    assert(spark.read.parquet(s"$dir/pq").count() == 3)
  }

  test("RestBatcher builds payload envelopes of the configured size") {
    val df = (0 until 12).map(i => ("powerbi", i.toLong, s"e$i")).toDF("dest", "seq", "name")
    val env = RestBatcher.envelopes(df, "dest", "seq", size = 5)
      .orderBy("batch_id").collect()
    assert(env.length == 3)
    val body = env(0).getAs[String]("body")
    assert(body.startsWith("""{"payload":["""))
    assert(body.contains("\"e0\"") && body.contains("\"e4\"") && !body.contains("\"e5\""))
  }

  test("ConfigStore: bootstrap + CRUD round-trips through the Spark JDBC reader") {
    val url = "jdbc:derby:memory:graftconfig1;create=true"
    ConfigStore.bootstrap(url)
    ConfigStore.bootstrap(url) // idempotent — second bootstrap is a no-op
    ConfigStore.insertSource(url, 1L, "web-app", 1, "wk-a", 1, "{}")
    ConfigStore.insertSource(url, 2L, "mobile", 1, "wk-b", 1, "{}",
      status = "disabled")
    ConfigStore.insertDestination(url, 1L, "powerbi", 2, 1, "{}")
    ConfigStore.insertDestination(url, 2L, "keen", 2, 1, "{}",
      status = "disabled")
    ConfigStore.insertConnection(url, 1L, 1, 1, """[{"op":"hide"}]""")
    ConfigStore.insertConnection(url, 2L, 1, 2) // → disabled destination
    ConfigStore.insertConnection(url, 3L, 2, 1) // ← disabled source
    assert(ConfigStore.sources(spark, url).count() == 2)
    assert(ConfigStore.destinations(spark, url).count() == 2)
    assert(ConfigStore.connections(spark, url).count() == 3)
    // auth dim: only the enabled write key survives
    val keys = ConfigStore.enabledWriteKeys(spark, url)
      .collect().map(_.getString(0)).toSeq
    assert(keys == Seq("wk-a"))
    // routing dim: connections touching a disabled side drop out
    val routes = ConfigStore.routingTable(spark, url).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(routes == Set(("wk-a", "web-app", "powerbi", """[{"op":"hide"}]""")))
    // the portal toggle: disabling the last enabled source empties both
    ConfigStore.setSourceStatus(url, 1L, "disabled")
    assert(ConfigStore.enabledWriteKeys(spark, url).count() == 0)
    assert(ConfigStore.routingTable(spark, url).count() == 0)
  }
}

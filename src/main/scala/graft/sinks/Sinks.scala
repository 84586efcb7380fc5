package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.model.{SchemaField, TableSchema}

/** Destination-side writers (SURVEY.md §2.D).
  *
  * The reference's destination catalogue (kassette-server
  * destinations/warehouseutils.go: RS/BQ/SNOWFLAKE/POSTGRES/CLICKHOUSE/
  * MSSQL/AZURE_SYNAPSE/DELTALAKE/S3+GCS+AZURE datalake) reduces to
  * two delivery shapes here, re-expressed Spark-first:
  *  - warehouse table: partitioned columnar write + dialect DDL,
  *  - REST batch envelopes (integrations/{powerbi,anaplan,keen}:
  *    `{"payload":[...]}` bodies) — materialized as JSON rows ready
  *    for any HTTP egress layer.
  */
object WarehouseWriter {

  /** Kassette catalogue type → warehouse dialect type — the FULL
    * destination catalogue warehouseutils.go names (RS / BQ /
    * SNOWFLAKE / POSTGRES / CLICKHOUSE / MSSQL / AZURE_SYNAPSE /
    * DELTALAKE; the three datalakes are the parquet [[write]] path —
    * object stores take files, not DDL). Mapping shape mirrors
    * azure-synapse.go:31 `kassetteDataTypesMapToMssql`; string width
    * 512 follows its `mssqlStringLengthLimit`. */
  val dialectTypes: Map[String, Map[String, String]] = Map(
    "postgres" -> Map("INT" -> "BIGINT", "FLOAT" -> "DOUBLE PRECISION",
      "BOOLEAN" -> "BOOLEAN", "STRING" -> "TEXT", "TIMESTAMP" -> "TIMESTAMPTZ",
      "DATE" -> "DATE", "JSON" -> "JSONB"),
    "redshift" -> Map("INT" -> "BIGINT", "FLOAT" -> "DOUBLE PRECISION",
      "BOOLEAN" -> "BOOLEAN", "STRING" -> "VARCHAR(512)",
      "TIMESTAMP" -> "TIMESTAMPTZ", "DATE" -> "DATE", "JSON" -> "SUPER"),
    "bigquery" -> Map("INT" -> "INT64", "FLOAT" -> "FLOAT64",
      "BOOLEAN" -> "BOOL", "STRING" -> "STRING",
      "TIMESTAMP" -> "TIMESTAMP", "DATE" -> "DATE", "JSON" -> "JSON"),
    "snowflake" -> Map("INT" -> "NUMBER(38,0)", "FLOAT" -> "DOUBLE",
      "BOOLEAN" -> "BOOLEAN", "STRING" -> "VARCHAR",
      "TIMESTAMP" -> "TIMESTAMP_TZ", "DATE" -> "DATE", "JSON" -> "VARIANT"),
    "mssql" -> Map("INT" -> "BIGINT", "FLOAT" -> "DECIMAL(28,10)",
      "BOOLEAN" -> "BIT", "STRING" -> "VARCHAR(512)",
      "TIMESTAMP" -> "DATETIMEOFFSET", "DATE" -> "DATE",
      "JSON" -> "NVARCHAR(MAX)"),
    "synapse" -> Map("INT" -> "BIGINT", "FLOAT" -> "FLOAT",
      "BOOLEAN" -> "BIT", "STRING" -> "NVARCHAR(MAX)",
      "TIMESTAMP" -> "DATETIMEOFFSET", "DATE" -> "DATE",
      "JSON" -> "NVARCHAR(MAX)"),
    "clickhouse" -> Map("INT" -> "Int64", "FLOAT" -> "Float64",
      "BOOLEAN" -> "UInt8", "STRING" -> "String",
      "TIMESTAMP" -> "DateTime64(3)", "DATE" -> "Date",
      "JSON" -> "String"),
    "deltalake" -> Map("INT" -> "BIGINT", "FLOAT" -> "DOUBLE",
      "BOOLEAN" -> "BOOLEAN", "STRING" -> "STRING",
      "TIMESTAMP" -> "TIMESTAMP", "DATE" -> "DATE", "JSON" -> "STRING"),
    // embedded Derby — the in-JVM test database for the JDBC sink
    "derby" -> Map("INT" -> "BIGINT", "FLOAT" -> "DOUBLE",
      "BOOLEAN" -> "BOOLEAN", "STRING" -> "VARCHAR(4000)",
      "TIMESTAMP" -> "TIMESTAMP", "DATE" -> "DATE", "JSON" -> "CLOB"))

  /** CREATE TABLE DDL for a destination schema in a target dialect
    * (azure-synapse.go CreateTable analogue). `ifNotExists = false`
    * for dialects without the clause (Derby) — JdbcSink.createTable
    * then guards via JDBC metadata instead. */
  def ddl(schema: TableSchema, dialect: String,
          ifNotExists: Boolean = true): String = {
    val types = dialectTypes(dialect)
    val cols = schema.fields.map { case SchemaField(n, t, pk) =>
      s"  $n ${types.getOrElse(t.toUpperCase, "TEXT")}" + (if (pk) " PRIMARY KEY" else "")
    }
    val clause = if (ifNotExists) "IF NOT EXISTS " else ""
    s"CREATE TABLE $clause${schema.tableName} (\n${cols.mkString(",\n")}\n)"
  }

  /** Partitioned columnar write — the warehouse-load path. At 100 TB
    * the partition column choice IS the query-pruning strategy. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }
}

object RestBatcher {
  /** Build `{"payload":[...]}` REST bodies: one row per micro-batch
    * (integrations/types.go BatchPayloadT; powerbi/anaplan Send).
    * Returns (destCol, batch_id, body) — the egress layer POSTs
    * `body` verbatim. A frame that is one task's work (every live
    * micro-batch of the service's size) is batched on one partition by
    * [[graft.operators.Router.microBatch]], so the aggregation adds no
    * exchange and the numbering window, the bodies and a consumer's
    * POSTs run in one stage; a wider frame aggregates behind one
    * shuffle on (dest, batch). */
  def envelopes(df: DataFrame, destCol: String, orderCol: String,
                size: Int): DataFrame =
    graft.operators.Router.microBatch(df, destCol, orderCol, size)
      .groupBy(col(destCol), col("batch_id"))
      .agg(to_json(struct(
        sort_array(collect_list(struct(col(orderCol), struct(df.columns.map(col): _*).as("evt"))))
          .getField("evt").as("payload"))).as("body"))
}

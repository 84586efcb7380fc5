package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format-pluggable batch readers — the reference's source catalogue
  * is config-driven (kassette-server backendconfig/configdb.go keeps
  * per-source `config` JSON with access type / format); here a source
  * descriptor maps onto Spark's DataSource V2 readers so every format
  * gets pushdown/pruning for free where the format supports it.
  */
object CatalogReader {

  /** Source descriptor (the `source_config` row analogue). */
  final case class SourceSpec(
      format: String, // parquet | json | csv | jdbc
      path: String = "",
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty)

  def read(spark: SparkSession, spec: SourceSpec): DataFrame = {
    val r0 = spark.read.format(spec.format).options(spec.options)
    val r = spec.schema.fold(r0)(r0.schema)
    spec.format match {
      // jdbc reads from options (url/dbtable) — no path. Config shape
      // mirrors integrations/postgres/main.go connection config; not
      // exercisable in this container (no DB), but the spec→reader
      // wiring is the same code path as the file formats.
      case "jdbc" => r.load()
      case _ => r.load(spec.path)
    }
  }

  /** Streaming source descriptor — the catalogue's queue/stream rows
    * (schemas/catalogue.yaml: Kafka, AMQP, Javascript SDK). `kafka`
    * carries the Spark Kafka connector option shape
    * (kafka.bootstrap.servers / subscribe) — config-only in this
    * container (no connector jar / broker), the same wiring as the
    * file and rate formats which ARE exercised in specs. */
  final case class StreamSpec(
      format: String, // parquet | json | csv | rate | kafka
      path: String = "",
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty)

  def readStream(spark: SparkSession, spec: StreamSpec): DataFrame = {
    val r0 = spark.readStream.format(spec.format).options(spec.options)
    val r = spec.schema.fold(r0)(r0.schema)
    spec.format match {
      case "kafka" | "rate" => r.load() // option-driven, no path
      case _ => r.load(spec.path)
    }
  }

  /** Default CSV options matching typical export feeds. */
  def csv(spark: SparkSession, path: String, header: Boolean = true,
          inferSchema: Boolean = false, schema: Option[StructType] = None): DataFrame =
    read(spark, SourceSpec("csv", path, schema,
      Map("header" -> header.toString, "inferSchema" -> inferSchema.toString)))

  def jsonLines(spark: SparkSession, path: String,
                schema: Option[StructType] = None): DataFrame =
    read(spark, SourceSpec("json", path, schema))
}

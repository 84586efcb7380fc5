package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._

/** The reference's rule engine re-expressed as plan-time Column
  * algebra (kassette-server processor/transformer.go:71-190
  * transformBatchPayload). The Go code loops rules per field per
  * record; here rules compile into the logical plan once, so Catalyst
  * pushes the FieldDelete filters into the scan and prunes hidden
  * columns out of the read schema.
  *
  * Order of application mirrors the reference: source conversion →
  * FIELDDELETING record filter → FIELDHIDING → FIELDMAP rename →
  * destination-schema projection.
  */
object TransformRules {

  /** System rules always appended (transformer.go:21-27). */
  val systemRules: Seq[Rule] = Seq(FieldHide("anonymousId"))

  /** `df`'s cached blocks, when it has them, are what every rule
    * reads ([[org.apache.spark.sql.graftbridge.ColumnBridge.pinCached]]):
    * per-destination branches of one persisted micro-batch, unioned,
    * all read the micro-batch once instead of re-running the plan under
    * it. Consume the result before unpersisting `df`. */
  def apply(input: DataFrame, rules: Seq[Rule]): DataFrame = {
    val df = org.apache.spark.sql.graftbridge.ColumnBridge.pinCached(input)
    val all = rules ++ systemRules
    val deleted = all.collect { case FieldDelete(f, v) => (f, v) }
      .filter { case (f, _) => df.columns.contains(f) }
      .foldLeft(df) { case (d, (f, v)) =>
        // Typed compare per transformer.go:132-148: int rule-values
        // compare numerically, bools via "true"/"false", else string.
        // A plan-time string-cast compare reproduces all three.
        d.filter(!(col(f).cast(StringType) === lit(v)) || col(f).isNull)
      }
    val hidden = all.collect { case FieldHide(f) => f }
      .filter(deleted.columns.contains)
    val afterHide = if (hidden.isEmpty) deleted else deleted.drop(hidden: _*)
    all.collect { case FieldMap(from, to) => (from, to) }
      .filter { case (f, _) => afterHide.columns.contains(f) }
      .foldLeft(afterHide) { case (d, (f, t)) => d.withColumnRenamed(f, t) }
  }

  /** Per-connection transform fan-out for the live delivery loop —
    * the processor applying each connection's `transforms` config
    * before the router POSTs (processor.go hands transformBatchPayload
    * the connection's rules; configdb.go:167 stores them per
    * connection). `routing` is [[graft.sources.ConfigStore.routingTable]]'s
    * shape: (write_key, destination_name, transforms). The routing dim
    * is control-plane-tiny, so it collects to the driver and each
    * destination gets ONE compiled plan over the events it routes —
    * rules become Column algebra once per connection, never a
    * row-loop. Connections feeding the same destination union by name
    * (a rename on one connection pads the other's frame with nulls,
    * exactly the reference's per-connection payload divergence).
    * Returns destination → transformed frame. */
  def routedTransforms(events: DataFrame, routing: DataFrame): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.col
    val conns = routing
      .select("write_key", "destination_name", "transforms").collect()
    conns.groupBy(_.getString(1)).map { case (dest, rs) =>
      val branches = rs.toSeq.map { r =>
        apply(events.filter(col("write_key") === r.getString(0)),
          graft.model.Rule.fromJson(r.getString(2)))
      }
      dest -> branches.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Destination-schema projection (transformer.go:150-177): only
    * fields present in the destination schema survive, each converted
    * with the Kassette cast semantics; conversion failure → null
    * (transformer.go:168-173). */
  def projectToSchema(df: DataFrame, schema: TableSchema): DataFrame = {
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = schema.fields.collect {
      case SchemaField(name, ktype, _) if byName.contains(name) =>
        graft.functions.KassetteCasts.convert(col(name), byName(name), ktype).as(name)
    }
    df.select(cols: _*)
  }
}

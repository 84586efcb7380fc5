package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each runs
    * on [[GraftSession.tune]]d confs, so a caller-built session reads
    * the tables exactly as a [[GraftSession]] one does. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (graft.queries.Relational.queries ++
      graft.queries.Pipeline.queries ++
      graft.queries.LlmData.queries).map { case (name, fn) =>
      name -> ((s: SparkSession, d: String) => fn(GraftSession.tune(s), d))
    }

  /** DuckDB-equivalent SQL for the driver's correctness gate. Keys
    * absent here get a weaker rows-only check (non-SQL-expressible). */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.Pipeline.oracle ++
      graft.queries.LlmData.oracle

  /** Volume-tractable ALT oracles (array-native DuckDB rewrites,
    * semantically identical to their [[oracleSql]] twins) for the
    * dev-side N×-volume campaign. The driver gate ignores these. */
  def oracleAltSql: Map[String, String] =
    graft.queries.LlmData.oracleAlt
}
